"""The benchmark's own tests: seeded inputs, the span arithmetic, the
status-store counter reader and the declared metric set.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import filecmp
import json
import os

import pytest

import datagen
from spans import StageCounters, Tracer
from workloads import WORKLOADS, tail

HERE = os.path.dirname(os.path.abspath(__file__))


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_day_batch_is_a_function_of_the_seed(tmp_path):
    args = dict(n_files=3, rows_per_file=500)
    one = datagen.write_day_batch(str(tmp_path / "a"), 7, **args)
    datagen.write_day_batch(str(tmp_path / "b"), 7, **args)
    other = datagen.write_day_batch(str(tmp_path / "c"), 8, **args)
    assert _same_files(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_files(str(tmp_path / "a"), str(tmp_path / "c"))
    assert one.gold != other.gold


def test_day_batch_plants_the_fixture_dirt(tmp_path):
    exp = datagen.write_day_batch(str(tmp_path), 3, rows_per_file=1_000)
    rows = sum(f.data_rows for f in exp.files)
    assert exp.raw_rows == rows
    # FIXTURES.md: ~30% unparseable timestamps, structural and business rejects
    assert 0.25 < sum(f.timestamp_rejects for f in exp.files) / rows < 0.35
    assert all(f.structural_rejects and f.business_rejects and f.duplicates_removed for f in exp.files)
    # cross-file replays: about 5% of the ids, each keeping the later version
    assert 0.03 < exp.replays / len(exp.gold) < 0.07
    assert len(exp.gold) == exp.silver_rows - exp.replays
    heads = [open(os.path.join(tmp_path, f.name), encoding="utf-8").readline() for f in exp.files]
    assert {next(d for d in ",;|\t" if h.count(d) >= 5) for h in heads} == {";", "\t"}
    assert any(h.startswith("\ufeff") for h in heads)


def test_self_time_subtracts_children():
    tracer = Tracer(True)
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
        with tracer.span("inner"):
            pass
    outer, a, b = tracer.spans
    assert a.parent == b.parent == 0 and outer.parent is None
    assert tracer.self_times()[0] == pytest.approx(outer.duration - a.duration - b.duration)


def test_disabled_tracer_records_nothing():
    tracer = Tracer(False)
    with tracer.span("x") as s:
        assert s is None
    assert tracer.spans == []


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(21)]
    value, pct = tail(xs)
    assert value == 10.0 and sum(x > value for x in xs) == 10
    assert pct == 50.0


def test_declared_metrics_match_the_code():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def test_counters_see_the_aqe_map_stage(spark):
    """A two-stage aggregate under AQE runs its map stage as a job of its
    own; the reader must count that job, its stage and its tasks."""
    counters = StageCounters(spark)
    tracer = Tracer(True, counters)
    with tracer.span("agg") as span:
        (
            spark.range(0, 10_000, 1, 4)
            .selectExpr("id % 10 AS k")
            .groupBy("k")
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    c = span.counters
    assert c["jobs"] == 2  # the map-stage job plus the result job
    assert c["stages"] == 2  # the result job's copy of the map stage is skipped
    assert c["skipped_stages"] == 1
    assert c["tasks"] >= 5  # four map tasks and at least one reduce task
    assert c["shuffle_write_mb"] > 0 and c["failed_tasks"] == 0
    with tracer.span("nothing") as empty:
        pass
    assert empty.counters["jobs"] == empty.counters["tasks"] == 0
