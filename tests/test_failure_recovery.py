"""Failure-injection: lake invariants after a crash mid-silver-write.

The lake's crash model (ingest.py::ingest_pending docstring, mirroring the
reference's at-least-once + idempotent-overwrite intent, docs/gold_job.md:
32-35): a run that dies after writing SOME silver files but BEFORE its
ledger append simply reprocesses the whole file on the next run. The
partial silver rows from the dead run remain as duplicates in silver, and
the gold keep-latest window (date, transaction_id) absorbs them — gold is
exactly-once however many times ingest crashed and retried.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.ingest import ingest_file, ingest_pending
from retail_aws_etl_pipeline_spark.lake import LakeLayout
from retail_aws_etl_pipeline_spark.operators.compact import compact_pending

HEADER = "transaction_id,store_id,timestamp,item_id,quantity,unit_price,revenue"


def _rows(ids):
    # 3 distinct dates, valid DQ (revenue == qty * price)
    return [
        f"T{i:04d},S{i % 3},2025-07-{10 + i % 3:02d} 10:0{i % 6}:00,ITEM{i},2,5.00,10.00"
        for i in ids
    ]


def _write_csv(path, ids):
    with open(path, "w") as f:
        f.write(HEADER + "\n")
        f.write("\n".join(_rows(ids)) + "\n")


def test_crash_midwrite_then_reingest_converges(spark, tmp_path):
    lake = LakeLayout(str(tmp_path / "lake"))
    incoming = tmp_path / "incoming"
    incoming.mkdir()

    # The dead run: ingested only the first 10 rows of the file (its silver
    # append completed for them, then the process died before the ledger
    # append). Simulated by ingesting a truncated copy with archive=False —
    # byte-identical rows, same silver layout, no ledger entry.
    partial = tmp_path / "partial.csv"
    _write_csv(partial, range(10))
    crashed = ingest_file(
        spark,
        str(partial),
        lake,
        ingest_run_id="run_crashed",
        ingest_ts=F.lit("2025-07-20 00:00:00").cast("timestamp"),
        archive=False,
        write_reject_csv=False,
    )
    assert crashed.counts["good_rows"] == 10

    # Recovery: the scheduler re-lists incoming, finds the file unledgered,
    # reprocesses it in full.
    _write_csv(incoming / "sales_full.csv", range(30))
    results = ingest_pending(
        spark,
        str(incoming),
        lake,
        ingest_ts=F.lit("2025-07-21 00:00:00").cast("timestamp"),
        write_reject_csv=False,
    )
    assert [r.status for r in results] == ["ok"]
    assert results[0].counts["good_rows"] == 30

    # Silver carries the crash debris: 10 duplicate rows from the dead run.
    silver = spark.read.parquet(lake.processed)
    assert silver.count() == 40
    assert silver.select("ingest_run_id").distinct().count() == 2

    # Gold converges to exactly-once regardless.
    compact_pending(spark, lake, max_partitions=100, write_audit=True)
    gold = spark.read.option("basePath", lake.gold).parquet(lake.gold)
    assert gold.count() == 30
    assert gold.select("transaction_id").distinct().count() == 30
    # keep-latest picked the recovery run's rows for the overlapping ids
    overlap = gold.filter(F.col("transaction_id") < "T0010")
    assert overlap.count() == 10
    assert {r["ingest_run_id"] for r in overlap.select("ingest_run_id").collect()} == {
        results[0].ingest_run_id
    }

    # Audit metrics account for the duplicates the window removed.
    audit = [
        json.load(open(os.path.join(lake.audit, f)))
        for f in sorted(os.listdir(lake.audit))
        if f.startswith("metrics_")
    ]
    assert sum(m["duplicate_rows_removed"] for m in audit) == 10
    assert sum(m["rows_after_dedup"] for m in audit) == 30


def test_recompaction_after_late_reingest_is_idempotent(spark, tmp_path):
    """A partition compacted BEFORE the retry arrives must be recompactable
    to the same exactly-once state (force_dates = the reference's
    --force_dates rerun path, incremental_auto_compaction.py:137-143)."""
    lake = LakeLayout(str(tmp_path / "lake"))
    incoming = tmp_path / "incoming"
    incoming.mkdir()

    _write_csv(incoming / "day1.csv", range(10))
    ingest_pending(
        spark,
        str(incoming),
        lake,
        ingest_ts=F.lit("2025-07-20 00:00:00").cast("timestamp"),
        write_reject_csv=False,
    )
    compact_pending(spark, lake, max_partitions=100, write_audit=False)
    assert spark.read.parquet(lake.gold).count() == 10

    # Late redelivery of the same rows under a new file name (at-least-once
    # transport): silver gains dups, the already-compacted dates need a
    # forced recompaction — and converge to the same 10 rows.
    _write_csv(incoming / "day1_redelivered.csv", range(10))
    ingest_pending(
        spark,
        str(incoming),
        lake,
        ingest_ts=F.lit("2025-07-22 00:00:00").cast("timestamp"),
        write_reject_csv=False,
    )
    dates = [
        d.split("=", 1)[1] for d in os.listdir(lake.processed) if d.startswith("date=")
    ]
    compact_pending(spark, lake, force_dates=dates, write_audit=False)
    gold = spark.read.parquet(lake.gold)
    assert gold.count() == 10
    assert gold.select("transaction_id").distinct().count() == 10


def _write_csv_with_rejects(path, good_ids, n_bad=2):
    with open(path, "w") as f:
        f.write(HEADER + "\n")
        f.write("\n".join(_rows(good_ids)) + "\n")
        for i in range(n_bad):
            # revenue != qty * price → data-quality reject
            f.write(f"TBAD{i:02d},S0,2025-07-10 10:00:00,ITEMX{i},2,5.00,99.99\n")


@pytest.mark.parametrize("commit", ["direct", "manifest"])
def test_quarantined_run_leaves_no_partial_silver_rows(spark, tmp_path, commit):
    """ADVICE r1: a sink that fails after the silver append leaves that
    run's rows readable (committer v2 publishes at TASK commit; a manifest
    append has already flipped its pointer) while the source file goes to
    rejected/system and is never retried. The quarantine path must remove
    the run's rows so a rejected file contributes ZERO silver rows — while
    other runs' rows in the same partitions survive."""
    from retail_aws_etl_pipeline_spark.operators.compact import read_silver

    lake = LakeLayout(str(tmp_path / "lake"), commit=commit)

    # healthy run A shares dates with the doomed run
    ok_csv = tmp_path / "ok.csv"
    _write_csv(ok_csv, range(10))
    ok = ingest_file(
        spark, str(ok_csv), lake,
        ingest_run_id="run_ok",
        ingest_ts=F.lit("2025-07-20 00:00:00").cast("timestamp"),
        archive=False, write_reject_csv=False,
    )
    assert ok.counts["good_rows"] == 10

    _sabotage_reject_sink(tmp_path / "lake")
    doomed = tmp_path / "doomed.csv"
    _write_csv_with_rejects(doomed, range(100, 110))
    with pytest.raises(Exception):
        ingest_file(
            spark, str(doomed), lake,
            ingest_run_id="run_doomed",
            ingest_ts=F.lit("2025-07-21 00:00:00").cast("timestamp"),
            archive=True, write_reject_csv=False,
        )

    # the doomed file is quarantined...
    system_dir = lake.rejected("system")
    assert any(n.startswith("doomed.csv") for n in os.listdir(system_dir))
    # ...and silver holds exactly run A's rows — no partial debris
    silver = read_silver(spark, lake)
    assert silver.filter(F.col("ingest_run_id") == "run_doomed").count() == 0
    assert silver.count() == 10
    assert {r["ingest_run_id"] for r in silver.select("ingest_run_id").distinct().collect()} == {
        "run_ok"
    }


def _sabotage_reject_sink(lake_root):
    """A FILE where the data-quality reject dir must go: the reject write
    fails AFTER the silver append already committed."""
    reject_parent = lake_root / "rejected"
    reject_parent.mkdir(parents=True, exist_ok=True)
    (reject_parent / "data_quality").write_text("not a directory")


def test_failed_batch_quarantines_every_file_past_the_gate(spark, tmp_path):
    """A batched chunk that fails in a sink fails as a whole, like a batch
    of one: both files move to rejected/system with reason files, no silver
    row of either run survives, and nothing of the chunk is ledgered."""
    lake = LakeLayout(str(tmp_path / "lake"))
    ok_csv = tmp_path / "ok.csv"
    _write_csv(ok_csv, range(10))
    kw = dict(archive=False, write_reject_csv=False)
    ingest_file(spark, str(ok_csv), lake, ingest_run_id="run_ok", **kw)

    _sabotage_reject_sink(tmp_path / "lake")
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    _write_csv(incoming / "day1.csv", range(100, 110))  # clean, shares dates with run_ok
    _write_csv_with_rejects(incoming / "day2.csv", range(200, 210))
    with pytest.raises(Exception):
        ingest_pending(spark, str(incoming), lake, batch_size=2, write_reject_csv=False)

    assert os.listdir(incoming) == []
    names = os.listdir(lake.rejected("system"))
    for source in ("day1.csv", "day2.csv"):
        moved = [n for n in names if n.startswith(source) and not n.endswith("_reason.json")]
        assert len(moved) == 1 and f"{moved[0]}_reason.json" in names
    silver = spark.read.parquet(lake.processed)
    assert {r["ingest_run_id"] for r in silver.select("ingest_run_id").distinct().collect()} == {
        "run_ok"
    }
    assert silver.count() == 10
    assert not os.path.exists(os.path.join(lake.root, "ingest_ledger.jsonl"))


@pytest.mark.parametrize("commit", ["direct", "manifest"])
def test_purge_deletes_now_empty_partitions(spark, tmp_path, commit):
    """Dates populated ONLY by the failed run must disappear from silver
    entirely (an overwrite can't rewrite a partition to empty)."""
    from retail_aws_etl_pipeline_spark.operators.compact import read_silver

    lake = LakeLayout(str(tmp_path / "lake"), commit=commit)
    csv = tmp_path / "solo.csv"
    _write_csv(csv, range(6))
    ingest_file(
        spark, str(csv), lake,
        ingest_run_id="run_solo",
        ingest_ts=F.lit("2025-07-20 00:00:00").cast("timestamp"),
        archive=False, write_reject_csv=False,
    )
    assert read_silver(spark, lake).count() == 6
    purged = lake.silver_table.undo_append(spark, ["run_solo"])
    assert purged == 6
    assert lake.silver_table.partitions() == []
    assert [d for d in os.listdir(lake.processed) if d.startswith("date=")] == []


def test_purge_raises_on_corrupt_silver(spark, tmp_path):
    """A silver that cannot be read is a real failure, not "nothing to
    purge": the direct undo of a failed append raises (into ingest_file's
    "silver purge ... also failed" log) instead of reporting 0 rows purged."""
    import pytest

    lake = LakeLayout(str(tmp_path / "lake"))
    csv = tmp_path / "ok.csv"
    _write_csv(csv, range(6))
    ingest_file(
        spark, str(csv), lake,
        ingest_run_id="run_ok",
        ingest_ts=F.lit("2025-07-20 00:00:00").cast("timestamp"),
        archive=False, write_reject_csv=False,
    )
    parts = [
        os.path.join(root, name)
        for root, _, names in os.walk(lake.processed)
        for name in names
        if name.startswith("part-")
    ]
    assert parts
    for path in parts:
        with open(path, "wb") as f:
            f.write(b"not a parquet file")
        crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    with pytest.raises(Exception):
        lake.silver_table.undo_append(spark, ["run_failed"])


# ---------------------------------------------------------------------------
# Manifest commit protocol (object-store-safe silver/gold writes, ROADMAP #3)
# ---------------------------------------------------------------------------


def _mk_batch(spark, run_id, ids, date="2025-07-10"):
    return spark.createDataFrame(
        [(f"T{i:04d}", run_id, date) for i in ids],
        ["transaction_id", "ingest_run_id", "date"],
    )


def test_manifest_crash_midwrite_leaves_prewrite_snapshot(spark, tmp_path):
    """Crash at EVERY commit phase must leave readers at the pre-write
    snapshot: (a) during the data write, (b) after data / before manifest,
    (c) after manifest / before the LATEST pointer flip."""
    import pytest

    from retail_aws_etl_pipeline_spark import lake_manifest as LM

    t = LM.ManifestedTable(str(tmp_path / "silver"), partition_col="date")
    t.append(_mk_batch(spark, "run1", range(10)))
    assert t.read(spark).count() == 10
    v1 = t.snapshot()["version"]

    # (a)+(b): die before _publish — simulate by staging without publishing
    t._stage(_mk_batch(spark, "run2", range(10, 20)))
    assert t.snapshot()["version"] == v1
    assert t.read(spark).count() == 10  # pre-write snapshot intact

    # (c): manifest file written, pointer flip dies
    orig = LM._atomic_write

    def die_on_pointer(path, content):
        if path.endswith(LM.LATEST):
            raise OSError("injected crash before pointer update")
        orig(path, content)

    LM._atomic_write = die_on_pointer
    try:
        with pytest.raises(OSError):
            t.append(_mk_batch(spark, "run3", range(20, 30)))
    finally:
        LM._atomic_write = orig
    assert t.snapshot()["version"] == v1
    assert t.read(spark).count() == 10

    # recovery: simply re-run the commit; gc_manifests reclaims the debris
    # manifest from crash (c), then vacuum reclaims both crashed commit
    # dirs — retention is manifest-driven, so gc-then-vacuum is the pair
    t.append(_mk_batch(spark, "run3", range(20, 30)))
    assert t.read(spark).count() == 20
    t.gc_manifests(keep_versions=1)
    removed = t.vacuum(min_age_seconds=0)
    assert len(removed) == 2  # the two crashed commit dirs
    assert t.read(spark).count() == 20  # vacuum never touches live data


def test_manifest_overwrite_partitions_semantics(spark, tmp_path):
    """Dynamic-partition-overwrite analog: partitions in the batch are
    replaced, others keep their files; reads never list directories."""
    from retail_aws_etl_pipeline_spark.lake_manifest import ManifestedTable

    t = ManifestedTable(str(tmp_path / "gold"), partition_col="date")
    t.append(_mk_batch(spark, "run1", range(5), date="2025-07-10"))
    t.append(_mk_batch(spark, "run1", range(5), date="2025-07-11"))
    assert t.partitions() == ["2025-07-10", "2025-07-11"]

    t.overwrite_partitions(_mk_batch(spark, "run2", range(3), date="2025-07-11"))
    df = t.read(spark)
    assert df.filter(F.col("date") == "2025-07-11").count() == 3
    assert {
        r["ingest_run_id"]
        for r in df.filter(F.col("date") == "2025-07-11").select("ingest_run_id").collect()
    } == {"run2"}
    # untouched partition still served from its original files
    assert df.filter(F.col("date") == "2025-07-10").count() == 5


def test_manifest_silver_ingest_end_to_end(spark, tmp_path):
    """A manifest-commit lake through the WHOLE pipeline: reference CSV
    → manifested silver (same class counts as the direct path) → manifested
    gold; views serve both zones from snapshots."""
    import shutil

    from retail_aws_etl_pipeline_spark.lake_manifest import ManifestedTable
    from retail_aws_etl_pipeline_spark.operators.compact import read_gold, read_silver
    from retail_aws_etl_pipeline_spark.plans.views import register_lake_views

    src = "/root/reference/sample_csv_files/sales_2024-10-16.csv"
    f = tmp_path / "sales.csv"
    shutil.copy(src, f)
    lake = LakeLayout(str(tmp_path / "lake"), commit="manifest")
    direct_lake = LakeLayout(str(tmp_path / "lake_direct"))

    f2 = tmp_path / "sales_direct.csv"
    shutil.copy(src, f2)
    direct = ingest_file(spark, str(f2), direct_lake, archive=False, write_reject_csv=False)
    result = ingest_file(spark, str(f), lake, archive=False, write_reject_csv=False)
    assert result.status == "ok"
    assert result.counts == direct.counts  # identical routing, different commit

    silver = read_silver(spark, lake)
    assert silver.count() == direct.counts["good_rows"]
    assert ManifestedTable(lake.processed).exists()
    # no hive dirs at the root: data lives under data/<commit>/
    assert not [d for d in os.listdir(lake.processed) if d.startswith("date=")]

    summary = compact_pending(spark, lake, max_partitions=1000, write_audit=False)
    assert summary["processed_partitions_count"] > 0
    gold = read_gold(spark, lake)
    assert gold.groupBy("date", "transaction_id").count().filter("count>1").count() == 0

    register_lake_views(spark, lake)
    assert spark.sql("SELECT COUNT(*) c FROM silver_sales").collect()[0]["c"] == silver.count()
    assert spark.sql("SELECT COUNT(*) c FROM fact_sales").collect()[0]["c"] == gold.count()


def test_manifest_ingest_crash_publishes_nothing(spark, tmp_path):
    """A crash between the silver stage and publish leaves the snapshot
    unchanged; the quarantine path vacuums the staged debris."""
    import pytest

    from retail_aws_etl_pipeline_spark import lake_manifest as LM

    lake = LakeLayout(str(tmp_path / "lake"), commit="manifest")
    f1 = tmp_path / "day1.csv"
    _write_csv(f1, range(10))
    ingest_file(spark, str(f1), lake, archive=False, write_reject_csv=False)
    t = LM.ManifestedTable(lake.processed)
    v1 = t.snapshot()["version"]

    f2 = tmp_path / "day2.csv"
    _write_csv(f2, range(10, 20))
    orig = LM.ManifestedTable._publish

    def die(self, files, parent_version):
        raise OSError("injected crash before publish")

    LM.ManifestedTable._publish = die
    try:
        with pytest.raises(OSError):
            ingest_file(spark, str(f2), lake, archive=False, write_reject_csv=False)
    finally:
        LM.ManifestedTable._publish = orig

    assert t.snapshot()["version"] == v1  # readers never saw the crash
    assert t.read(spark).count() == 10
    # quarantine vacuumed the staged-but-unpublished commit dir
    live = {e["path"].split("/", 2)[1] for e in t.snapshot()["files"]}
    on_disk = set(os.listdir(os.path.join(lake.processed, "data")))
    assert on_disk == live


def test_manifest_rewrite_folds_commits(spark, tmp_path):
    from retail_aws_etl_pipeline_spark.lake_manifest import ManifestedTable

    t = ManifestedTable(str(tmp_path / "t"), partition_col="date")
    for w in range(4):
        t.append(_mk_batch(spark, f"run{w}", range(w * 5, w * 5 + 5)))
    commits = {e["path"].split("/", 2)[1] for e in t.snapshot()["files"]}
    assert len(commits) == 4
    before = {(r["transaction_id"], r["date"]) for r in t.read(spark).collect()}
    t.rewrite(spark)
    t.gc_manifests(keep_versions=1)  # pre-fold history keeps data alive until GC'd
    t.vacuum(min_age_seconds=0)
    after_commits = {e["path"].split("/", 2)[1] for e in t.snapshot()["files"]}
    assert len(after_commits) == 1
    assert {(r["transaction_id"], r["date"]) for r in t.read(spark).collect()} == before
    assert set(os.listdir(os.path.join(str(tmp_path / "t"), "data"))) == after_commits


def test_manifest_concurrent_writers_lose_nothing(spark, tmp_path):
    """Concurrent ingest + compact commit race (VERDICT r3 item #6): two
    writers that both staged before either published must BOTH survive —
    the merge runs against the snapshot under the commit lock, not against
    the snapshot each writer saw when it started."""
    import threading

    from retail_aws_etl_pipeline_spark.lake_manifest import ManifestedTable

    t = ManifestedTable(str(tmp_path / "t"), partition_col="date")
    t.append(_mk_batch(spark, "base", range(5)))

    # interleaved: both stage (seeing v1), then commit in either order
    errs: list[Exception] = []

    def writer(run_id, ids, date):
        try:
            t.append(_mk_batch(spark, run_id, ids, date=date))
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    threads = [
        threading.Thread(target=writer, args=(f"w{i}", range(10 + i * 10, 20 + i * 10), f"2025-07-{11 + i}"))
        for i in range(4)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    snap = t.snapshot()
    assert snap["version"] == 5  # base + 4 concurrent commits, none lost
    df = t.read(spark)
    assert df.count() == 5 + 4 * 10
    runs = {r["ingest_run_id"] for r in df.select("ingest_run_id").collect()}
    assert runs == {"base", "w0", "w1", "w2", "w3"}


def test_manifest_version_file_never_overwritten(spark, tmp_path):
    """O_EXCL version claim: debris from a crashed commit (manifest file
    written, LATEST never flipped) is probed past, not overwritten — the
    next commit claims the next free version number."""
    import json as _json

    from retail_aws_etl_pipeline_spark import lake_manifest as LM

    t = LM.ManifestedTable(str(tmp_path / "t"), partition_col="date")
    t.append(_mk_batch(spark, "run1", range(5)))
    # orphan v2 manifest: a writer died after the manifest write
    mdir = os.path.join(str(tmp_path / "t"), LM.MANIFEST_DIR)
    orphan = os.path.join(mdir, "v00000002.json")
    with open(orphan, "w") as f:
        f.write(_json.dumps({"version": 2, "files": [{"path": "data/dead/x.parquet", "partition": None}]}))

    v = t.append(_mk_batch(spark, "run2", range(5, 10)))
    assert v == 3  # skipped the claimed-but-unpointered v2
    with open(orphan) as f:  # debris untouched
        assert _json.load(f)["files"][0]["path"] == "data/dead/x.parquet"
    assert t.read(spark).count() == 10


def test_manifest_rewrite_conflicts_instead_of_dropping(spark, tmp_path):
    """A fold staged against a stale snapshot must raise CommitConflict,
    never silently drop the commit that landed meanwhile."""
    import pytest

    from retail_aws_etl_pipeline_spark import lake_manifest as LM

    t = LM.ManifestedTable(str(tmp_path / "t"), partition_col="date")
    t.append(_mk_batch(spark, "run1", range(5)))

    orig_commit = LM.ManifestedTable._commit

    def racing_commit(self, merge):
        # another writer lands between rewrite's stage and its commit
        LM.ManifestedTable._commit = orig_commit
        t.append(_mk_batch(spark, "run2", range(5, 10), date="2025-07-11"))
        return orig_commit(self, merge)

    LM.ManifestedTable._commit = racing_commit
    try:
        with pytest.raises(LM.CommitConflict):
            t.rewrite(spark)
    finally:
        LM.ManifestedTable._commit = orig_commit
    # nothing lost; retry folds cleanly
    assert t.read(spark).count() == 10
    t.rewrite(spark)
    assert t.read(spark).count() == 10


def test_compact_backlog_chunking(spark, tmp_path):
    """chunk_size splits a many-date backlog into independent plans: same
    gold as the one-plan path, per-chunk audit entries, and a crash between
    chunks resumes at the first uncompacted date."""
    import datetime as dt

    lake = LakeLayout(str(tmp_path / "lake"))
    base = dt.date(2025, 1, 1)
    rows = []
    for d in range(25):
        date = (base + dt.timedelta(days=d)).isoformat()
        for i in range(4):
            rows.append((f"T{d:03d}_{i}", "S1", f"{date} 10:00:00", date))
    silver = spark.createDataFrame(
        rows, ["transaction_id", "store_id", "ingest_ts", "date"]
    )
    silver.write.partitionBy("date").parquet(lake.processed)

    summary = compact_pending(
        spark, lake, max_partitions=1000, write_audit=True, chunk_size=10
    )
    assert summary["processed_partitions_count"] == 25
    assert summary["chunks"] == 3  # 10 + 10 + 5
    assert len(summary["results"]) == 25
    gold = spark.read.parquet(lake.gold)
    assert gold.count() == 100
    assert gold.select("date").distinct().count() == 25
    # per-date audit files exist for every chunk's dates
    audits = [f for f in os.listdir(lake.audit) if f.startswith("metrics_")]
    assert len(audits) == 25

    # "crash between chunks": wipe gold dates past the first chunk and
    # re-run incrementally — only the missing dates are compacted.
    import shutil

    for d in sorted(os.listdir(lake.gold)):
        if d.startswith("date=") and d > "date=2025-01-10":
            shutil.rmtree(os.path.join(lake.gold, d))
    resume = compact_pending(
        spark, lake, max_partitions=1000, write_audit=False, chunk_size=10
    )
    assert resume["processed_partitions_count"] == 15
    assert spark.read.parquet(lake.gold).select("date").distinct().count() == 25


def test_compact_pending_manifest_protocol_end_to_end(spark, tmp_path):
    """compact_pending on a manifest-commit lake: incremental selection
    reads partitions from the manifest, redelivery converges, and gold is
    snapshot-readable through read_gold."""
    from retail_aws_etl_pipeline_spark.operators.compact import read_gold, silver_partitions

    lake = LakeLayout(str(tmp_path / "lake"), commit="manifest")
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    _write_csv(incoming / "day1.csv", range(10))
    ingest_pending(
        spark, str(incoming), lake,
        ingest_ts=F.lit("2025-07-20 00:00:00").cast("timestamp"),
        write_reject_csv=False,
    )
    summary = compact_pending(spark, lake, max_partitions=100, write_audit=False)
    assert summary["processed_partitions_count"] == 3  # 3 distinct dates
    assert read_gold(spark, lake).count() == 10

    # incremental: nothing pending → no work, snapshot unchanged
    again = compact_pending(spark, lake, max_partitions=100, write_audit=False)
    assert again["processed_partitions_count"] == 0

    # late redelivery: forced recompaction converges to exactly-once
    _write_csv(incoming / "day1_redelivered.csv", range(10))
    ingest_pending(
        spark, str(incoming), lake,
        ingest_ts=F.lit("2025-07-22 00:00:00").cast("timestamp"),
        write_reject_csv=False,
    )
    compact_pending(spark, lake, force_dates=silver_partitions(lake), write_audit=False)
    gold = read_gold(spark, lake)
    assert gold.count() == 10
    assert gold.select("transaction_id").distinct().count() == 10


@pytest.mark.parametrize("commit", ["direct", "manifest"])
def test_pipeline_on_generated_csvs_under_either_commit(spark, tmp_path, commit):
    """The whole lake pipeline on generated CSVs — ``ingest_file``, then
    ``ingest_pending(batch_size=2)``, ``compact_pending`` and the views —
    gives the same per-file counts and the same silver and gold rows under
    either commit protocol (the in-repo twin of
    ``test_manifest_silver_ingest_end_to_end``)."""
    from retail_aws_etl_pipeline_spark.operators.compact import read_gold, read_silver
    from retail_aws_etl_pipeline_spark.plans.views import register_lake_views
    from tests.test_ingest_inline import COUNTS, SILVER, _write

    lake = LakeLayout(str(tmp_path / "lake"), commit=commit)
    inline = ingest_file(spark, _write(tmp_path / "sales_inline.csv"), lake, archive=False)
    assert inline.counts == COUNTS

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    days = {"day1.csv": range(0, 12), "day2.csv": range(6, 18), "day3.csv": range(18, 24)}
    for name, ids in days.items():
        _write_csv(incoming / name, ids)
    results = ingest_pending(spark, str(incoming), lake, batch_size=2)
    assert [(r.source_file, r.counts["good_rows"], r.counts["reject_rows"]) for r in results] == [
        (name, len(ids), 0) for name, ids in days.items()
    ]

    def gen(i):  # the business columns _rows writes for id i
        return (f"T{i:04d}", f"S{i % 3}", f"ITEM{i}", 2, 5.0, 10.0, f"2025-07-{10 + i % 3:02d}")

    cols = ["transaction_id", "store_id", "item_id", "quantity", "unit_price", "revenue"]
    inline_rows = [(r[0], r[1], r[3], r[5], r[6], r[7], r[12]) for r in SILVER]
    want_silver = sorted(
        [("sales_inline.csv",) + r for r in inline_rows]
        + [(name,) + gen(i) for name, ids in days.items() for i in ids]
    )
    silver = read_silver(spark, lake)
    got_silver = sorted(
        tuple(r) for r in silver.select("source_file", *cols, F.col("date").cast("string")).collect()
    )
    assert got_silver == want_silver

    summary = compact_pending(spark, lake, write_audit=False)
    assert summary["processed_partitions_count"] == 5  # 2 inline dates + 3 generated
    want_gold = sorted(set(inline_rows) | {gen(i) for i in range(24)})
    gold = read_gold(spark, lake)
    assert sorted(tuple(r) for r in gold.select(*cols, F.col("date").cast("string")).collect()) == want_gold

    register_lake_views(spark, lake)
    assert spark.sql("SELECT COUNT(*) c FROM silver_sales").collect()[0]["c"] == len(want_silver)
    assert spark.sql("SELECT COUNT(*) c FROM fact_sales").collect()[0]["c"] == len(want_gold)


def test_mixed_layouts_on_one_lake_root_raise(spark, tmp_path):
    """A lake whose zones hold the other protocol's layout raises instead
    of acknowledging rows no reader of the first layout sees: manifest
    silver and gold refuse direct ingest, batched ingest, compaction and
    upsert, and direct silver refuses a manifest ingest."""
    from retail_aws_etl_pipeline_spark.ingest import ingest_batch
    from retail_aws_etl_pipeline_spark.operators.compact import read_gold, read_silver, upsert_gold

    with pytest.raises(ValueError, match="direct.manifest"):
        LakeLayout(str(tmp_path / "lake"), commit="s3")
    files = []
    for n in range(4):
        files.append(str(tmp_path / f"day{n}.csv"))
        _write_csv(files[-1], range(10 * n, 10 * n + 10))
    kw = dict(archive=False, write_reject_csv=False)

    manifest = LakeLayout(str(tmp_path / "lake"), commit="manifest")
    direct = LakeLayout(manifest.root)
    assert ingest_file(spark, files[0], manifest, **kw).status == "ok"
    with pytest.raises(ValueError, match="manifested table"):
        ingest_file(spark, files[1], direct, **kw)
    # a misconfigured lake is not a bad file: the input stays in place
    with pytest.raises(ValueError, match="manifested table"):
        ingest_file(spark, files[1], direct, archive=True, write_reject_csv=False)
    assert os.path.exists(files[1])
    assert not os.path.exists(direct.rejected("system"))
    with pytest.raises(ValueError, match="manifested table"):
        ingest_batch(spark, [files[2]], direct, **kw)
    compact_pending(spark, manifest, write_audit=False)
    with pytest.raises(ValueError, match="manifested table"):
        compact_pending(spark, direct, write_audit=False)
    with pytest.raises(ValueError, match="manifested table"):
        upsert_gold(spark, direct, read_silver(spark, manifest))
    assert read_silver(spark, manifest).count() == 10
    assert read_gold(spark, manifest).count() == 10
    for zone in (manifest.processed, manifest.gold):
        assert not [d for d in os.listdir(zone) if d.startswith("date=")]

    other = LakeLayout(str(tmp_path / "other"))
    assert ingest_file(spark, files[3], other, **kw).status == "ok"
    with pytest.raises(ValueError, match="direct-layout partitions"):
        ingest_file(spark, files[1], LakeLayout(other.root, commit="manifest"), **kw)
    assert read_silver(spark, other).count() == 10
    assert not os.path.exists(os.path.join(other.processed, "_manifests"))


def test_gold_stream_refuses_a_manifest_lake(spark, tmp_path):
    """The silver file stream lists directories, which a manifest snapshot
    is not: both streaming gold entry points raise before ingesting a file
    or starting a query."""
    from retail_aws_etl_pipeline_spark.streaming.streams import (
        gold_upsert_stream,
        run_pipeline_available_now,
    )

    lake = LakeLayout(str(tmp_path / "lake"), commit="manifest")
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    _write_csv(incoming / "day1.csv", range(10))
    ck = str(tmp_path / "ck")
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="direct-commit lake"):
        gold_upsert_stream(spark, lake, ck)
    with pytest.raises(ValueError, match="direct-commit lake"):
        run_pipeline_available_now(spark, str(incoming), lake, ck)
    assert os.listdir(incoming) == ["day1.csv"]
    assert not os.path.exists(lake.root) and not os.path.exists(ck)
    assert len(spark.streams.active) == active


def _manifest_sites() -> set[str]:
    """Package modules (dotted, package-relative) that import
    ``lake_manifest`` or construct a ``ManifestedTable``, apart from
    ``lake_manifest`` itself."""
    import ast
    from pathlib import Path

    import retail_aws_etl_pipeline_spark as pkg

    root = Path(pkg.__file__).parent
    sites: set[str] = set()
    for path in sorted(root.rglob("*.py")):
        module = ".".join(path.relative_to(root).with_suffix("").parts)
        if module == "lake_manifest":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            imported = (
                [a.name for a in node.names] if isinstance(node, ast.Import) else
                [node.module or "", *(a.name for a in node.names)]
                if isinstance(node, ast.ImportFrom) else []
            )
            called = (
                getattr(node.func, "id", None) or getattr(node.func, "attr", None)
                if isinstance(node, ast.Call) else None
            )
            if any(n.split(".")[-1] == "lake_manifest" for n in imported) or called == "ManifestedTable":
                sites.add(module)
    return sites


def test_manifest_is_known_only_to_the_lake_module():
    """Only ``lake.py`` (``LakeTable``) imports ``lake_manifest`` or builds a
    ``ManifestedTable``: every other module reads and writes silver and
    gold through the lake, so the commit protocol is chosen in one place."""
    assert _manifest_sites() == {"lake"}


def test_manifest_gc_retention_and_debris(spark, tmp_path):
    """gc_manifests (VERDICT r4 item #6): (1) unpointered debris from a
    crash between the O_EXCL version claim and the LATEST flip is
    reclaimed; (2) superseded snapshots beyond the retention window are
    reclaimed; (3) the LIVE manifest is never a candidate — a GC pass can
    never strand readers, at any retention setting."""
    import pytest

    from retail_aws_etl_pipeline_spark import lake_manifest as LM

    t = LM.ManifestedTable(str(tmp_path / "t"), partition_col="date")
    for w in range(5):
        t.append(_mk_batch(spark, f"run{w}", range(w * 5, w * 5 + 5)))
    assert t.snapshot()["version"] == 5
    mdir = tmp_path / "t" / LM.MANIFEST_DIR

    # fault injection: crash BETWEEN the version-file claim and the pointer
    # flip — v6 exists on disk, LATEST still names v5
    orig = LM._atomic_write

    def die_on_pointer(path, content):
        if path.endswith(LM.LATEST):
            raise OSError("injected crash between claim and pointer flip")
        orig(path, content)

    LM._atomic_write = die_on_pointer
    try:
        with pytest.raises(OSError):
            t.append(_mk_batch(spark, "crash", range(50, 60)))
    finally:
        LM._atomic_write = orig
    assert (mdir / "v00000006.json").exists()  # claimed, unpointered
    assert t.snapshot()["version"] == 5  # readers unaffected

    removed = t.gc_manifests(keep_versions=3)
    assert "v00000006.json" in removed  # >live debris reclaimed
    assert {"v00000001.json", "v00000002.json"} <= set(removed)  # old history
    assert sorted(p.name for p in mdir.glob("v*.json")) == [
        "v00000003.json", "v00000004.json", "v00000005.json",
    ]
    t.vacuum(min_age_seconds=0)
    assert t.snapshot()["version"] == 5  # live snapshot fully intact
    assert t.read(spark).count() == 25

    # minimum retention: live alone survives, readers still fine
    t.gc_manifests(keep_versions=1)
    assert sorted(p.name for p in mdir.glob("v*.json")) == ["v00000005.json"]
    assert t.read(spark).count() == 25
    with pytest.raises(ValueError):
        t.gc_manifests(keep_versions=0)

    # the GC'd table commits normally; the freed v6 slot is reusable
    t.append(_mk_batch(spark, "after", range(100, 105)))
    assert t.snapshot()["version"] == 6
    assert t.read(spark).count() == 30


def test_manifest_vacuum_retention_spares_inflight_staging(spark, tmp_path):
    """vacuum's min_age_seconds guard: a freshly staged (not yet
    committed) commit dir belongs to an in-flight writer — a retention
    window must spare it; the default window reclaims it."""
    from retail_aws_etl_pipeline_spark import lake_manifest as LM

    t = LM.ManifestedTable(str(tmp_path / "t"), partition_col="date")
    t.append(_mk_batch(spark, "base", range(5)))
    t._stage(_mk_batch(spark, "inflight", range(5, 10)))  # writer mid-commit
    assert t.vacuum() == []  # conservative default window spares it
    assert t.vacuum(min_age_seconds=3600) == []  # so does an explicit hour
    assert len(t.vacuum(min_age_seconds=0)) == 1  # explicit opt-in reclaims
    assert t.read(spark).count() == 5


def test_manifest_time_travel_reads_and_retention(spark, tmp_path):
    """read(version=N): historical snapshots stay readable — including
    across an overwrite that supersedes their files — until gc_manifests
    reclaims them; vacuum never deletes data a retained manifest needs."""
    import pytest

    from retail_aws_etl_pipeline_spark import lake_manifest as LM

    t = LM.ManifestedTable(str(tmp_path / "t"), partition_col="date")
    t.append(_mk_batch(spark, "run1", range(5), date="2025-07-10"))        # v1
    t.append(_mk_batch(spark, "run2", range(5, 10), date="2025-07-11"))    # v2
    t.overwrite_partitions(_mk_batch(spark, "run3", range(3), date="2025-07-10"))  # v3

    assert t.read(spark).count() == 8   # 3 overwritten + 5 untouched
    assert t.read(spark, version=1).count() == 5
    assert {r["ingest_run_id"] for r in t.read(spark, version=1).collect()} == {"run1"}
    assert t.read(spark, version=2).count() == 10

    # vacuum with full history retained: v1/v2 still pin the superseded
    # run1 commit dir, so nothing is reclaimed and old reads keep working
    assert t.vacuum(min_age_seconds=0) == []  # manifest-pinned, not age-spared
    assert t.read(spark, version=2).count() == 10

    # retention to live-only: history becomes unreadable, THEN its data
    # becomes reclaimable — in that order, never the reverse
    t.gc_manifests(keep_versions=1)
    with pytest.raises(FileNotFoundError, match="v2"):
        t.snapshot(version=2)
    assert len(t.vacuum(min_age_seconds=0)) == 1  # run1's superseded commit dir
    assert t.read(spark).count() == 8  # live snapshot untouched throughout


def test_manifest_gc_debris_only_mode_keeps_history(spark, tmp_path):
    """gc_manifests(keep_versions=None) — the crash-recovery mode: >live
    debris goes, every historical snapshot stays time-travel readable."""
    import pytest

    from retail_aws_etl_pipeline_spark import lake_manifest as LM

    t = LM.ManifestedTable(str(tmp_path / "t"), partition_col="date")
    t.append(_mk_batch(spark, "run1", range(5)))
    t.append(_mk_batch(spark, "run2", range(5, 10)))

    orig = LM._atomic_write

    def die_on_pointer(path, content):
        if path.endswith(LM.LATEST):
            raise OSError("injected crash before pointer update")
        orig(path, content)

    LM._atomic_write = die_on_pointer
    try:
        with pytest.raises(OSError):
            t.append(_mk_batch(spark, "crash", range(10, 15)))
    finally:
        LM._atomic_write = orig

    removed = t.gc_manifests(keep_versions=None)
    assert removed == ["v00000003.json"]  # the debris, nothing else
    assert t.read(spark, version=1).count() == 5  # history intact
    assert t.read(spark).count() == 10


def test_manifest_vacuum_reader_grace_contract(spark, tmp_path):
    """VERDICT r5 #7 — the vacuum-under-reader race, both sides:

    (a) while ANY retained manifest references a version, its data
        survives vacuum regardless of age, so a pinned reader is safe;
    (b) after gc_manifests retires the manifest, only min_age_seconds
        protects a reader that resolved paths earlier — an aggressive
        min_age_seconds=0 maintenance pass under an active reader is the
        documented unsafe case and visibly breaks the read."""
    import pytest

    from retail_aws_etl_pipeline_spark import lake_manifest as LM

    t = LM.ManifestedTable(str(tmp_path / "t"), partition_col="date")
    t.append(_mk_batch(spark, "run1", range(5), date="2025-07-10"))        # v1
    t.overwrite_partitions(_mk_batch(spark, "run2", range(3), date="2025-07-10"))  # v2

    pinned = t.read(spark, version=1)  # lazy: paths resolve at action time
    assert pinned.count() == 5

    # (a) manifest retained -> vacuum(0) must spare the superseded commit
    assert t.vacuum(min_age_seconds=0) == []
    assert pinned.count() == 5

    # (b) manifest retired -> age grace is the ONLY shield left
    t.gc_manifests(keep_versions=1)
    assert t.vacuum() == []            # 1h default spares the young dir
    assert pinned.count() == 5         # reader unharmed within the window
    assert len(t.vacuum(min_age_seconds=0)) == 1  # aggressive pass reclaims
    with pytest.raises(Exception):     # and the pinned reader now breaks
        pinned.count()
    assert t.read(spark).count() == 3  # live snapshot stays intact


def test_compaction_swap_recovers_from_old_debris(spark, tmp_path):
    """A compaction that crashed between its two renames leaves a dead
    `.old` directory; the next compaction must clear it and proceed
    instead of failing its first rename forever (the feature delta
    table's stage-and-swap)."""
    from pyspark.sql import functions as F

    from retail_aws_etl_pipeline_spark.streaming.streams import (
        compact_feature_deltas,
        read_feature_snapshot,
    )

    delta_dir = str(tmp_path / "deltas")
    part = (
        spark.range(10)
        .select(
            F.col("id").alias("o_custkey"),
            F.lit(1).alias("n_orders"),
            (F.col("id") * 100).alias("cents_sum"),
            F.lit(1_000_000).alias("last_order_us"),
        )
        .withColumn("__batch_id", F.lit(0))
    )
    part.write.mode("overwrite").partitionBy("__batch_id").parquet(delta_dir)

    # simulate crash debris from a previous swap
    os.makedirs(delta_dir + ".old/junk", exist_ok=True)
    with open(delta_dir + ".old/junk/file", "w") as f:
        f.write("debris")

    n = compact_feature_deltas(spark, delta_dir, buckets=2)
    assert n == 10
    assert not os.path.exists(delta_dir + ".old")
    assert read_feature_snapshot(spark, delta_dir).count() == 10


def test_gold_upsert_stream_killed_midbatch_recovers(spark, tmp_path):
    """Hard mid-batch kill for the silver->gold upsert stream: the batch's
    gold merge commits but the checkpoint never records it; restart must
    replay it through the keep-latest merge with no duplicate keys and
    the same final gold as an uninterrupted run."""
    import shutil as sh

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from retail_aws_etl_pipeline_spark.ingest import ingest_file
    from retail_aws_etl_pipeline_spark.lake import LakeLayout
    from retail_aws_etl_pipeline_spark.operators.compact import upsert_gold
    from retail_aws_etl_pipeline_spark.schema import SILVER_SCHEMA
    from retail_aws_etl_pipeline_spark.streaming.streams import gold_upsert_stream

    lake = LakeLayout(str(tmp_path / "lake"))
    ck = str(tmp_path / "ck")
    src = "/root/reference/sample_csv_files/sales_2024-10-16.csv"
    for name in ("w1.csv", "w2.csv"):
        f = tmp_path / name
        sh.copy(src, f)
        ingest_file(spark, str(f), lake, archive=False, write_reject_csv=False)

    # faulty drain: merge the first batch fully, then die before the
    # checkpoint commit log records it
    def faulty(df, batch_id):
        upsert_gold(spark, lake, df)
        if batch_id == 0:
            raise RuntimeError("injected kill after merge, before commit")

    q = (
        spark.readStream.schema(SILVER_SCHEMA)
        .option("maxFilesPerTrigger", "2")
        .parquet(lake.processed)
        .writeStream.foreachBatch(faulty)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="injected kill"):
        q.awaitTermination()
    assert spark.read.parquet(lake.gold).count() > 0  # merge really landed

    # production restart replays batch 0 and drains the rest
    q = gold_upsert_stream(spark, lake, ck)
    q.awaitTermination()

    gold = spark.read.parquet(lake.gold)
    assert gold.groupBy("date", "transaction_id").count().filter("count>1").count() == 0
    # identical end state to an uninterrupted drain over the same silver
    clean = LakeLayout(str(tmp_path / "clean"))
    for name in ("c1.csv", "c2.csv"):
        f = tmp_path / name
        sh.copy(src, f)
        ingest_file(spark, str(f), clean, archive=False, write_reject_csv=False)
    q = gold_upsert_stream(spark, clean, str(tmp_path / "ck_clean"))
    q.awaitTermination()
    want = spark.read.parquet(clean.gold)
    key_cols = ["date", "transaction_id", "store_id", "item_id", "quantity"]
    got_keys = {tuple(str(r[c]) for c in key_cols) for r in gold.select(*key_cols).collect()}
    want_keys = {tuple(str(r[c]) for c in key_cols) for r in want.select(*key_cols).collect()}
    assert got_keys == want_keys and got_keys


def test_compact_pending_on_static_session_rewrites_only_work_dates(spark, tmp_path):
    """compact_pending overwrites gold dynamically per write, never through
    the session conf: on a session left at ``static`` the conf is unchanged
    afterwards and only the recompacted date's files are rewritten."""
    key = "spark.sql.sources.partitionOverwriteMode"
    lake = LakeLayout(str(tmp_path / "lake"))
    src = tmp_path / "in.csv"
    _write_csv(src, range(12))  # 3 dates
    ingest_file(spark, str(src), lake, archive=False, write_reject_csv=False)
    compact_pending(spark, lake, max_partitions=10)

    def gold_files() -> dict[str, set[str]]:
        return {
            d: set(os.listdir(os.path.join(lake.gold, d)))
            for d in os.listdir(lake.gold)
            if d.startswith("date=")
        }

    before = gold_files()
    assert len(before) == 3
    forced = "2025-07-11"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        summary = compact_pending(spark, lake, force_dates=[forced])
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prev)
    assert [r["target_date"] for r in summary["results"]] == [forced]
    after = gold_files()
    assert set(after) == set(before)
    for d, files in after.items():
        if d == f"date={forced}":
            assert files.isdisjoint(before[d]), (d, files, before[d])
        else:
            assert files == before[d], d
    assert spark.read.parquet(lake.gold).count() == 12
