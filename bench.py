#!/usr/bin/env python
"""Benchmark harness: run the engine's headline queries and print ONE JSON line.

Usage: python bench.py
Env:
  SPARK_GRAFT_SF_DIR  testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] threads (default all)
  BENCH_QUERIES       comma-separated subset of registry names (default: all)

Each query's full plan is executed via the no-op sink (forces every column,
no driver collect). Prints {"metric", "value", "unit", "queries", "sf"}.

stdout budget: the driver captures only the tail ~2 KB of stdout and JSON-
parses it (BENCH_r01/r02 both recorded "parsed": null once the full
per-query dict crossed that window). stdout therefore carries a COMPACT
headline — total, pipeline rates, and the 8 slowest queries — guaranteed
under ~1 KB, while the full per-query timing dict goes to BENCH_DETAIL.json
next to this script.
"""

from __future__ import annotations

import json
import os
import sys
import time

# The driver parses stdout as a single JSON line (BENCH_r01 recorded
# "parsed": null — stray JVM stdout ahead of the JSON). Guarantee the
# contract at the fd level: save the real stdout, then point fd 1 at stderr
# BEFORE the JVM launches (it inherits fd 1, so Ivy banners / log4j / py4j
# chatter all land on stderr). The final JSON is written to the saved fd and
# is the process's only stdout output.
_REAL_STDOUT_FD = os.dup(1)
os.dup2(2, 1)


def _emit(obj) -> None:
    os.write(_REAL_STDOUT_FD, (json.dumps(obj) + "\n").encode())


sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from retail_aws_etl_pipeline_spark.plans.queries import all_specs  # noqa: E402

REGISTRY = all_specs()
from retail_aws_etl_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_spark(app_name="bench")

    # Host load at run start: the recurring cross-round ambiguity is
    # "did the code regress or was the host loaded?" (r7: the same
    # binary measured 44.6k vs 76.8k ingest rows/s; r8: three full runs
    # spanned 208-265 s on identical code). Recording 1/5/15-min loadavg
    # start/end makes each archived run self-describing.
    load_start = os.getloadavg()

    names = os.environ.get("BENCH_QUERIES")
    selected = [n.strip() for n in names.split(",") if n.strip()] if names else list(REGISTRY)
    unknown = [n for n in selected if n not in REGISTRY]
    if unknown:
        sys.exit(f"bench: unknown queries {unknown}; available: {sorted(REGISTRY)}")

    # Warm the JVM / codegen / parquet footer cache so query timings measure
    # the queries, not session startup: exercise every framework code path
    # the queries share (vectorized parquet scan, decimal hash agg, window,
    # sort, AQE shuffle, Arrow, noop sink) once, on the 5-row region table.
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Calibration: a fixed pure-JVM workload timed on every run forever.
    # loadavg only sees THIS vm's runnable tasks; hypervisor-level
    # contention shows up as the same binary running uniformly slower
    # (r8: untouched trivial queries measured 1.2-1.5x r7 minima at
    # local load 0.5). calib_sec makes that directly visible: cross-round
    # per-query ratios should be read relative to the calib ratio.
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id * 2 + 1)").collect()
    calib_sec = round(time.perf_counter() - t0, 4)
    warm = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    (
        warm.groupBy("r_name")
        .agg(_F.sum(_F.col("r_regionkey").cast("decimal(28,6)")).alias("s"))
        .withColumn("rn", _F.row_number().over(_W.partitionBy("r_name").orderBy("s")))
        .orderBy("r_name")
        .write.format("noop").mode("overwrite").save()
    )
    warm.groupBy().applyInPandas(lambda p: p.head(1), schema=warm.schema).write.format(
        "noop"
    ).mode("overwrite").save()
    # ... and the Python WORKER POOL at the width the kernels actually use:
    # the one-task applyInPandas above spins exactly one worker, so the
    # first multi-partition mapInPandas query in the suite paid a ~5 s
    # pool spin-up (16-32 processes x pandas import) inside ITS timing —
    # a session-lifetime framework cost, not that query's cost (r16; same
    # rationale as the existing JVM/codegen warmup, measurement unchanged
    # otherwise).
    from retail_aws_etl_pipeline_spark.session import PY_KERNEL_MAX_PARTS as _PYW

    n_pool = max(int(spark.conf.get("spark.sql.shuffle.partitions")), _PYW)
    spark.range(n_pool, numPartitions=n_pool).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    # Pipeline first: measured against a fresh JVM (codegen cache, GC state),
    # matching how the daily job actually runs — not at the tail of a
    # 49-query session (observed 2-3x slower there from accumulated state).
    pipeline_info = {}
    if os.environ.get("BENCH_PIPELINE", "1") != "0":
        try:
            pipeline_info = bench_pipeline(spark, sf_dir, timings)
        except Exception as exc:  # noqa: BLE001 — fault isolation: keep timing
            errors["pipeline"] = f"{type(exc).__name__}: {exc}"[:400]
        spark.catalog.clearCache()

    # min-of-N per query: this host shows multi-second transient load spikes
    # (the same query measured 4.4s and 37.8s minutes apart); the min is the
    # query's actual cost, spikes are the machine's.
    #
    # Each query runs under its own try/except: one query's analysis error
    # must never zero out the whole bench artifact (BENCH_r03 was rc:1 with
    # no timings because a single AnalysisException aborted the run).
    repeats = max(1, int(os.environ.get("BENCH_REPEATS", "2")))
    for name in selected:
        spec = REGISTRY[name]
        best = None
        for _ in range(repeats):
            try:
                t0 = time.perf_counter()
                df = spec.spark_fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                elapsed = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 — fault isolation
                errors[name] = f"{type(exc).__name__}: {exc}"[:400]
                break
            best = elapsed if best is None else min(best, elapsed)
            # Queries that persist intermediates (shingle frames, LSH
            # buckets) would otherwise stack up in executor memory across
            # the suite; the accumulated GC pressure measurably drags later
            # entries (observed 5-9x on the pipeline phase at the tail of a
            # 49-query run). Each entry is timed as an independent run.
            spark.catalog.clearCache()
        if best is not None:
            timings[name] = round(best, 4)

    # Full per-query detail → sidecar file (the driver's stdout capture
    # window is ~2 KB; 63 queries overflow it — see module docstring).
    detail = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "host_load": {
            "start_1m_5m_15m": [round(x, 2) for x in load_start],
            "end_1m_5m_15m": [round(x, 2) for x in os.getloadavg()],
            "cpus": os.cpu_count(),
            "width": spark.sparkContext.defaultParallelism,
            "calib_sec": calib_sec,
        },
    }
    if pipeline_info:
        detail["pipeline"] = pipeline_info
    if errors:
        detail["errors"] = errors
    # Sidecar write must never take down the stdout contract: if the disk is
    # full / dir read-only, still emit the headline (with the write error).
    sidecar_err = None
    detail_name = "BENCH_DETAIL.json"
    try:
        repo_dir = os.path.dirname(os.path.abspath(__file__))
        detail_path = os.path.join(repo_dir, detail_name)
        if names:
            # A BENCH_QUERIES-filtered run must not clobber the live
            # sidecar's full key set (it silently shrank the 141-entry
            # detail to the subset once — r7): merge the subset's timings
            # over the existing detail instead, leaving other keys and
            # the previous total's basis intact but re-deriving the total
            # from the merged dict so it stays the sum of its own keys.
            try:
                with open(detail_path) as fh:
                    live = json.load(fh)
            except (OSError, ValueError):
                live = {}
            if live.get("sf") == detail.get("sf") and isinstance(
                live.get("queries"), dict
            ):
                merged_q = dict(live["queries"])
                merged_q.update(detail["queries"])
                detail = {**live, **detail}
                detail["queries"] = merged_q
                detail["value"] = round(sum(merged_q.values()), 4)
            elif live.get("queries"):
                # different-sf smoke run: leave the live full-suite detail
                # alone rather than replacing it with the subset (the
                # clobber the same-sf merge guard was added to prevent)
                detail_name = f"BENCH_DETAIL_sf{detail['sf']}.json"
                detail_path = os.path.join(repo_dir, detail_name)
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:
        sidecar_err = f"{type(exc).__name__}: {exc}"[:200]

    # stdout: compact headline only. The 8 slowest entries ship under
    # "slowest_queries" (NOT "queries" — r3 advice: a truncated dict under
    # the historical key invites consumers to sum it as a total); pipeline
    # phases are excluded (already summarized under "pipeline"); the full
    # per-query dict is in the sidecar.
    pipeline_keys = {"ingest_raw_to_silver", "compact_silver_to_gold"}
    slowest = dict(
        sorted(
            ((k, v) for k, v in timings.items() if k not in pipeline_keys),
            key=lambda kv: -kv[1],
        )[:8]
    )
    out = {
        "metric": "headline_queries_total",
        "value": detail["value"],
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "slowest_queries": slowest,
        "detail": detail_name,
        "host_load": detail["host_load"],
    }
    if pipeline_info:
        out["pipeline"] = pipeline_info
    if errors:
        out["n_errors"] = len(errors)
    if sidecar_err:
        out["detail_write_error"] = sidecar_err
    _emit(out)


def bench_pipeline(spark, sf_dir: str, timings: dict) -> dict:
    """Ingest (raw CSV → silver) + compaction (silver → gold) throughput —
    the reference's actual workload (BASELINE.md: 'plus ingest and
    compaction throughput in rows/sec'). A deterministic retail CSV is
    synthesized from lineitem (capped at 200k rows), ingested into a temp
    lake, then compacted.

    Transaction dates are mapped onto a 60-day window (~3.3k rows/date) —
    the shape of the reference's daily sales files (sample_csv_files/ is one
    file ≈ one business day). Spreading the same rows over lineitem's full
    7-year shipdate range (~2 500 dates × 80 rows) made both phases a
    local-FS metadata microbenchmark: ≥90% of wall clock was creating and
    listing 2 500 directories of 8 KB files, a layout no daily pipeline
    produces and one that vanishes at real partition sizes."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from retail_aws_etl_pipeline_spark.ingest import ingest_file
    from retail_aws_etl_pipeline_spark.lake import LakeLayout
    from retail_aws_etl_pipeline_spark.operators.compact import compact_pending

    tmp = tempfile.mkdtemp(prefix="bench_pipeline_")
    try:
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(200_000)
        qty = F.greatest(F.col("l_quantity").cast("int"), F.lit(1))
        up = F.round(F.col("l_extendedprice") / qty, 2)
        csv_df = li.select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string").alias("transaction_id"),
            F.concat(F.lit("S0"), (F.col("l_suppkey") % 10).cast("string")).alias("store_id"),
            F.concat(
                F.date_format(
                    F.date_add(
                        F.lit("2025-06-01").cast("date"),
                        (F.col("l_orderkey") % 60).cast("int"),
                    ),
                    "yyyy-MM-dd",
                ),
                F.format_string(
                    " %02d:%02d:00",
                    (F.col("l_suppkey") % 24).cast("int"),
                    (F.col("l_partkey") % 60).cast("int"),
                ),
            ).alias("timestamp"),
            F.concat(F.lit("ITEM"), F.col("l_partkey").cast("string")).alias("item_id"),
            F.lit("General").alias("item_category"),
            qty.cast("string").alias("quantity"),
            up.cast("string").alias("unit_price"),
            F.round(qty * up, 2).cast("string").alias("revenue"),
            F.lit("Card").alias("payment_method"),
            F.lit("cust0001").alias("customer_id"),
        )
        csv_dir = os.path.join(tmp, "csv")
        csv_df.coalesce(1).write.option("header", True).csv(csv_dir)
        part = next(p for p in os.listdir(csv_dir) if p.startswith("part-"))
        raw = os.path.join(tmp, "sales_bench.csv")
        shutil.move(os.path.join(csv_dir, part), raw)
        n_rows = li.count()

        # min-of-N, same rationale as the query loop (host load spikes);
        # each repeat gets a fresh lake so both phases do full work. Floor
        # of 3 here WHEN BENCH_REPEATS IS UNSET: measured min-of-2 pipeline
        # rates swing −35% under transient host load (37k vs 69k compact
        # rows/s minutes apart) while min-of-4 is stable — the two phases
        # are the longest single timings in the suite, so they need the
        # most spike filtering. An explicit BENCH_REPEATS (e.g. =1 for a
        # quick run) is honored as-is.
        env_repeats = os.environ.get("BENCH_REPEATS")
        repeats = max(1, int(env_repeats)) if env_repeats is not None else 3
        ingest_times: list[float] = []
        compact_times: list[float] = []
        for i in range(repeats):
            lake = LakeLayout(os.path.join(tmp, f"lake{i}"))
            t0 = time.perf_counter()
            result = ingest_file(spark, raw, lake, archive=False, write_reject_csv=False)
            ingest_times.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            compact_pending(spark, lake, max_partitions=100_000, write_audit=False)
            compact_times.append(time.perf_counter() - t0)
            shutil.rmtree(os.path.join(tmp, f"lake{i}"), ignore_errors=True)
        t_ingest, t_compact = min(ingest_times), min(compact_times)

        timings["ingest_raw_to_silver"] = round(t_ingest, 4)
        timings["compact_silver_to_gold"] = round(t_compact, 4)
        return {
            "rows": n_rows,
            "ingest_rows_per_sec": round(n_rows / t_ingest),
            "compact_rows_per_sec": round(result.counts["good_rows"] / t_compact),
            # every repeat, not just the min: the r7 archive showed a 1.7x
            # run-to-run pipeline spread — the raw repeats make each run's
            # artifact show WHETHER the spread was a one-repeat spike
            # (min-filterable) or sustained across all repeats (a real
            # environment/state effect), without re-running anything.
            "ingest_repeats_sec": [round(t, 3) for t in ingest_times],
            "compact_repeats_sec": [round(t, 3) for t in compact_times],
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
