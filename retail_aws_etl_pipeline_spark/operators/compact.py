"""Incremental gold compaction: silver partitions → deduped fact_sales.

Re-expresses scripts/incremental_auto_compaction.py Spark-first:

- Partition discovery via filesystem listing with a CORRECT date regex —
  the reference's ``r"date=(\\d{4}-...)"`` double-escapes ``\\d`` inside a
  raw string and never matches, so its discovery always returned [] and the
  job no-opped (SURVEY.md §2.1 S6). The documented intent
  (docs/gold_job.md:18-19) is implemented.
- Incremental work selection = processed − gold partition set difference
  (J1), ascending, capped by ``max_partitions``.
- ONE Spark plan over ALL pending dates instead of the reference's
  sequential per-date driver loop (incremental_auto_compaction.py:282-284):
  read with ``basePath`` so ``date`` stays a real partition column (fixing
  the reference's all-null gold date quirk, SURVEY.md §1.5), filter
  ``date IN pending`` (partition-pruned scan), and write with dynamic
  partition overwrite — idempotent per-partition replacement (K2) without
  hand-built paths.
- Keep-latest dedup (W1): ``row_number`` over ``(date, transaction_id)``
  ordered by ``ingest_ts`` DESC with ``row_hash`` DESC as a deterministic
  tiebreaker (the reference's tie order was arbitrary — SURVEY.md §2.5).
- Audit metrics (A3/K5) computed in ONE groupBy("date") pass each side of
  the dedup, not per-partition filter().count() chains.

At 100 TB: the scan is partition-pruned to pending dates; the only shuffle
is the window over (date, transaction_id) — repartitioning by the same keys
feeds both the window and the per-date file compaction; no global sort
(the reference's orderBy(transaction_id) global sort is replaced by
sortWithinPartitions for scan locality).
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from retail_aws_etl_pipeline_spark.functions.hashing import business_row_hash_sql
from retail_aws_etl_pipeline_spark.functions.numeric import clean_currency_sql, clean_quantity_sql
from retail_aws_etl_pipeline_spark.functions.sqltext import sql_lit
from retail_aws_etl_pipeline_spark.lake import LakeLayout
from retail_aws_etl_pipeline_spark.schema import GOLD_SCHEMA, REVENUE_TOLERANCE, SILVER_SCHEMA

DATE_PARTITION_RE = re.compile(r"date=(\d{4}-\d{2}-\d{2})$")

#: The dedup clock: silver's ``ingest_ts``, or now where it is missing.
_INGEST_TS_F = "coalesce(try_cast(ingest_ts AS TIMESTAMP), current_timestamp())"

#: Keep-latest rank (W1): latest ``ingest_ts`` first, ``row_hash`` as the
#: deterministic tiebreaker.
_KEEP_LATEST = (
    "row_number() OVER (PARTITION BY `date`, transaction_id "
    "ORDER BY ingest_ts_f DESC, row_hash DESC) AS rn"
)

#: Pre- AND post-dedup audit stats in ONE pass: rn==1 marks survivors.
_AUDIT_AGGS = [
    "count(1) AS total_rows_in_source_partition",
    "sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS rows_after_dedup",
    "sum(CASE WHEN `timestamp` IS NULL THEN 1 ELSE 0 END) AS null_timestamp",
    "sum(CASE WHEN store_id IS NULL THEN 1 ELSE 0 END) AS null_store",
    "sum(CASE WHEN abs(revenue - quantity * unit_price) > "
    f"{sql_lit(REVENUE_TOLERANCE)} THEN 1 ELSE 0 END) AS dq_balance_issues",
]


def _gold_prep(df: DataFrame) -> DataFrame:
    """Silver-shaped rows → gold-shaped rows plus the dedup clock
    ``ingest_ts_f``: the numerics re-cleaned defensively, then the identity
    hash over the CLEANED business columns
    (incremental_auto_compaction.py:205-212)."""
    return df.withColumns(
        {
            "quantity": F.expr(clean_quantity_sql("quantity", "long")),
            "unit_price": F.expr(clean_currency_sql("unit_price")),
            "revenue": F.expr(clean_currency_sql("revenue")),
        }
    ).withColumns(
        {"row_hash": F.expr(business_row_hash_sql()), "ingest_ts_f": F.expr(_INGEST_TS_F)}
    )


def _in_dates(dates: list[str]) -> str:
    """``date IN (...)`` over partition values (each matched
    :data:`DATE_PARTITION_RE`)."""
    return f"`date` IN ({', '.join(sql_lit(d) for d in dates)})"


def list_date_partitions(path: str) -> list[str]:
    """Sorted date partition values under a hive-layout directory (S6, fixed)."""
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        m = DATE_PARTITION_RE.search(name)
        if m and os.path.isdir(os.path.join(path, name)):
            out.append(m.group(1))
    return sorted(out)


def select_work(
    processed_dates: list[str],
    gold_dates: list[str],
    force_dates: list[str] | None = None,
    process_all: bool = False,
    max_partitions: int = 10,
) -> list[str]:
    """Incremental work list (incremental_auto_compaction.py:137-154)."""
    if force_dates:
        work = [d for d in force_dates if d in processed_dates]
    elif process_all:
        work = list(processed_dates)
    else:
        gold = set(gold_dates)
        work = [d for d in processed_dates if d not in gold]
    return sorted(work)[:max_partitions]


def compact_pending(
    spark: SparkSession,
    lake: LakeLayout,
    force_dates: list[str] | None = None,
    process_all: bool = False,
    max_partitions: int = 10,
    write_audit: bool = True,
    commit_protocol: str = "direct",
    chunk_size: int | None = None,
) -> dict:
    """Compact all pending silver partitions into gold.

    ``commit_protocol``: ``"direct"`` (default) writes gold via dynamic
    partition overwrite — atomic enough on local FS/HDFS where rename is
    atomic; ``"manifest"`` commits through
    :class:`~retail_aws_etl_pipeline_spark.lake_manifest.ManifestedTable` —
    the object-store-safe path where a crash at ANY point leaves gold
    readable at the pre-write snapshot (visibility is one atomic pointer
    update, never a directory state).

    ``chunk_size``: ``None`` (default) compacts the whole work list in ONE
    Spark plan — right for the daily cadence (tens of pending dates).
    A backlog of ~1000 pending dates in one plan means one job whose
    single commit materializes ~1000 dynamic partitions: any task failure
    retries the whole backlog, and nothing is visible until the end.
    Setting ``chunk_size=N`` processes the (ascending) work list in
    independent N-date chunks — each chunk is its own plan, write, commit
    and audit entries, so progress is checkpointed every N dates and a
    crash resumes at the first uncompacted chunk (incremental selection
    skips finished dates). Measured on local[32] (SCALING.md, backlog
    section): the ONE-plan path holds at a 1000-date backlog (13 s) and
    each chunk adds ~2-3 s of fixed plan/job overhead — chunking is a
    recovery-granularity knob, not a throughput one.
    """
    manifest_table = None
    if commit_protocol == "manifest":
        from retail_aws_etl_pipeline_spark.lake_manifest import ManifestedTable

        manifest_table = ManifestedTable(lake.gold, partition_col="date")
    elif commit_protocol != "direct":
        raise ValueError(f"commit_protocol must be direct|manifest, got {commit_protocol!r}")

    processed_dates = silver_partitions(lake)
    gold_dates = (
        manifest_table.partitions() if manifest_table else list_date_partitions(lake.gold)
    )
    work = select_work(processed_dates, gold_dates, force_dates, process_all, max_partitions)
    run_ts = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")

    if not work:
        summary = {
            "job_name": "gold_compaction",
            "run_ts_utc": run_ts,
            "processed_partitions_count": 0,
            "results": [],
        }
        if write_audit:
            _write_summary(lake, summary)
        return summary

    if chunk_size is not None and chunk_size < len(work):
        results = []
        n_chunks = 0
        for at in range(0, len(work), chunk_size):
            results.extend(
                _compact_dates(
                    spark, lake, work[at : at + chunk_size], run_ts, write_audit, manifest_table
                )
            )
            n_chunks += 1
        summary = {
            "job_name": "gold_compaction",
            "run_ts_utc": run_ts,
            "processed_partitions_count": len(results),
            "chunks": n_chunks,
            "results": results,
        }
        if write_audit:
            _write_summary(lake, summary)
        return summary

    results = _compact_dates(spark, lake, work, run_ts, write_audit, manifest_table)
    summary = {
        "job_name": "gold_compaction",
        "run_ts_utc": run_ts,
        "processed_partitions_count": len(results),
        "results": results,
    }
    if write_audit:
        _write_summary(lake, summary)
    return summary


def _compact_dates(
    spark: SparkSession,
    lake: LakeLayout,
    work: list[str],
    run_ts: str,
    write_audit: bool,
    manifest_table,
) -> list[dict]:
    """One chunk: read+clean+window+write+audit for exactly ``work`` dates."""
    from retail_aws_etl_pipeline_spark.lake_manifest import ManifestedTable

    silver_table = ManifestedTable(lake.processed, partition_col="date")
    if silver_table.exists():
        # manifested silver: the snapshot IS the listing
        silver = silver_table.read(spark)
    else:
        # One listing of the table root + partition-pruned filter — NOT one
        # read per date directory (500 explicit paths = 500 listings + plan
        # bloat).
        silver = _read_table(spark, lake.processed, SILVER_SCHEMA, work[0])
    silver = silver.filter(_in_dates(work))

    # Schema drift (P15): an inferred read can lack columns; pad them as NULL.
    have = set(silver.columns)
    missing = [c for c in SILVER_SCHEMA.fieldNames() if c not in have]
    if missing:
        silver = silver.withColumns({c: F.lit(None).cast("string") for c in missing})

    # One shuffle serves both the dedup window and the stats; the windowed
    # frame is cached so the audit aggregation and the gold write each run
    # the read+clean+window lineage exactly once (the reference re-ran
    # filter().count() chains per partition).
    windowed = (
        _gold_prep(silver)
        .repartition(spark.sparkContext.defaultParallelism, "date", "transaction_id")
        .selectExpr("*", _KEEP_LATEST)
        .persist()
    )

    stats_rows = windowed.groupBy("date").agg(*[F.expr(e) for e in _AUDIT_AGGS]).collect()
    pre_stats = stats_rows
    post_stats = {r["date"]: r["rows_after_dedup"] for r in stats_rows}

    deduped = windowed.filter("rn = 1").drop("rn", "ingest_ts_f")

    # second small shuffle post-dedup: each date lands whole in one task
    # (→ one file per date), clustered by transaction_id for scan
    # locality. Explicit N so AQE can't funnel every date's directory
    # creation through a single task (see ingest.py).
    out = deduped.repartition(spark.sparkContext.defaultParallelism, "date").sortWithinPartitions(
        "date", "transaction_id"
    )
    if manifest_table is not None:
        manifest_table.overwrite_partitions(out)
    else:
        # dynamic per write, not via the session conf: a static overwrite
        # would drop every gold partition outside ``work``
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("date")
            .parquet(lake.gold)
        )
    windowed.unpersist()

    results = []
    for row in sorted(pre_stats, key=lambda r: str(r["date"])):
        d = str(row["date"])
        after = post_stats.get(row["date"], 0)
        metrics = {
            "target_date": d,
            "input_partition": os.path.join(lake.processed, f"date={d}"),
            "output_partition": os.path.join(lake.gold, f"date={d}"),
            "total_rows_in_source_partition": row["total_rows_in_source_partition"],
            "rows_after_dedup": after,
            "duplicate_rows_removed": row["total_rows_in_source_partition"] - after,
            "null_timestamp": row["null_timestamp"],
            "null_store": row["null_store"],
            "dq_balance_issues": row["dq_balance_issues"],
            "processed_at_utc": run_ts,
            "status": "SUCCESS",
        }
        results.append(metrics)
        if write_audit:
            os.makedirs(lake.audit, exist_ok=True)
            with open(os.path.join(lake.audit, f"metrics_{d}.json"), "w") as f:
                json.dump(metrics, f, indent=2)
    return results


def _write_summary(lake: LakeLayout, summary: dict) -> None:
    os.makedirs(lake.audit, exist_ok=True)
    with open(os.path.join(lake.audit, "last_run_summary.json"), "w") as f:
        json.dump(summary, f, indent=2)


def silver_partitions(lake: LakeLayout) -> list[str]:
    """Silver date partitions, whichever commit protocol wrote them."""
    from retail_aws_etl_pipeline_spark.lake_manifest import ManifestedTable

    table = ManifestedTable(lake.processed, partition_col="date")
    if table.exists():
        return table.partitions()
    return list_date_partitions(lake.processed)


def read_silver(spark: SparkSession, lake: LakeLayout) -> DataFrame:
    """Silver as a DataFrame: manifested snapshot if present, else the
    parquet directory (see :func:`_read_table`)."""
    from retail_aws_etl_pipeline_spark.lake_manifest import ManifestedTable

    table = ManifestedTable(lake.processed, partition_col="date")
    if table.exists():
        return table.read(spark)
    dates = list_date_partitions(lake.processed)
    return _read_table(spark, lake.processed, SILVER_SCHEMA, dates[0] if dates else None)


#: Parquet physical types Spark writes for the lake's column types.
_PARQUET_KINDS = {
    "string": "is_string",
    "int": "is_int32",
    "bigint": "is_int64",
    "double": "is_float64",
    "timestamp": "is_timestamp",
    "date": "is_date32",
}


def _footer_conforms(partition_dir: str, schema: T.StructType) -> bool:
    """Whether the first parquet file under ``partition_dir`` holds only
    columns of ``schema``, each in the physical type Spark writes for it
    (read on the driver: one footer, no Spark job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        name = min(n for n in os.listdir(partition_dir) if n.endswith(".parquet"))
        fields = pq.read_schema(os.path.join(partition_dir, name))
    except (OSError, ValueError, pa.ArrowException):  # no file, or not parquet
        return False
    kinds = {f.name: _PARQUET_KINDS.get(f.dataType.simpleString()) for f in schema.fields}
    return all(kinds.get(f.name) and getattr(pa.types, kinds[f.name])(f.type) for f in fields)


def _read_table(
    spark: SparkSession, root: str, schema: T.StructType, sample_date: str | None
) -> DataFrame:
    """A direct-layout lake table. When a file of the ``sample_date``
    partition conforms to ``schema`` (the layer's declared schema, which
    this package's writers produce) the read declares it: no
    footer-inference job, and a column missing from a file reads as a typed
    NULL. Otherwise — a table written by hand or by another tool — Spark
    infers the schema, which also samples one footer and assumes the other
    files agree."""
    reader = spark.read.option("basePath", root)
    if sample_date is not None and _footer_conforms(os.path.join(root, f"date={sample_date}"), schema):
        reader = reader.schema(schema)
    return reader.parquet(root)


def read_gold(spark: SparkSession, lake: LakeLayout) -> DataFrame:
    """Gold as a DataFrame, whichever commit protocol produced it: a
    manifested table is read through its snapshot (never by listing), a
    direct-layout table by the parquet directory (see :func:`_read_table`)."""
    from retail_aws_etl_pipeline_spark.lake_manifest import ManifestedTable

    table = ManifestedTable(lake.gold, partition_col="date")
    if table.exists():
        return table.read(spark)
    dates = list_date_partitions(lake.gold)
    return _read_table(spark, lake.gold, GOLD_SCHEMA, dates[0] if dates else None)


def register_gold_view(spark: SparkSession, lake: LakeLayout, name: str = "fact_sales") -> DataFrame:
    """The Athena/Glue-catalog analog: gold as a Spark SQL view
    (docs/athena_queries.md:4-19 → spark.sql surface)."""
    df = read_gold(spark, lake)
    df.createOrReplaceTempView(name)
    return df


def upsert_gold(spark: SparkSession, lake: LakeLayout, batch_df: DataFrame) -> None:
    """Merge a batch of silver-shaped rows into gold, keep-latest by
    (date, transaction_id).

    The foreachBatch body for streaming gold maintenance (SURVEY.md §2.9:
    at-least-once reprocess + idempotent overwrite → foreachBatch + dynamic
    partition overwrite): union the batch with the existing rows of ONLY
    the touched date partitions, re-run the keep-latest window, and
    dynamically overwrite just those partitions. Re-delivered batches are
    absorbed by the dedup — the sink is idempotent.
    """
    prepared = _gold_prep(batch_df)
    touched = [str(r["date"]) for r in prepared.select("date").distinct().collect()]
    existing_dates = [d for d in touched if d in set(list_date_partitions(lake.gold))]
    if existing_dates:
        existing = (
            _read_table(spark, lake.gold, GOLD_SCHEMA, existing_dates[0])
            .filter(_in_dates(existing_dates))
            .withColumn("ingest_ts_f", F.expr(_INGEST_TS_F))
        )
        prepared = prepared.unionByName(existing, allowMissingColumns=True)

    deduped = prepared.selectExpr("*", _KEEP_LATEST).filter("rn = 1").drop("rn", "ingest_ts_f")
    (
        deduped.repartition(spark.sparkContext.defaultParallelism, "date")
        .sortWithinPartitions("date", "transaction_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date")
        .parquet(lake.gold)
    )
