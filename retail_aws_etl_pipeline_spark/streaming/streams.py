"""Structured Streaming operators.

The reference's "streaming" is event-driven batch (S3 PUT → Lambda → one
Glue run per file; SURVEY.md §2.9). Its deferred roadmap items —
watermarking for late data, cross-batch dedup (docs/gold_job.md:39-40) —
map directly onto Structured Streaming:

| reference behavior                   | here                               |
|--------------------------------------|------------------------------------|
| one new file per trigger             | file source + Trigger.AvailableNow |
| idempotent per-partition overwrite   | foreachBatch + dynamic overwrite   |
| late data (future work)              | withWatermark + windowed agg       |
| dedup-by-key across batches          | watermarked dropDuplicates         |
| sessionization                       | session_window(ts, gap)            |

Each streaming aggregation has a batch twin in the query registry
(an hourly window rollup, dedup_keep_latest, user_sessions) — tests assert the
streaming result converges to the batch result, which is the strongest
correctness statement available for non-SQL-expressible stateful ops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Stateful-stream shuffle/state-store partition count (overridable via
#: SPARK_GRAFT_STREAM_STATE_PARTITIONS). A stateful micro-batch pays a
#: per-STATE-PARTITION open/commit/snapshot cost on EVERY trigger, so the
#: partition count should track the keyed STATE's cardinality, not the
#: session's batch compute width: these streams keep small keyed state
#: (event types, hourly windows, per-user rows), where 32 state stores
#: are ~4x pure overhead per batch (A/B at sf0.1, min-of-3:
#: streamed_hourly_rollup 1.79 -> 0.91 s, streamed_dedup_counts
#: 2.26 -> 1.47 s at 8 partitions). A deployment with large keyed state
#: raises the env override; the batch session width is untouched (the
#: conf is set around stream start only — Structured Streaming pins the
#: value into the checkpoint at first run regardless, so per-query is
#: the only granularity that exists).
STREAM_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")
)

#: Canonical events schema — the start-stream-before-data-arrives fallback
#: when the directory is empty/absent at stream start (the standard
#: streaming-source pattern: the sink directory exists before producers do).
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Streaming scan of an events parquet directory, ``ts`` normalized to
    TIMESTAMP regardless of the files' physical type.

    ``max_files_per_trigger`` sizes micro-batches: 1 (default) maximizes
    batch-boundary coverage in tests (every file is its own trigger —
    the cross-batch state paths run as often as possible); production
    drains raise it so the per-batch fixed cost (planning + state-store
    round trip, ~1 s/batch measured on local[32]) amortizes over more
    input — the r8 K=10 smoke measured the streamed dedup drain 5.7×
    slower purely from batch COUNT when a 10× corpus arrived as 10×
    more files (SCALING.md).

    A streaming source needs its schema up front; rather than hard-coding
    one physical layout, sniff it from a zero-cost batch footer read and
    apply the same canonical ``ts`` normalization as ``load_tables``
    (SURVEY §1.4): nanosecond-long → µs-truncated timestamp, TIMESTAMP_NTZ
    → TIMESTAMP (UTC session, value-preserving), TIMESTAMP → as-is. The
    testdata generator has emitted all three layouts across rounds.

    If the directory is empty or absent at stream start (producers not up
    yet), the sniff raises ``AnalysisException`` and the stream falls back
    to the canonical ``EVENTS_RAW_SCHEMA`` — fallback mode therefore only
    supports the canonical µs-TIMESTAMP layout: files that later land with
    a different physical ``ts`` type (ns-long, TIMESTAMP_NTZ) bypass the
    sniff-based normalization. Any other read error (corrupt footer,
    permissions) re-raises — silently substituting the canonical schema
    there would mask a real failure AND skip the normalization this
    function exists to apply.
    """
    from pyspark.errors import AnalysisException

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        schema = spark.read.parquet(events_dir).schema
    except AnalysisException:  # empty/absent dir (message varies by version)
        schema = EVENTS_RAW_SCHEMA
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", int(max_files_per_trigger))
        .parquet(events_dir)
    )
    ts_type = schema["ts"].dataType.typeName()
    if ts_type == "long":  # TIMESTAMP(NANOS) read as ns-long
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type == "timestamp_ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of the ``hourly_event_rollup`` batch query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def dedup_stream(
    events: DataFrame,
    watermark: str | None = "2 hours",
    subset: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Cross-batch exactly-once by key: watermarked dropDuplicates
    (the streaming form of W1 keep-latest; state expires with the
    watermark, bounding memory at scale).

    Watermark semantics, pinned by ``test_watermark_lateness_sweep``:

    - with the default ``subset=("event_id",)`` the watermark only bounds
      STATE (keys older than it are expired) — late rows are NOT dropped;
      a late row whose key's state already expired passes through again.
      That is at-least-once under lateness, which the downstream gold
      keep-latest merge absorbs;
    - include the event-time column — ``subset=("event_id", "ts")`` — to
      get watermark-late DROP semantics (the engine filters late input
      only when the event-time column is part of the dedup subset), and
      note the filter takes effect one micro-batch after the watermark
      update that the progress line reports.

    Pass ``watermark=None`` for unordered replays (unbounded state; fine
    for bounded backfills)."""
    cols = list(subset)
    if watermark is None:
        return events.dropDuplicates(cols)
    return events.withWatermark("ts", watermark).dropDuplicates(cols)


def session_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Gap-based sessions via session_window — streaming twin of the
    ``user_sessions`` batch query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def running_user_stats_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (n_events, total_value), re-emitted on every micro-batch that
    touches the user (Update mode).

    This is the escape hatch for stateful semantics ``session_window`` /
    ``dropDuplicates`` can't express — arbitrary per-key state carried
    across micro-batches, updated by an Arrow-batched pandas kernel. State
    here is a 2-field tuple per user, so memory is O(distinct keys); for
    key churn, swap ``NoTimeout`` for ``ProcessingTimeTimeout`` and expire
    idle keys in the kernel (``state.hasTimedOut``).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
    )

    def update(key, pdfs, state):
        import pandas as pd

        (n, total) = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def run_stream_to_memory(df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Drive a streaming frame to completion over the available input and
    return the materialized result (memory sink; local testing harness).

    BOUNDED OUTPUTS ONLY: the memory sink holds every output row on the
    driver as a LocalTableScan — a K=100 dedup drain (10M rows) OOMed an
    8 GiB driver through this helper. Large drains should measure/land
    through ``foreachBatch`` (count or parquet sink), which keeps the
    output distributed; this helper exists for test-sized results where
    collecting is the point.

    The session's shuffle-partition conf is narrowed to
    :data:`STREAM_STATE_PARTITIONS` for the drain and restored after —
    the stateful operators' state-store count is sized by state
    cardinality instead of inheriting the batch compute width (see the
    constant's rationale). Results are partitioning-independent."""
    sess = df.sparkSession
    old = sess.conf.get("spark.sql.shuffle.partitions")
    sess.conf.set(
        "spark.sql.shuffle.partitions",
        str(min(int(old), STREAM_STATE_PARTITIONS)),
    )
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        sess.conf.set("spark.sql.shuffle.partitions", old)
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def _require_direct_silver(lake) -> None:
    """The streaming file source discovers new silver files by listing
    directories; a manifest lake's rows are its snapshot, which no listing
    sees (unpublished and superseded files lie in the same directories)."""
    if lake.commit == "manifest":
        raise ValueError("the silver file stream needs a direct-commit lake; use compact_pending")


def run_pipeline_available_now(
    spark: SparkSession,
    incoming_dir: str,
    lake,
    checkpoint_dir: str,
    **ingest_kwargs,
):
    """One end-to-end drain of the continuous pipeline: raw files →
    silver (ledgered per-file ingest) → gold (checkpointed upsert stream).

    Both stages are AvailableNow-style: the ingest ledger skips files
    already processed, the streaming checkpoint skips silver data already
    merged, so calling this on a schedule IS the reference's whole
    event-driven architecture (S3 PUT → Lambda → Glue ingest → gold
    compaction) as two idempotent drains. Crash between the stages is
    safe: the next call re-drains gold from the checkpoint; re-delivered
    rows collapse in the keep-latest merge.

    Returns the list of per-file ``IngestResult``s from the ingest stage.
    Raises ``ValueError`` before ingesting anything on a manifest lake (see
    :func:`gold_upsert_stream`).
    """
    from retail_aws_etl_pipeline_spark.ingest import ingest_pending

    _require_direct_silver(lake)
    results = ingest_pending(spark, incoming_dir, lake, **ingest_kwargs)
    q = gold_upsert_stream(spark, lake, checkpoint_dir)
    q.awaitTermination()
    return results


def gold_upsert_stream(
    spark: SparkSession,
    lake,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    processing_time: str = "1 second",
):
    """Continuous silver→gold maintenance: stream the silver directory and
    merge each micro-batch into gold via ``operators.compact.upsert_gold``
    (foreachBatch + dynamic partition overwrite = exactly-once-effective
    gold, the reference's docs/gold_job.md:32-35 idempotency goal).

    Returns the started StreamingQuery. Default Trigger.AvailableNow —
    drains what exists, then stops; schedule repeatedly for the reference's
    event-driven cadence. For 24/7 soak mode pass ``available_now=False``
    (micro-batches every ``processing_time``) and, to rate-limit each
    micro-batch to a bounded chunk of backlog — bounding both the
    foreachBatch merge size and executor memory — set
    ``max_files_per_trigger``; stop with ``query.stop()``. The merge is
    keyed keep-latest, so ANY interleaving of waves into micro-batches
    converges to the same gold (soak-tested across rates in
    ``tests/test_streaming_multimodal.py::test_gold_upsert_stream_soak``).

    Raises ``ValueError`` before starting a query on a lake built with
    ``commit="manifest"``: drive its gold with ``compact_pending``.
    """
    from retail_aws_etl_pipeline_spark.operators.compact import upsert_gold
    from retail_aws_etl_pipeline_spark.schema import SILVER_SCHEMA

    _require_direct_silver(lake)
    reader = spark.readStream.schema(SILVER_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    silver = reader.parquet(lake.processed)
    writer = (
        silver.writeStream.foreachBatch(lambda df, _epoch: upsert_gold(spark, lake, df))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def feature_delta_stream(
    orders: DataFrame,
    delta_dir: str,
    checkpoint_dir: str,
):
    """Incremental per-customer feature maintenance as a base+delta table:
    each micro-batch appends ONE partial-aggregate row per customer seen
    in the batch — (c_custkey, n_orders, cents_sum, last_order_us) —
    partitioned by batch id under dynamic overwrite, so a foreachBatch
    RETRY replaces its own partition instead of double-counting
    (at-least-once execution, exactly-once storage). A naive read-modify-write
    merge would double-apply the batch on retry — partial aggregates
    partitioned by the batch id are the idempotent form.

    Read the current snapshot with :func:`read_feature_snapshot` (folds
    deltas); fold the accumulated per-batch partitions down with
    :func:`compact_feature_deltas` on the compaction cadence — the
    standard base+delta table maintenance loop.

    All three features are associative merges (sum, sum, max), so ANY
    interleaving of arrivals into micro-batches converges to the batch
    answer — the convergence test drives three wave splits and a mid-run
    retry against the one-shot batch aggregate.
    """
    from pyspark.sql import functions as F

    def process(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).alias("cents_sum"),
            F.max(F.unix_micros(F.col("o_orderdate"))).alias("last_order_us"),
        )
        (
            partial.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(delta_dir)
        )

    return (
        orders.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_feature_snapshot(spark: SparkSession, delta_dir: str) -> DataFrame:
    """Current feature vector per customer from the delta table: one
    keyed groupBy folding the per-batch partials (sum/sum/max — the same
    associative merges the stream computes per batch)."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(delta_dir)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("cents_sum").cast("long").alias("cents_sum"),
            F.max("last_order_us").cast("long").alias("last_order_us"),
        )
    )


def compact_feature_deltas(spark: SparkSession, delta_dir: str, buckets: int = 8) -> int:
    """Fold the accumulated per-batch delta partitions into ``buckets``
    files hash-clustered by customer key (one partial row per customer)
    — the delta table stays small no matter how many micro-batches have
    run, and subsequent batches append fresh ``__batch_id`` partitions
    beside the compacted base. Returns the number of customer rows after
    folding.

    Stage-and-swap via a temp dir + atomic rename per the lake's commit
    discipline (a crash mid-compaction leaves the old table intact).
    Single-maintainer contract: between the two renames the path briefly
    does not exist, so run compaction from the stream's scheduler slot,
    never concurrently with a triggering batch."""
    import os
    import shutil

    cur = read_feature_snapshot(spark, delta_dir)
    tmp = delta_dir.rstrip("/") + ".compacting"
    cur.repartition(buckets, "o_custkey").write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    old = delta_dir.rstrip("/") + ".old"
    shutil.rmtree(old, ignore_errors=True)  # dead debris from a crashed swap
    os.rename(delta_dir, old)
    os.rename(tmp, delta_dir)
    shutil.rmtree(old)
    return n
