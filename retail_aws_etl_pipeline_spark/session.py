"""SparkSession factory tuned for this engine.

Local test profile: ``local[N]`` single JVM. The same configs are the ones
we'd set cluster-side at scale: AQE on (runtime coalesce/skew handling),
dynamic partition overwrite (idempotent per-partition gold rewrites —
reference intent at scripts/incremental_auto_compaction.py:253-257), UTC
session timezone (oracle comparability), Arrow for any Pandas-UDF exchange,
and no DataFrame call-site capture (each PySpark Column/DataFrame call
otherwise pays ~15 py4j round trips for it; see :func:`get_spark`).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F


def get_spark(
    app_name: str = "retail_aws_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard configs.

    On a real cluster ``master`` is supplied by the submitter; locally we
    default to ``local[$SPARK_GRAFT_CPUS or *]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join where its size conditions
        # hold (guide §3.1/§9): same shuffle, no sort on either side; SMJ
        # remains the fallback when neither side's per-partition build fits.
        # Measured -0.2..-0.8 s on every SMJ-carrying registry query at
        # sf0.1 with identical results; at scale AQE's runtime sizes +
        # skew-join splitting keep the build side bounded.
        #
        # FAILURE MODE + REVERT KNOB (ADVICE r16): SHJ's build-side hash
        # map cannot spill — a badly MIS-ESTIMATED or skewed build side at
        # production scale can OOM an executor where sort-merge would have
        # spilled gracefully (AQE skew splitting mitigates detected skew
        # only). If a deployment hits that, revert per-session via
        # extra_conf={"spark.sql.join.preferSortMergeJoin": "true"} (or
        # --conf); no code depends on the join strategy.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # v2 commits task output straight into the destination instead of a
        # job-commit rename pass — on a 550-date partitioned write the v1
        # sequential directory renames dominate wall clock (local FS here;
        # on object stores use the cloud committers for the same reason)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        # No call-site capture: with debugging on, every PySpark Column and
        # DataFrame call walks the Python stack and sets/clears the JVM's
        # PySparkCurrentOrigin (~15 py4j round trips per call, most of a
        # small file's plan-building time). Error messages lose the user
        # call site only. PySpark caches this flag per PROCESS at the first
        # Column call made under an active session, so a session created
        # without it earlier in the process keeps capture on.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_TABLE_CACHE: dict[tuple[str, str, str], "object"] = {}


def _session_key(spark: SparkSession) -> str:
    """Stable per-application cache key. ``id(spark)`` can be REUSED after
    a session is garbage-collected, handing a new session a stale entry —
    harmless for memoized lazy plans, plan-changing for the scan-deficit
    flag (ADVICE r16). The applicationId is unique per SparkContext and
    never recycled within a process."""
    return spark.sparkContext.applicationId

#: Tables too small for the scan-parallelism guard to bother with — the
#: broadcast dimension tables stay exchange-free.
_SCAN_GUARD_MIN_ROWS = 1_000

#: Sessions whose input layout under-parallelizes scans (fewer parquet
#: row groups than cores — see load_tables). Keyed by applicationId via
#: :func:`_session_key`. Consulted by :func:`spread_for_compute`.
_SCAN_DEFICIT: dict[str, bool] = {}

#: Python-kernel fan-out FLOOR for deficit-mode spreads (see
#: spread_for_compute): each partition costs a Python worker process +
#: pandas/numpy import before the first batch, so deficit-sized inputs
#: never amortize full-width fan-out (A/B at sf0.1: 16 workers beat both
#: 8 and 32 on the PNG decode). The effective cap is derived from the
#: session — max(this floor, defaultParallelism div 2) — so on a big
#: cluster fed one unsplittable file the kernels still scale with the
#: machine instead of pinning at a host-tuned constant (r16 VERDICT #3).
PY_KERNEL_MAX_PARTS = 16

#: parquet layout memo keyed by (path, mtime, size): rewriting a fixture
#: table in place invalidates the entry instead of serving a stale layout
#: (ADVICE r16).
_ROW_GROUP_CACHE: dict[tuple[str, float, int], tuple[int, int]] = {}


def spread_for_compute(df, max_parts: int | None = None, keys: list | None = None):
    """Round-robin repartition of an operator's (already column-pruned)
    input iff this session's scan layout is under-parallelized — the
    guide-§2.5 mitigation for unsplittable inputs, applied at the point
    where heavy per-row compute (shingle explodes, n-gram construction,
    chunking folds, decode kernels) would otherwise run fused into a
    near-single-task scan stage. On production layouts (row groups >=
    cores) this is a no-op, so the exchange only ever exists where the
    scan itself cannot feed the machine.

    ``max_parts`` caps the fan-out for PYTHON-kernel consumers
    (mapInPandas/mapInArrow): each partition is a Python worker, and a
    worker costs a process + pandas/numpy import on first use, so full
    core-count fan-out of a Python stage front-loads a pool spin-up the
    kernel never amortizes on deficit-sized inputs (A/B at sf0.1: 16
    workers beat both 8 and 32 on the PNG decode). JVM-side consumers
    leave it None and use the session's shuffle parallelism.

    ``keys`` (r17): spread by HASH of the given high-cardinality columns
    instead of round-robin. Two wins at identical fan-out: a keyless
    repartition first pays a local sort of its input (SPARK-23207's
    retry-determinism sort, on by default) that a deterministic hash
    partitioning skips, and downstream per-key aggregations (the per-doc
    size/signature groupBys every gram consumer runs) reuse the layout
    instead of re-exchanging (guide §2.4). Callers pass the column(s)
    the downstream groupBys key on — unique per row group (doc id) so
    the hash spreads as evenly as round-robin."""
    spark = df.sparkSession
    if not _SCAN_DEFICIT.get(_session_key(spark), False):
        return df
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if max_parts is not None:
        # session-derived cap: the passed floor (the measured local
        # amortization bound) grows with the cluster — half the default
        # parallelism keeps per-worker batches large enough to amortize
        # the worker spin-up while still scaling past any constant
        cap = max(max_parts, spark.sparkContext.defaultParallelism // 2)
        n = max(2, min(n, cap))
    if keys:
        return df.repartition(n, *keys)
    return df.repartition(n)


def _parquet_layout(path: str) -> tuple[int, int]:
    """(num_row_groups, num_rows) summed over the table's part files,
    memoized per path (footer reads are microseconds; memoization keeps
    repeated load_tables calls metadata-free). A Spark-written table is a
    DIRECTORY of part files (test fixtures build these); the shipped
    testdata is a single file — handle both, and fail OPEN (treat the
    layout as fully parallel, i.e. no deficit) on any metadata surprise
    so the guard can never break a read it was meant to speed up."""
    try:
        st = os.stat(path)
        key = (path, st.st_mtime, st.st_size)
    except OSError:
        key = (path, 0.0, -1)
    got = _ROW_GROUP_CACHE.get(key)
    if got is None:
        import pyarrow.parquet as pq

        try:
            if os.path.isdir(path):
                rg = rows = 0
                for entry in sorted(os.listdir(path)):
                    if entry.endswith(".parquet"):
                        md = pq.ParquetFile(os.path.join(path, entry)).metadata
                        rg += md.num_row_groups
                        rows += md.num_rows
                got = (rg, rows)
            else:
                md = pq.ParquetFile(path).metadata
                got = (md.num_row_groups, md.num_rows)
        except Exception:  # noqa: BLE001 — guard must never break a read
            got = (1 << 30, 0)
        _ROW_GROUP_CACHE[key] = got
    return got


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register the testdata star-schema parquet tables as temp views.

    Returns a dict name -> DataFrame. Names default to the full driver set.
    DataFrames are memoized per (session, dir, table): the parquet footer/
    schema read happens once per session however many registry queries run.
    """
    if names is None:
        names = [
            "region",
            "nation",
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
        ]
    # The caller may hand us a session built elsewhere (the verify driver
    # does) — (re)apply the runtime-settable configs correctness depends on:
    # UTC so timestamp values are engine-comparable, and nanos-as-long since
    # events.ts is nanosecond parquet the vectorized reader rejects. The ns
    # column is truncated to microseconds — the same truncation DuckDB's
    # client applies — so both engines see identical values.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out = {}
    for n in names:
        key = (_session_key(spark), sf_dir, n)
        df = _TABLE_CACHE.get(key)
        if df is None:
            path = os.path.join(sf_dir, f"{n}.parquet")
            df = spark.read.parquet(path)
            # Scan-parallelism detection (optimization guide §2.5, "input
            # skew: one huge unsplittable file ... repartition immediately
            # after the read"): a parquet scan parallelizes at ROW-GROUP
            # granularity, so a file with fewer row groups than the
            # session has cores runs its scan stage — and every
            # computation fused into it (explodes, gram building, decode
            # kernels, partial aggregates) — on that few tasks however
            # many cores exist. The footer check records the deficit per
            # session; the repartition itself is applied by
            # :func:`spread_for_compute` INSIDE the compute-heavy
            # operators, on their narrow column projection, so light
            # multi-pass consumers of the same tables (header probes,
            # sketch builds, key-census aggregates) never pay an exchange
            # they don't amortize (measured +0.6-0.8 s each under a
            # blanket table-level repartition). Self-adapting, not a
            # local-mode constant: a production-laid table has row groups
            # >> cores and the flag stays False.
            n_rg, n_rows = _parquet_layout(path)
            cores = spark.sparkContext.defaultParallelism
            if n_rg < cores and n_rows >= _SCAN_GUARD_MIN_ROWS:
                _SCAN_DEFICIT[_session_key(spark)] = True
            for f in df.schema.fields:
                if n == "events" and f.name == "ts" and f.dataType.typeName() == "long":
                    df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
                elif f.dataType.typeName() == "timestamp_ntz":
                    # The testdata's physical timestamp type drifts between
                    # generator runs (ns-long, TIMESTAMP, TIMESTAMP_NTZ).
                    # Normalize NTZ -> TIMESTAMP here, once, so downstream
                    # epoch math (cast-to-long, unix_micros, range windows)
                    # never sees the NTZ type. With a UTC session timezone
                    # the cast is value-preserving and oracle-identical.
                    df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
            _TABLE_CACHE[key] = df
        df.createOrReplaceTempView(n)
        out[n] = df
    return out
