"""The benchmark's workloads: what one closed-loop iteration does, how its
outputs are checked, and the samples it leaves behind.

Both workloads call only public functions of the engine and time them from
outside. They are opposites layer by layer, so an optimisation of one layer
has a workload where it should show and one where it should not:

- ``lake_daily`` is the reference's own job: raw CSV files arrive one at a
  time, each is ingested into silver (``sources``, ``operators.validate``,
  ``ingest``, ``lake``), the day is compacted into gold
  (``operators.compact``) and analysts query the fresh gold. Write- and
  metadata-heavy with per-file job barriers; no registry queries and no
  ``session.load_tables``.
- ``sql_analytics`` is the read-only registry surface: JVM-only queries
  (joins, aggregates, windows, AQE) over ``session.load_tables`` on fixed
  tables. It never touches the ingest path.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import datagen

#: The star-schema and events tables of ``sql_analytics``: byte copies of
#: the sf0.01 tier of TESTDATA.md, kept in the benchmark so that a run reads
#: nothing outside its checkout. The seed only shuffles the query order.
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]

#: Registry queries of ``sql_analytics``: JVM-only queries (no Python
#: workers), one or more of each plan shape: aggregates, window dedup, anti
#: and join chains, session windows, as-of join, cube, timestamp and
#: currency parsing. Each takes 0.15-1 s warm at sf0.01 on four cores.
SQL_QUERIES = [
    "daily_revenue",
    "top_items",
    "dedup_keep_latest",
    "customers_without_orders",
    "pricing_summary",
    "nation_market_share",
    "shipping_priority",
    "customer_order_gap_stats",
    "user_sessions",
    "purchase_asof_last_click",
    "cube_order_stats",
    "timestamp_parse_extended",
    "currency_clean_roundtrip",
]

#: The two published Athena queries, written against the generator's rows
#: for DuckDB (the expected side of the gold-query check).
_GOLD_ORACLE = {
    "daily_revenue": """
        SELECT date, CAST(SUM(CAST(revenue AS DECIMAL(28,6))) AS DOUBLE) AS total_revenue
        FROM fact_sales GROUP BY date ORDER BY date DESC""",
    "top_items": """
        SELECT item_id, CAST(SUM(CAST(revenue AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        FROM fact_sales GROUP BY item_id ORDER BY revenue DESC, item_id ASC LIMIT 10""",
}


class Op:
    """One timed call into the program."""

    __slots__ = ("name", "value", "seconds", "ok", "span")

    def __init__(self, name, value, seconds, ok, span):
        self.name, self.value, self.seconds, self.ok, self.span = name, value, seconds, ok, span


class Ctx:
    """Run-wide state: the session, the tracer and the operation ledger."""

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.ops: list[Op] = []
        self.failures: list[str] = []
        self.oracle_s = 0.0  # checking time spent inside set-up, not the program's

    def op(self, name: str, fn) -> Op:
        """Call ``fn`` once, timed, inside a span of the same name. A raise
        is recorded as a failed operation and does not stop the run."""
        with self.tracer.span(name) as span:
            t0 = time.perf_counter()
            try:
                value, ok = fn(), True
            except Exception as exc:  # noqa: BLE001 - a failure is a result here
                value, ok = None, False
                self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:400])
            seconds = time.perf_counter() - t0
        op = Op(name, value, seconds, ok, span)
        self.ops.append(op)
        return op

    def expect(self, op: Op, ok: bool, what: str) -> None:
        """Mark ``op`` failed when its output is wrong."""
        if not ok and op.ok:
            op.ok = False
            self.failures.append(f"{op.name}: wrong result: {what}"[:400])

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it."""
    xs = sorted(samples)
    i = max(len(xs) - 11, 0)
    return xs[i], 100.0 * i / max(len(xs) - 1, 1)


def _oracle_rows(sql: str, tables: dict) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for name, table in tables.items():
            con.register(name, table)
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


# --------------------------------------------------------------------------
# lake_daily
# --------------------------------------------------------------------------


class LakeDaily:
    name = "lake_daily"
    #: One business day per file; per-file job barriers dominate, so the
    #: file count, not the row count, sets the iteration's cost.
    n_files = 2
    rows_per_file = 4_000
    #: Each published Athena query runs this often on the fresh gold.
    query_repeats = 4
    #: One cold iteration takes the per-file path off its steepest part;
    #: it keeps getting faster file by file for the whole run (JIT), at the
    #: same rate in every run, so the measured iterations sit at the same
    #: point of that slope. More warm-up does not fit the run's budget.
    warmup_iterations = 1
    #: Medians need this many measured iterations however short the run
    #: is: one slow iteration must not set a run's figure.
    min_iterations = 4

    def setup(self, ctx: Ctx) -> None:
        import pyarrow as pa

        self.src = os.path.join(ctx.work, "batch")
        self.expect = datagen.write_day_batch(self.src, ctx.seed, self.n_files, self.rows_per_file)
        t0 = time.perf_counter()
        gold = self.expect.gold
        gold_rows = pa.table(
            {
                "transaction_id": [g[0] for g in gold],
                "source_file": [g[1] for g in gold],
                "date": pa.array([g[2] for g in gold], pa.date32()),
                "item_id": [g[3] for g in gold],
                "revenue": pa.array([g[4] for g in gold], pa.float64()),
            }
        )
        self.expected_gold_queries = {
            q: _oracle_rows(sql, {"fact_sales": gold_rows}) for q, sql in _GOLD_ORACLE.items()
        }
        self.survivors = {(g[0], g[1]) for g in gold}
        ctx.oracle_s += time.perf_counter() - t0

    def iterate(self, ctx: Ctx, i: int) -> dict:
        from retail_aws_etl_pipeline_spark.ingest import ingest_pending
        from retail_aws_etl_pipeline_spark.lake import LakeLayout
        from retail_aws_etl_pipeline_spark.operators.compact import (
            compact_pending,
            register_gold_view,
        )
        from retail_aws_etl_pipeline_spark.plans.views import daily_revenue_gold, top_items_gold

        spark = ctx.spark
        root = os.path.join(ctx.work, f"lake{i}")
        incoming = os.path.join(ctx.work, f"incoming{i}")
        os.makedirs(incoming)
        lake = LakeLayout(root)
        sample: dict = {"probe": self._probe(ctx) if ctx.tracer.enabled else None}

        ingest_ops, silver_files = [], []
        for fx in self.expect.files:
            shutil.copy(os.path.join(self.src, fx.name), incoming)  # the file lands
            before = _dir_stats(lake.processed)[1]
            op = ctx.op("ingest.file", lambda: ingest_pending(spark, incoming, lake))
            silver_files.append(_dir_stats(lake.processed)[1] - before)
            ingest_ops.append(op)
            got = op.value[0].counts if op.ok and len(op.value) == 1 else None
            ctx.expect(op, got == fx.counts(), f"{fx.name} counts {got} != {fx.counts()}")
        compact = ctx.op("compact", lambda: compact_pending(spark, lake))
        register = ctx.op("lake.register_gold_view", lambda: register_gold_view(spark, lake))

        queries = []
        for _ in range(self.query_repeats):
            for q, fn in (("daily_revenue", daily_revenue_gold), ("top_items", top_items_gold)):
                op = ctx.op(f"plans.gold.{q}", lambda fn=fn: fn(spark).collect())
                if op.ok:
                    cols = list(op.value[0].asDict()) if op.value else []
                    ctx.expect(op, _same(cols, op.value, *self.expected_gold_queries[q]), q)
                queries.append(op)

        self._check_gold(ctx, compact, lake)
        silver_b, _ = _dir_stats(lake.processed)
        gold_b, gold_files = _dir_stats(lake.gold)
        reject_b, _ = _dir_stats(os.path.join(root, "rejected"))
        n_dates = len([d for d in os.listdir(lake.gold) if d.startswith("date=")]) if os.path.isdir(lake.gold) else 0
        # the lake stays until the run ends: deleting it here would put the
        # file system's delete work inside the next iteration's timings

        batch_s = sum(o.seconds for o in ingest_ops) + compact.seconds + register.seconds
        sample.update(
            pass_s=batch_s + sum(o.seconds for o in queries),
            query_s=[o.seconds for o in queries if o.ok],
            batch_s=batch_s,
            ingest_s=sum(o.seconds for o in ingest_ops),
            ingest_ops=ingest_ops,
            silver_files=silver_files,
            compact=compact,
            queries=queries,
            silver_bytes=silver_b,
            gold_bytes=gold_b,
            reject_bytes=reject_b,
            gold_files_per_date=gold_files / max(n_dates, 1),
        )
        return sample

    def _check_gold(self, ctx: Ctx, compact: Op, lake) -> None:
        """Compaction totals against the generator, and the dedup survivors
        read back from the gold files by DuckDB."""
        if not compact.ok:
            return
        import duckdb

        res = compact.value["results"]
        total = sum(r["total_rows_in_source_partition"] for r in res)
        after = sum(r["rows_after_dedup"] for r in res)
        removed = sum(r["duplicate_rows_removed"] for r in res)
        exp = self.expect
        ctx.expect(
            compact,
            (total, after, removed) == (exp.silver_rows, len(exp.gold), exp.replays),
            f"compaction totals {(total, after, removed)} != "
            f"{(exp.silver_rows, len(exp.gold), exp.replays)}",
        )
        t0 = time.perf_counter()
        con = duckdb.connect()
        try:
            rows = con.execute(
                "SELECT transaction_id, source_file FROM read_parquet(?)",
                [os.path.join(lake.gold, "*", "*.parquet")],
            ).fetchall()
        finally:
            con.close()
        ctx.oracle_s += time.perf_counter() - t0
        ctx.expect(
            compact,
            len(rows) == len(self.survivors) and set(rows) == self.survivors,
            f"gold survivors differ ({len(rows)} rows vs {len(self.survivors)})",
        )

    def _probe(self, ctx: Ctx) -> dict:
        """Per-file layer probes outside the timed batch: the head check and
        the flexible read as ``ingest_file`` makes them, and the quality
        routing with both outputs sent to the no-op sink."""
        from retail_aws_etl_pipeline_spark.ingest import validate_file_head
        from retail_aws_etl_pipeline_spark.operators.validate import split_quality
        from retail_aws_etl_pipeline_spark.sources.reader import read_flexible_csv

        out = {"head_s": [], "read_s": [], "route_s": [], "data_rows": 0, "reject_rows": 0}
        for fx in self.expect.files:
            path = os.path.join(self.src, fx.name)
            head = ctx.op("sources.head_check", lambda: validate_file_head(path))
            ctx.expect(head, head.value == [], f"{fx.name} head check {head.value}")
            read = ctx.op("sources.read", lambda: read_flexible_csv(ctx.spark, path)[0])

            def route():
                split = split_quality(read.value, ingest_run_id="probe", source_file=fx.name)
                split.good.write.format("noop").mode("overwrite").save()
                split.rejects.write.format("noop").mode("overwrite").save()
                return split.resolve_counts()

            routed = ctx.op("validate.route", route) if read.ok else None
            out["head_s"].append(head.seconds)
            out["read_s"].append(read.seconds)
            if routed is not None and routed.ok:
                want = fx.counts()
                ctx.expect(
                    routed,
                    routed.value["reject_rows"] == want["reject_rows"]
                    and routed.value["data_rows"] == want["data_rows"],
                    f"{fx.name} routing {routed.value} != {want}",
                )
                out["route_s"].append(routed.seconds)
                out["data_rows"] += routed.value["data_rows"]
                out["reject_rows"] += routed.value["reject_rows"]
        return out


def _same(cols: list[str], rows, want_cols: list[str], want_rows: list[tuple]) -> bool:
    """The oracle contract of ``tests/oracle.compare``: same column names and
    the same order-insensitive bag of normalised values."""
    from oracle import value_bag

    got = [tuple(r) for r in rows]
    return sorted(cols) == sorted(want_cols) and value_bag(cols, got) == value_bag(want_cols, want_rows)


# --------------------------------------------------------------------------
# sql_analytics
# --------------------------------------------------------------------------


class SqlAnalytics:
    name = "sql_analytics"
    #: The checked pass in ``setup`` compiles every query once; one more
    #: pass to the no-op sink warms the measured path itself.
    warmup_iterations = 1
    min_iterations = 4

    def setup(self, ctx: Ctx) -> None:
        from oracle import duckdb_run

        from retail_aws_etl_pipeline_spark.plans.queries import all_specs
        from retail_aws_etl_pipeline_spark.session import load_tables

        self.specs = all_specs()
        self.data = TABLES_DIR
        self.load = ctx.op("session.load_tables", lambda: load_tables(ctx.spark, self.data, TABLES))
        # The warm-up pass is also the correctness gate: every query once,
        # collected and compared with its DuckDB oracle.
        for name in self._order(ctx):
            spec = self.specs[name]
            op = ctx.op(f"plans.{name}.check", lambda: _collect(spec.spark_fn(ctx.spark, self.data)))
            ctx.spark.catalog.clearCache()
            if op.ok:
                t0 = time.perf_counter()
                want = duckdb_run(spec.oracle, self.data)
                ctx.oracle_s += time.perf_counter() - t0
                ctx.expect(op, _same(*op.value, *want), f"{name} differs from its oracle")

    def _order(self, ctx: Ctx) -> list[str]:
        order = list(SQL_QUERIES)
        ctx.rng.shuffle(order)
        return order

    def iterate(self, ctx: Ctx, i: int) -> dict:
        ops = []
        for name in self._order(ctx):
            spec = self.specs[name]
            ops.append(
                ctx.op(
                    f"plans.{name}",
                    lambda: spec.spark_fn(ctx.spark, self.data).write.format("noop").mode("overwrite").save(),
                )
            )
            # intermediates a query persisted must not pile up across the pass
            ctx.spark.catalog.clearCache()
        return {"pass_s": sum(o.seconds for o in ops), "query_s": [o.seconds for o in ops if o.ok], "queries": ops}


def _collect(df) -> tuple[list[str], list]:
    return df.columns, df.collect()


WORKLOADS = {w.name: w for w in (LakeDaily, SqlAnalytics)}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
