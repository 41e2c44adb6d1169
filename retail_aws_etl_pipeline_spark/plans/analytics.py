"""Extended analytic query surface (oracle-checked).

The generic BI/ETL operator families the reference's Athena layer implies
(SURVEY.md §2.3-2.8: joins incl. as-of, windows incl. frames/lag,
set ops, rollup, pivot, sessionization, tumbling time windows, scalar
roundtrips) — each as a registry entry with a DuckDB oracle.

Determinism: see plans/queries.py module docstring. Timestamps are always
compared at microsecond precision (``CAST(ts AS TIMESTAMP)`` on the DuckDB
side matches Spark's µs truncation of the ns source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.functions.numeric import clean_currency_sql
from retail_aws_etl_pipeline_spark.functions.timestamps import (
    EXTENDED_PATTERNS,
    REFERENCE_PATTERNS,
    parse_timestamp_sql,
)
from retail_aws_etl_pipeline_spark.plans.queries import (
    DEC,
    dec_sum,
    register,
    register_extra,
    sql_dec_sum,
)
from retail_aws_etl_pipeline_spark.session import load_tables

# ---------------------------------------------------------------------------
# Set operations (U1/U2 surface)
# ---------------------------------------------------------------------------


@register(
    "unordered_parts_except",
    """
    SELECT p_partkey FROM part
    EXCEPT
    SELECT l_partkey AS p_partkey FROM lineitem
    ORDER BY p_partkey
    """,
    description="EXCEPT: parts never appearing in any lineitem",
    tags=("setop",),
)
def unordered_parts_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["part", "lineitem"])
    return (
        t["part"]
        .select("p_partkey")
        .exceptAll(t["lineitem"].select(F.col("l_partkey").alias("p_partkey")).distinct())
        .distinct()
        .orderBy("p_partkey")
    )


@register(
    "union_account_balances",
    f"""
    SELECT kind, COUNT(*) AS n, {sql_dec_sum("acctbal")} AS total_bal
    FROM (
        SELECT 'customer' AS kind, c_acctbal AS acctbal FROM customer
        UNION ALL
        SELECT 'supplier' AS kind, s_acctbal AS acctbal FROM supplier
    )
    GROUP BY kind ORDER BY kind
    """,
    description="UNION ALL across heterogeneous sources + agg (U1 unionByName)",
    tags=("setop", "agg"),
)
def union_account_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "supplier"])
    c = t["customer"].select(F.lit("customer").alias("kind"), F.col("c_acctbal").alias("acctbal"))
    s = t["supplier"].select(F.lit("supplier").alias("kind"), F.col("s_acctbal").alias("acctbal"))
    return (
        c.unionByName(s)
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum(F.col("acctbal")).alias("total_bal"))
        .orderBy("kind")
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup (free via Spark, SURVEY.md §2.4 note)
# ---------------------------------------------------------------------------


@register(
    "rollup_region_nation",
    f"""
    SELECT r_name, n_name, CAST(GROUPING(r_name) + 2 * GROUPING(n_name) AS BIGINT) AS grp,
           COUNT(*) AS n_customers, {sql_dec_sum("c_acctbal")} AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY grp, r_name NULLS FIRST, n_name NULLS FIRST
    """,
    description="ROLLUP with GROUPING ids over a dimension hierarchy",
    tags=("agg", "rollup"),
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "nation", "region"])
    joined = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name") + 2 * F.grouping("n_name")).cast("long").alias("grp"),
            F.count(F.lit(1)).alias("n_customers"),
            dec_sum(F.col("c_acctbal")).alias("total_bal"),
        )
        .select("r_name", "n_name", "grp", "n_customers", "total_bal")
        .orderBy("grp", F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


# ---------------------------------------------------------------------------
# Pivot
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@register(
    "user_event_pivot",
    f"""
    SELECT user_id,
           {", ".join(f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in EVENT_TYPES)}
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    description="Pivot event counts per user (explicit value list)",
    tags=("pivot", "agg"),
)
def user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t["events"]
        .groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Time-series: tumbling window, sessionization, as-of join
# ---------------------------------------------------------------------------


@register(
    "user_sessions",
    """
    WITH marked AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         - LAG(CAST(ts AS TIMESTAMP)) OVER (
                               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                         > INTERVAL 30 MINUTE
                    OR LAG(CAST(ts AS TIMESTAMP)) OVER (
                               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sessions AS (
        SELECT user_id, ts, event_id,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM marked
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sessions GROUP BY user_id, CAST(session_idx AS BIGINT)
    ORDER BY user_id, session_idx
    """,
    description="Sessionization: 30-min-gap lag + cumulative-flag windows "
    "(guide 'Common OLAP patterns')",
    tags=("window", "timeseries", "sessionization"),
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    # microseconds, not whole seconds: a 1800.5 s gap opens a session, as
    # the oracle's ``> INTERVAL 30 MINUTE`` does
    ts_us = F.unix_micros(F.col("ts"))
    gap = ts_us - F.lag(ts_us).over(w)
    marked = t["events"].select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0).alias("new_session"),
    )
    sessions = marked.withColumn("session_idx", F.sum("new_session").over(wf))
    return (
        sessions.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_idx")
    )


@register(
    "purchase_asof_last_click",
    """
    SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts, c.click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts
        FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND CAST(p.ts AS TIMESTAMP) >= c.click_ts
    ORDER BY p.event_id
    """,
    description="As-of join (Spark lacks a native one): composed as tagged "
    "union + last_value window — one shuffle by user, no range explosion",
    tags=("join", "asof", "timeseries"),
)
def purchase_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ev_ts"), F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("is_probe"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ev_ts"), "event_id", F.lit(1).alias("is_probe")
    )
    # Union-sort-carry: within (user) ordered by (ts, probe-after-click),
    # carry the last click ts forward; keep probe rows.
    unioned = clicks.unionByName(purchases)
    w = (
        W.partitionBy("user_id")
        .orderBy("ev_ts", "is_probe")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = unioned.withColumn(
        "click_ts",
        F.last(F.when(F.col("is_probe") == 0, F.col("ev_ts")), ignorenulls=True).over(w),
    )
    return (
        carried.filter(F.col("is_probe") == 1)
        .select("event_id", "user_id", F.col("ev_ts").alias("ts"), "click_ts")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Scalar-function roundtrips (ingest operators as an oracle-checked surface)
# ---------------------------------------------------------------------------


@register(
    "currency_clean_roundtrip",
    """
    SELECT event_id,
           CAST(regexp_replace(regexp_replace(regexp_replace(
                    '$' || format('{:,}', event_id * 13) || '.25',
                '[^0-9()\\.-]', '', 'g'), '[(]', '-', 'g'), '[)]', '', 'g')
           AS DOUBLE) AS cleaned
    FROM events
    ORDER BY event_id
    """,
    description="P9 currency cleaner over engine-built dirty strings "
    "('$1,234.25' with thousands separators)",
    tags=("scalar", "reference"),
)
def currency_clean_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    dirty = F.concat(F.lit("$"), F.format_number(F.col("event_id") * 13, 0), F.lit(".25"))
    return (
        t["events"]
        .select("event_id", dirty.alias("dirty"))
        .selectExpr("event_id", f"{clean_currency_sql('dirty')} AS cleaned")
        .orderBy("event_id")
    )


@register(
    "timestamp_parse_roundtrip",
    """
    SELECT event_id, strftime(CAST(ts AS TIMESTAMP), '%m/%d/%Y %H:%M') AS raw,
           CASE WHEN event_id % 3 = 0
                THEN try_strptime(strftime(CAST(ts AS TIMESTAMP), '%m/%d/%Y %H:%M'),
                                  '%m/%d/%Y %H:%M')
                ELSE date_trunc('day', CAST(ts AS TIMESTAMP)) END AS parsed
    FROM events
    WHERE event_id % 3 = 0 OR event_id % 3 = 1
    ORDER BY event_id
    """,
    description="P8 cascade over engine-formatted strings: MM/dd/yyyy H:mm "
    "rows parse to the minute; bare-date rows parse to midnight",
    tags=("scalar", "reference"),
)
def timestamp_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].filter((F.col("event_id") % 3 == 0) | (F.col("event_id") % 3 == 1))
    raw = F.when(
        F.col("event_id") % 3 == 0, F.date_format("ts", "MM/dd/yyyy HH:mm")
    ).otherwise(F.date_format("ts", "yyyy-MM-dd"))
    out = ev.select(
        "event_id", F.date_format("ts", "MM/dd/yyyy HH:mm").alias("raw"), raw.alias("raw_in")
    ).select(
        "event_id", "raw", F.expr(parse_timestamp_sql("raw_in", REFERENCE_PATTERNS)).alias("parsed")
    )
    return out.orderBy("event_id")


@register_extra(
    "small_quantity_revenue",
    f"""
    WITH per_part AS (
        SELECT l_partkey,
               SUM(CAST(l_quantity AS DECIMAL(28,6))) AS sq,
               COUNT(*) AS c
        FROM lineitem GROUP BY l_partkey
    )
    SELECT l.l_partkey AS part_id,
           COUNT(*) AS n_small_lines,
           {sql_dec_sum("l.l_extendedprice")} AS small_revenue
    FROM lineitem l
    JOIN per_part p ON l.l_partkey = p.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(28,6)) * 5 * p.c < p.sq
    GROUP BY l.l_partkey
    ORDER BY small_revenue DESC, part_id ASC
    LIMIT 25
    """,
    description="Q17-style correlated scalar subquery, decorrelated the way "
    "Catalyst plans it: lines with quantity below 20% of their part's "
    "average (threshold as exact cross-multiplied decimal — no fp boundary "
    "flips between engines)",
    tags=("join", "subquery", "agg"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    li = t["lineitem"]
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("sq"),
        F.count(F.lit(1)).alias("c"),
    )
    return (
        li.join(per_part, "l_partkey")
        .filter(F.col("l_quantity").cast(DEC) * 5 * F.col("c") < F.col("sq"))
        .groupBy(F.col("l_partkey").alias("part_id"))
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            dec_sum(F.col("l_extendedprice")).alias("small_revenue"),
        )
        .orderBy(F.desc("small_revenue"), F.asc("part_id"))
        .limit(25)
    )


@register(
    "timestamp_parse_extended",
    """
    WITH base AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
               CAST(event_id % 4 AS BIGINT) AS fmt_id,
               CASE event_id % 4
                   WHEN 0 THEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S')
                   WHEN 1 THEN strftime(CAST(ts AS TIMESTAMP), '%d/%m/%Y %H:%M')
                   WHEN 2 THEN strftime(CAST(ts AS TIMESTAMP), '%m/%d/%Y %I:%M%p')
                   ELSE strftime(CAST(ts AS TIMESTAMP), '%d-%m-%y %H:%M')
               END AS raw
        FROM events
    ), scored AS (
        SELECT fmt_id, raw,
               CASE WHEN fmt_id = 1 THEN try_strptime(raw, '%m/%d/%Y %H:%M') END AS ref_parsed,
               CASE fmt_id
                   WHEN 0 THEN try_strptime(raw, '%Y-%m-%dT%H:%M:%S')
                   WHEN 1 THEN COALESCE(try_strptime(raw, '%m/%d/%Y %H:%M'),
                                        try_strptime(raw, '%d/%m/%Y %H:%M'))
                   WHEN 2 THEN COALESCE(try_strptime(raw, '%m/%d/%Y %I:%M%p'),
                                        try_strptime(raw, '%d/%m/%Y %I:%M%p'))
                   ELSE try_strptime(raw, '%d-%m-%y %H:%M')
               END AS ext_parsed,
               CASE WHEN fmt_id = 0 THEN date_trunc('second', ts)
                    ELSE date_trunc('minute', ts) END AS expected
        FROM base
    )
    SELECT fmt_id, COUNT(*) AS n,
           CAST(SUM(CASE WHEN ref_parsed IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ref_ok,
           CAST(SUM(CASE WHEN ext_parsed IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ext_ok,
           CAST(SUM(CASE WHEN ext_parsed = expected THEN 1 ELSE 0 END) AS BIGINT) AS ext_exact
    FROM scored
    GROUP BY fmt_id
    ORDER BY fmt_id
    """,
    description="P8 extended registry (docs/timestamp_parsing.md:14-21 + "
    "sample-observed forms): parse-rate comparison of the reference 11-"
    "pattern cascade vs EXTENDED_PATTERNS over four engine-formatted raw "
    "shapes (ISO-T, day-first, AM/PM, two-digit-year). ref_ok counts what "
    "the reference recovers (only month-first-parseable day-first strings), "
    "ext_ok what the extended cascade recovers (everything), ext_exact how "
    "many parse back to the original instant — day-first strings with "
    "day ≤ 12 are consumed by the higher-precedence MM/dd pattern, the "
    "documented ambiguity cost (SURVEY.md §7.4.2)",
    tags=("scalar", "ingest", "reference"),
)
def timestamp_parse_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    fmt_id = (F.col("event_id") % 4).cast("long")
    raw = (
        F.when(fmt_id == 0, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"))
        .when(fmt_id == 1, F.date_format("ts", "dd/MM/yyyy HH:mm"))
        .when(fmt_id == 2, F.date_format("ts", "MM/dd/yyyy hh:mma"))
        .otherwise(F.date_format("ts", "dd-MM-yy HH:mm"))
    )
    base = t["events"].select("ts", fmt_id.alias("fmt_id"), raw.alias("raw"))
    ref = F.expr(parse_timestamp_sql("raw", REFERENCE_PATTERNS))
    ext = F.expr(parse_timestamp_sql("raw", EXTENDED_PATTERNS))
    expected = F.when(
        F.col("fmt_id") == 0, F.date_trunc("second", F.col("ts"))
    ).otherwise(F.date_trunc("minute", F.col("ts")))
    return (
        base.withColumn("ref_parsed", ref)
        .withColumn("ext_parsed", ext)
        .withColumn("expected", expected)
        .groupBy("fmt_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("ref_parsed").isNotNull(), 1).otherwise(0)).alias("ref_ok"),
            F.sum(F.when(F.col("ext_parsed").isNotNull(), 1).otherwise(0)).alias("ext_ok"),
            F.sum(
                F.when(F.col("ext_parsed") == F.col("expected"), 1).otherwise(0)
            ).alias("ext_exact"),
        )
        .orderBy("fmt_id")
    )


@register_extra(
    "cube_order_stats",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS BIGINT) AS grp,
           COUNT(*) AS n_orders, {sql_dec_sum("o_totalprice")} AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY grp, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    description="CUBE over two dimensions with grouping ids",
    tags=("agg", "cube"),
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            (F.grouping("o_orderstatus") + 2 * F.grouping("o_orderpriority")).cast("long").alias("grp"),
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum(F.col("o_totalprice")).alias("total_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "grp", "n_orders", "total_price")
        .orderBy("grp", F.asc_nulls_first("o_orderstatus"), F.asc_nulls_first("o_orderpriority"))
    )


@register(
    "distinct_buyer_counts",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_buyers,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    description="Exact COUNT(DISTINCT) per group (approx_count_distinct is "
    "the scale knob; exact form is the oracle-checkable surface)",
    tags=("agg", "distinct"),
)
def distinct_buyer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_buyers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "shipping_priority",
    f"""
    SELECT l.l_orderkey AS orderkey,
           {sql_dec_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
    ORDER BY revenue DESC, orderkey ASC
    LIMIT 20
    """,
    description="TPC-H-Q3-style shipping priority: selective dim filter + "
    "two joins + agg + top-K",
    tags=("join", "agg", "topk"),
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.to_date("o_orderdate").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(20)
    )


@register(
    "user_rolling_hour",
    """
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_prev_hour,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS value_prev_hour
    FROM events
    WINDOW w AS (
        PARTITION BY user_id
        ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    )
    ORDER BY user_id, event_id
    """,
    description="Rolling 1-hour range-frame window per user (time-based "
    "frame at microsecond precision, exact-decimal running sum)",
    tags=("window", "timeseries"),
)
def user_rolling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        t["events"]
        .select(
            "user_id",
            "event_id",
            "ts",
            F.count(F.lit(1)).over(w).cast("long").alias("n_prev_hour"),
            F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("value_prev_hour"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "fuzzy_part_names",
    """
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a
    JOIN part b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
               AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    ORDER BY key_a, key_b
    """,
    description="Blocked fuzzy match: equi-join on (brand, size) blocks, "
    "edit-distance verify — the scalable entity-resolution shape (never "
    "all-pairs)",
    tags=("join", "fuzzy", "text"),
)
def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["part"])
    a = t["part"].select(
        F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"),
        "p_brand", "p_size",
    )
    b = t["part"].select(
        F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b"),
        "p_brand", "p_size",
    )
    return (
        a.join(b, ["p_brand", "p_size"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_dist") <= 4)
        .select("key_a", "key_b", "name_a", "name_b", "edit_dist")
        .orderBy("key_a", "key_b")
    )


@register(
    "nation_market_share",
    f"""
    WITH rev AS (
        SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
               n.n_name AS nation,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT CAST(o_year AS BIGINT) AS o_year,
           {sql_dec_sum("CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END")} AS nation_volume,
           {sql_dec_sum("volume")} AS total_volume,
           {sql_dec_sum("CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END")}
               / {sql_dec_sum("volume")} AS mkt_share
    FROM rev
    GROUP BY o_year
    ORDER BY o_year
    """,
    description="Q8-style market share: 4-way join, year extraction, "
    "conditional-aggregation ratio (share of one nation's volume per "
    "order year); ratio of two exact-decimal sums in identical double ops",
    tags=("join", "agg", "tpch"),
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "customer", "nation"])
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_vol = F.when(F.col("n_name") == "NATION_1", volume).otherwise(F.lit(0.0))
    rev = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            volume.alias("volume"),
            nation_vol.alias("nation_vol"),
        )
    )
    return (
        rev.groupBy("o_year")
        .agg(
            dec_sum(F.col("nation_vol")).alias("nation_volume"),
            dec_sum(F.col("volume")).alias("total_volume"),
            (dec_sum(F.col("nation_vol")) / dec_sum(F.col("volume"))).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


@register(
    "part_supplier_counts",
    """
    SELECT p.p_brand, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS n_suppliers
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_type NOT LIKE 'PROMO%'
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_size
    ORDER BY n_suppliers DESC, p.p_brand, p.p_size
    """,
    description="Q16-style: NOT IN anti-subquery (excluded suppliers) + "
    "NOT LIKE filter + grouped COUNT(DISTINCT) with top-heavy ordering",
    tags=("join", "anti", "agg", "tpch"),
)
def part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier"])
    excluded = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t["lineitem"]
        .join(excluded, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(
            F.broadcast(t["part"].filter(~F.col("p_type").like("PROMO%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("n_suppliers"))
        .orderBy(F.col("n_suppliers").desc(), "p_brand", "p_size")
    )


@register_extra(
    "forecast_revenue",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           {sql_dec_sum("l_extendedprice * l_discount")} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
    description="Q6-style forecast revenue: tight conjunctive predicate "
    "over the fact scan (pushdown-friendly), single global aggregate",
    tags=("agg", "tpch"),
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dec_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        )
    )


@register_extra(
    "priority_order_counts",
    """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    description="Q4-style priority counts: correlated EXISTS with an "
    "inequality (shipped strictly after order date) as a left-semi join",
    tags=("semi", "agg", "tpch"),
)
def priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    return (
        orders.join(
            t["lineitem"],
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register_extra(
    "two_nation_volume",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           {sql_dec_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY n1.n_name, n2.n_name, CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT)
    ORDER BY supp_nation, cust_nation, l_year
    """,
    description="Q7-style bilateral shipping volume: 6-way join with a "
    "disjunctive cross-nation predicate, yearly rollup",
    tags=("join", "agg", "tpch"),
)
def two_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["supplier", "lineitem", "orders", "customer", "nation"])
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register_extra(
    "returned_item_customers",
    f"""
    SELECT c.c_custkey, c.c_name,
           {sql_dec_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           n.n_name AS nation
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    description="Q10-style returned-item customer ranking: fact filtered "
    "on return flag, joined to customer+nation, top-20 by lost revenue "
    "(deterministic tiebreak on custkey)",
    tags=("join", "agg", "topk", "tpch"),
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "nation")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register_extra(
    "promo_revenue_ratio",
    f"""
    SELECT {sql_dec_sum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")} AS promo_revenue,
           {sql_dec_sum("l.l_extendedprice * (1 - l.l_discount)")} AS total_revenue,
           100.0 * {sql_dec_sum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
               / {sql_dec_sum("l.l_extendedprice * (1 - l.l_discount)")} AS promo_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
      AND l.l_shipdate < TIMESTAMP '1997-04-01'
    """,
    description="Q14-style promo revenue share: month-windowed fact ⋈ "
    "broadcast part, conditional-aggregation percentage in exact decimals",
    tags=("join", "agg", "tpch"),
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            dec_sum(promo).alias("promo_revenue"),
            dec_sum(vol).alias("total_revenue"),
            (F.lit(100.0) * dec_sum(promo) / dec_sum(vol)).alias("promo_pct"),
        )
    )


@register_extra(
    "brand_quantity_revenue",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           {sql_dec_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
    description="Q19-style disjunctive predicate join: three brand/size/"
    "quantity clauses OR-ed across the join, single aggregate",
    tags=("join", "agg", "tpch"),
)
def brand_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "part"])

    def clause(brand: str, max_size: int, qlo: int, qhi: int):
        return (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= max_size)
            & (F.col("l_quantity") >= qlo)
            & (F.col("l_quantity") <= qhi)
        )

    cond = (
        clause("Brand#1", 15, 1, 11)
        | clause("Brand#2", 25, 10, 20)
        | clause("Brand#3", 35, 20, 30)
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@register_extra(
    "dormant_rich_customers",
    f"""
    SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {sql_dec_sum("c.c_acctbal")} AS total_acctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
        FROM customer WHERE c_acctbal > 0.0
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
    )
    GROUP BY c.c_nationkey
    ORDER BY nationkey
    """,
    description="Q22-style dormant-rich customers: scalar-average "
    "subquery threshold + anti-join against recent orders, grouped "
    "balance rollup",
    tags=("anti", "subquery", "agg", "tpch"),
)
def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    avg_bal = (
        t["customer"]
        .filter(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
                "avg_bal"
            )
        )
    )
    recent = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        t["customer"]
        .join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dec_sum(F.col("c_acctbal")).alias("total_acctbal"),
        )
        .orderBy("nationkey")
    )


@register(
    "conversion_funnel",
    """
    WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
    v AS (SELECT user_id, MIN(ts) AS view_ts FROM e WHERE event_type = 'view' GROUP BY user_id),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS click_ts
        FROM e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.view_ts
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS purchase_ts
        FROM e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
        GROUP BY e.user_id
    )
    SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    ORDER BY v.user_id
    """,
    description="Ordered conversion funnel (view → first later click → "
    "first later purchase) per user; staged min-aggregations chained by "
    "strict time inequality — the analyst funnel over the events stream",
    tags=("timeseries", "funnel"),
)
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "view_ts", "click_ts", "purchase_ts")
        .orderBy("user_id")
    )


@register(
    "weekly_retention_cohorts",
    """
    WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
    f AS (SELECT user_id, MIN(d) AS cohort_date FROM e GROUP BY user_id)
    SELECT f.cohort_date,
           CAST(date_diff('day', f.cohort_date, e.d) // 7 AS BIGINT) AS week_index,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM e JOIN f ON e.user_id = f.user_id
    GROUP BY f.cohort_date, CAST(date_diff('day', f.cohort_date, e.d) // 7 AS BIGINT)
    ORDER BY cohort_date, week_index
    """,
    description="Retention cohorts: users grouped by first-seen date, "
    "distinct-user counts per whole week since — integer day arithmetic "
    "(no engine-specific week truncation)",
    tags=("timeseries", "agg"),
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select("user_id", F.to_date("ts").alias("d"))
    f = e.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    return (
        e.join(f, "user_id")
        .select(
            "user_id",
            "cohort_date",
            F.expr("datediff(d, cohort_date) div 7").cast("long").alias("week_index"),
        )
        .groupBy("cohort_date", "week_index")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_date", "week_index")
    )


@register(
    "grouping_sets_revenue",
    f"""
    SELECT o.o_orderpriority, o.o_orderstatus,
           {sql_dec_sum("o.o_totalprice")} AS total_price,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
    ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
    description="Explicit GROUPING SETS (pair, priority-only, grand "
    "total) through the engine's SQL interface — one pass, expanded "
    "grouping, exact-decimal sums",
    tags=("agg", "sql"),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["orders"])
    return spark.sql(
        f"""
        SELECT o_orderpriority, o_orderstatus,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
        """
    )


@register_extra(
    "customer_order_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    description="Q13-style customer distribution: zero-preserving left outer "
    "join then aggregation-of-aggregation (histogram of per-customer order "
    "counts). The outer join keeps order-less customers as c_count=0 — the "
    "shape a plain inner join silently drops",
    tags=("join", "agg", "outer"),
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    per_cust = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register_extra(
    "customer_spend_deciles",
    f"""
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {sql_dec_sum("total_spent")} AS decile_revenue,
           MIN(total_spent) AS min_spent,
           MAX(total_spent) AS max_spent
    FROM (
        SELECT c_custkey,
               total_spent,
               CAST(NTILE(10) OVER (ORDER BY total_spent DESC, c_custkey ASC)
                    AS BIGINT) AS decile
        FROM (
            SELECT o_custkey AS c_custkey,
                   {sql_dec_sum("o_totalprice")} AS total_spent
            FROM orders
            GROUP BY o_custkey
        )
    )
    GROUP BY decile
    ORDER BY decile
    """,
    description="NTILE decile segmentation over per-customer spend, computed "
    "WITHOUT a global window (VERDICT r5 #2): range-repartition on the sort "
    "key, per-partition row_number (window partitioned by "
    "spark_partition_id), per-partition counts -> triangular broadcast "
    "self-join for rank offsets (no driver collect, no unpartitioned "
    "window), then the exact NTILE bucket formula from the global rank and "
    "broadcast total count. Tiebreak on c_custkey makes bucket edges "
    "deterministic; AQE only coalesces ADJACENT range partitions, so "
    "partition-id order still follows range order and the reconstructed "
    "global rank is exact. Oracle keeps DuckDB's native NTILE — the formula "
    "must reproduce it bit-for-bit.",
    tags=("window", "agg"),
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    per_cust = (
        t["orders"]
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(dec_sum(F.col("o_totalprice")).alias("total_spent"))
    )
    # Distributed global rank + exact NTILE via the shared
    # _distributed_ntile helper (defined below; extracted r7 so the RFM
    # quartiles reuse the identical audited construction).
    return (
        _distributed_ntile(
            per_cust, [F.desc("total_spent"), F.asc("c_custkey")], 10, "decile"
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dec_sum(F.col("total_spent")).alias("decile_revenue"),
            F.min("total_spent").alias("min_spent"),
            F.max("total_spent").alias("max_spent"),
        )
        .orderBy("decile")
    )


#: Interval width for the banded temporal self-join (microseconds).
PAIR_WINDOW_US = 300_000_000


def pairs_within_window(e: DataFrame, width_us: int) -> DataFrame:
    """Banded interval self-join core over (event_id, user_id, t µs).

    Each earlier event probes its own time block and the next one (blocks
    are `width_us` wide, so a later event within the window can only fall
    in those two); the equi-join on (user, block) generates each
    qualifying pair exactly once, verified by the integer gap filter.
    """
    a = e.withColumn("__blk", F.expr(f"t div {width_us}"))
    probes = a.withColumn(
        "__probe", F.explode(F.array(F.col("__blk"), F.col("__blk") + 1))
    ).select(
        F.col("user_id"),
        F.col("event_id").alias("id_a"),
        F.col("t").alias("t_a"),
        "__probe",
    )
    b = e.select(
        F.col("user_id"),
        F.col("event_id").alias("id_b"),
        F.col("t").alias("t_b"),
        F.expr(f"t div {width_us}").alias("__probe"),
    )
    return (
        probes.join(b, ["user_id", "__probe"])
        .filter(
            (
                (F.col("t_a") < F.col("t_b"))
                | ((F.col("t_a") == F.col("t_b")) & (F.col("id_a") < F.col("id_b")))
            )
            & (F.col("t_b") - F.col("t_a") <= width_us)
        )
        .select(
            "user_id",
            "id_a",
            "id_b",
            (F.col("t_b") - F.col("t_a")).cast("long").alias("gap_us"),
        )
    )


@register_extra(
    "event_pairs_within_window",
    f"""
    WITH e AS (
        SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t
        FROM events
    )
    SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
           CAST(b.t - a.t AS BIGINT) AS gap_us
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND (a.t < b.t OR (a.t = b.t AND a.event_id < b.event_id))
     AND b.t - a.t <= {PAIR_WINDOW_US}
    ORDER BY a.user_id, id_a, id_b
    """,
    description="Banded temporal self-join (interval join, a shape Spark "
    "has no native operator for): all same-user event pairs within a "
    "5-minute window. The scale form never does a per-user cross join — "
    "time buckets the window width wide make the join an EQUI-join on "
    "(user, bucket): the earlier event probes its own and the next "
    "bucket (gap ≤ width ⟹ the later event lives in one of the two), so "
    "each qualifying pair is generated exactly once and the verify "
    "filter is integer microsecond arithmetic. Skewed users spread "
    "across buckets instead of one task.",
    tags=("join", "timeseries", "band-join"),
)
def event_pairs_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("t")
    )
    return pairs_within_window(e, PAIR_WINDOW_US).orderBy("user_id", "id_a", "id_b")


#: Hopping rollup geometry: 10-minute windows advancing every 5 minutes.
HOP_WIN_US = 600_000_000
HOP_SLIDE_US = 300_000_000


@register_extra(
    "hopping_event_rollup",
    f"""
    WITH e AS (
        SELECT event_type, user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t
        FROM events
    ),
    slotted AS (
        SELECT e.event_type, e.user_id,
               make_timestamp(((e.t // {HOP_SLIDE_US}) - k.k) * {HOP_SLIDE_US})
                   AS hop_start,
               ((e.t // {HOP_SLIDE_US}) - k.k) * {HOP_SLIDE_US} AS s_us
        FROM e, (SELECT UNNEST(generate_series(0, {HOP_WIN_US // HOP_SLIDE_US - 1})) AS k) k
        WHERE ((e.t // {HOP_SLIDE_US}) - k.k) * {HOP_SLIDE_US} <= e.t
          AND e.t < ((e.t // {HOP_SLIDE_US}) - k.k) * {HOP_SLIDE_US} + {HOP_WIN_US}
    )
    SELECT hop_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM slotted
    GROUP BY hop_start, event_type
    ORDER BY hop_start, event_type
    """,
    description="Hopping-window rollup (overlapping windows, 10 min wide "
    "advancing every 5): Spark's native F.window(slide) — each event "
    "expands scan-side into its win/slide covering slots, then one "
    "map-side-combined groupBy; the oracle reproduces Spark's epoch-"
    "aligned window geometry with integer-microsecond slot arithmetic. "
    "Counts only (event + distinct-user) so every value is engine-exact.",
    tags=("window", "timeseries", "agg"),
)
def hopping_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t["events"]
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("hop_start"),
            "event_type",
            "n_events",
            "n_users",
        )
        .orderBy("hop_start", "event_type")
    )


def _grouped_lower_median(counted: DataFrame, val_col: str) -> DataFrame:
    """Lower median per event_type from a (event_type, value, cnt)
    HISTOGRAM frame: cumulative counts over the value-ordered distinct
    values, pick the first value whose cum reaches (n+1) div 2.

    The window input is the aggregated histogram — min(rows, distinct
    values) per type, map-side-combined before the shuffle — NOT the raw
    event stream: with few event types a raw-row window funnels N/k rows
    through one task (measured 4.3x at 10x corpus before this form; the
    histogram form's window input stays constant-size when values
    repeat). Returns (event_type, med, n)."""
    wt = W.partitionBy("event_type").orderBy(val_col)
    cum = counted.withColumn(
        "__cum", F.sum("cnt").over(wt.rowsBetween(W.unboundedPreceding, 0))
    )
    n = counted.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    return (
        cum.join(n, "event_type")
        .filter(F.col("__cum") >= F.expr("(n + 1) div 2"))
        .groupBy("event_type", "n")
        .agg(F.min(val_col).alias("med"))
    )


@register_extra(
    "event_value_mad_outliers",
    """
    WITH mq AS (
        SELECT event_id, event_type,
               CAST(floor(value * 1000000) AS BIGINT) AS qv
        FROM events
        WHERE value IS NOT NULL
    ),
    mr AS (
        SELECT event_type, qv,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY qv) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM mq
    ),
    med AS (
        SELECT event_type, qv AS med_q, n
        FROM mr WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT q.event_type, q.qv, abs(q.qv - m.med_q) AS ad, m.med_q, m.n
        FROM mq q JOIN med m ON m.event_type = q.event_type
    ),
    dr AS (
        SELECT event_type, ad, med_q, n,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ad) AS rn
        FROM dev
    ),
    mad AS (
        SELECT event_type, ad AS mad_q, med_q, n
        FROM dr WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type, CAST(m.n AS BIGINT) AS n_events,
           m.med_q / 1000000.0 AS median_value,
           m.mad_q / 1000000.0 AS mad_value,
           CAST(SUM(CASE WHEN CAST(d.ad AS HUGEINT) * 10000
                              > 3 * 14826 * CAST(m.mad_q AS HUGEINT)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type, m.n, m.med_q, m.mad_q
    ORDER BY d.event_type
    """,
    description="Robust per-type outlier counts via MAD (median absolute "
    "deviation), the breakdown-resistant twin of event_value_outliers' "
    "z-score: one extreme value shifts a mean and inflates a stddev but "
    "leaves both medians fixed. Medians are ELEMENT-PICKING (lower "
    "median at rank (n+1) div 2 over the 10^6-quantized integers — no "
    "interpolation, so engine-exact by construction), computed with "
    "per-type windows (bounded groups, keyed shuffle); the outlier test "
    "|x - med| * 10^4 > 3 * 14826 * MAD is the k = 1.4826 "
    "normal-consistency rule in cross-multiplied integers.",
    tags=("agg", "profiling", "robust"),
)
def event_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    # NULL values are excluded explicitly (not left to engine-specific
    # NULL ordering inside the median windows — Spark sorts NULLS FIRST,
    # DuckDB NULLS LAST), and the oracle filters identically.
    q = t["events"].filter(F.col("value").isNotNull()).select(
        "event_type", F.floor(F.col("value") * 1000000).cast("long").alias("qv")
    )
    # Both histogram frames are re-consumed (hist: the median pass reads
    # it twice, the deviation pass once, the final outlier pass once —
    # unpersisted, each re-ran the corpus scan + groupBy; dev: twice
    # inside the MAD median). Persist the already-reduced histograms —
    # min(rows, distinct quantized values) per type, the same bounded
    # frame the windows rely on (r16; 28 → 12 static exchanges).
    hist = (
        q.groupBy("event_type", "qv").agg(F.count(F.lit(1)).alias("cnt")).persist()
    )
    med = _grouped_lower_median(hist, "qv").select(
        "event_type", F.col("med").alias("med_q"), "n"
    )
    dev = (
        hist.join(med, "event_type")
        .withColumn("ad", F.abs(F.col("qv") - F.col("med_q")))
        .groupBy("event_type", "ad")
        .agg(F.sum("cnt").alias("cnt"))
        .persist()
    )
    mad = _grouped_lower_median(dev, "ad").select(
        "event_type", F.col("med").alias("mad_q")
    )
    return (
        hist.join(med, "event_type")
        .join(mad, "event_type")
        .groupBy("event_type", "n", "med_q", "mad_q")
        .agg(
            # DECIMAL(20,0)-widened cross-multiply: |qv - med| can reach
            # ~2e18 for legitimately-quantizable values (|value| up to
            # 9.2e12), so the int64 * 10000 form overflows — ANSI mode
            # crashes the query on wild-but-valid inputs (r12 adversarial
            # corpus finding). decimal(20,0) * decimal(5,0) -> (26,0),
            # exact; the oracle widens to HUGEINT.
            F.sum(
                F.when(
                    F.abs(F.col("qv") - F.col("med_q")).cast("decimal(20,0)")
                    * 10000
                    > F.lit(3 * 14826) * F.col("mad_q").cast("decimal(20,0)"),
                    F.col("cnt"),
                ).otherwise(F.lit(0))
            ).alias("n_outliers")
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_events"),
            (F.col("med_q") / 1000000.0).alias("median_value"),
            (F.col("mad_q") / 1000000.0).alias("mad_value"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


@register_extra(
    "funnel_step_latency",
    """
    WITH fl_v AS (
        SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    fl_c AS (
        SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t_click,
               MIN(v.t_view) AS t_view
        FROM events e JOIN fl_v v ON v.user_id = e.user_id
        WHERE e.event_type = 'click'
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) > v.t_view
        GROUP BY e.user_id
    ),
    fl_p AS (
        SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t_p,
               MIN(c.t_click) AS t_click
        FROM events e JOIN fl_c c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) > c.t_click
        GROUP BY e.user_id
    ),
    fl_gaps AS (
        SELECT 'view->click' AS step, t_click - t_view AS gap FROM fl_c
        UNION ALL
        SELECT 'click->purchase', t_p - t_click FROM fl_p
    ),
    fl_h AS (SELECT step, gap, COUNT(*) AS c FROM fl_gaps GROUP BY step, gap),
    fl_cum AS (
        SELECT step, gap,
               SUM(c) OVER (PARTITION BY step ORDER BY gap) AS cum,
               SUM(c) OVER (PARTITION BY step) AS n
        FROM fl_h
    )
    SELECT step, CAST(n AS BIGINT) AS n_users,
           CAST(MIN(gap) AS BIGINT) AS p50_gap_us
    FROM fl_cum WHERE cum >= (n + 1) // 2
    GROUP BY step, n
    ORDER BY step
    """,
    description="Funnel timing: the median (lower, element-picking) "
    "elapsed microseconds between consecutive funnel steps — first view "
    "to first subsequent click, first click to first subsequent "
    "purchase — for the users who progressed, per the same progressive "
    "step semantics as conversion_funnel. Where the funnel counts WHO "
    "converts, this measures HOW FAST; the p50 is computed from the "
    "(step, gap) HISTOGRAM via cumulative counts (the MAD rewrite's "
    "discipline — window input is the aggregated distinct-gap frame, "
    "never the raw user stream), so the only per-user work is three "
    "keyed min-aggregates.",
    tags=("window", "funnel", "profiling"),
)
def funnel_step_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("t")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("t") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_click"), F.min("t_view").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t_click"), "user_id")
        .filter(F.col("t") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_p"), F.min("t_click").alias("t_click"))
    )
    gaps = c.select(
        F.lit("view->click").alias("event_type"),
        (F.col("t_click") - F.col("t_view")).alias("gap"),
    ).unionByName(
        p.select(
            F.lit("click->purchase").alias("event_type"),
            (F.col("t_p") - F.col("t_click")).alias("gap"),
        )
    )
    hist = gaps.groupBy("event_type", "gap").agg(F.count(F.lit(1)).alias("cnt"))
    med = _grouped_lower_median(hist, "gap")
    return med.select(
        F.col("event_type").alias("step"),
        F.col("n").cast("long").alias("n_users"),
        F.col("med").cast("long").alias("p50_gap_us"),
    ).orderBy("step")


# ---------------------------------------------------------------------------
# Round-7 retail-analytics additions: market-basket affinity, RFM
# segmentation, Benford first-digit audit, partition-key skew report.
# ---------------------------------------------------------------------------

#: Market-basket knobs: minimum pair support to report, and the basket-size
#: cap that bounds the per-order pair fan-out (C(cap,2) per basket) — the
#: same role max_gram_freq plays for the dedup inverted index. TPC-H orders
#: top out at 7 lineitems, so the cap is a no-op here; on real carts it is
#: the knob that keeps the self-join sub-quadratic.
AFFINITY_MIN_SUPPORT = 2
AFFINITY_MAX_BASKET = 64


@register(
    "item_affinity_pairs",
    f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_orderkey IN (
            SELECT l_orderkey FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
            GROUP BY l_orderkey HAVING COUNT(*) <= {AFFINITY_MAX_BASKET}
        )
    ),
    supp AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s FROM b GROUP BY l_partkey),
    nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM b),
    pairs AS (
        SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS support_ab
        FROM b a JOIN b c
          ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {AFFINITY_MIN_SUPPORT}
    )
    SELECT part_a, part_b, support_ab,
           sa.s AS support_a, sb.s AS support_b,
           CAST((support_ab * nb.n * 1000000) // (sa.s * sb.s) AS BIGINT) AS lift_ppm
    FROM pairs
    JOIN supp sa ON sa.l_partkey = part_a
    JOIN supp sb ON sb.l_partkey = part_b
    CROSS JOIN nb
    ORDER BY part_a, part_b
    """,
    description="Market-basket affinity (a-priori 2-itemsets): distinct "
    "(order, part) baskets self-join on the order key to count pair "
    "co-occurrence, filtered to a minimum support, with integer-exact "
    "lift in ppm (support_ab * n_baskets * 1e6 div (support_a * "
    "support_b)) — the association-rule core of retail cross-sell "
    "analytics. Scale: the only shuffles are the basket distinct, the "
    "orderkey equi-join, and the pair groupBy (all keyed, "
    "combiner-friendly); per-basket fan-out is bounded by "
    "AFFINITY_MAX_BASKET (C(cap,2) pairs max per order), the cap that "
    "keeps a hot cart from turning the join quadratic, and the part "
    "support frame joins AFTER pair aggregation so it sees "
    "candidate-filtered volume.",
    tags=("join", "agg", "retail"),
)
def item_affinity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    # ONE shuffle builds the basket arrays (collect_set dedups parts
    # within an order); supports, the basket total, and the pair counts
    # all derive from this persisted frame — the naive form re-ran the
    # 4x-larger (order, part) distinct exchange once per consumer
    # (measured 3.8 s -> 1.1 s at sf0.1). Per-order aggregation state is
    # bounded by basket size; the cap filter bounds the scan-side pair
    # fan-out at C(cap, 2).
    grouped = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") <= AFFINITY_MAX_BASKET)
        .persist()
    )
    supp = (
        grouped.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    nb = grouped.agg(F.count(F.lit(1)).alias("n"))
    # Scan-side ordered-pair generation from each basket array (parts is
    # sorted, so (i < j) pairs are exactly the part_a < part_b pairs).
    pair_structs = F.expr(
        "flatten(transform(parts, (x, i) ->"
        " transform(slice(parts, i + 2, size(parts)), y -> struct(x AS part_a, y AS part_b))))"
    )
    pairs = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support_ab"))
        .filter(F.col("support_ab") >= AFFINITY_MIN_SUPPORT)
    )
    return (
        pairs.join(supp.select(F.col("l_partkey").alias("part_a"), F.col("s").alias("support_a")), "part_a")
        .join(supp.select(F.col("l_partkey").alias("part_b"), F.col("s").alias("support_b")), "part_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            "support_ab",
            "support_a",
            "support_b",
            F.expr("support_ab * n * 1000000 div (support_a * support_b)")
            .cast("long")
            .alias("lift_ppm"),
        )
        .orderBy("part_a", "part_b")
    )


def _distributed_ntile(df: DataFrame, sort_cols: list, n_buckets: int, out_col: str, partitions: int | None = None) -> DataFrame:
    """Exact global NTILE(n_buckets) WITHOUT a global window — the
    customer_spend_deciles construction (range repartition on the sort
    key, per-partition row_number windowed by spark_partition_id,
    broadcast triangular prefix-sum offsets, exact NTILE bucket formula),
    extracted so every quantile-scoring query shares one audited plan
    shape. ``sort_cols`` must end in a unique tiebreaker. Adds
    ``out_col`` (1-based bucket, long) and preserves all input columns.
    AQE only coalesces ADJACENT range partitions, so partition-id order
    still follows range order and the reconstructed rank is exact.

    ``partitions`` defaults to the session's ``spark.sql.shuffle.
    partitions`` (the r8 skew study's knob fix, applied here too — a
    fixed count would cap the ranking stage's parallelism regardless of
    cluster size). Bucket assignment is partition-count-invariant: the
    reconstructed global rank is the same total order under any range
    partition count, so outputs and oracles are unaffected by the knob.

    The ranged frame is PERSISTED: both the row_number branch and the
    counts branch consume it, and RangePartitioner samples at execution
    time — without the pin, rank correctness would rest on Spark's
    exchange reuse deduplicating the two executions (the latent
    assumption ADVICE r7 flagged on range-partitioned rank kernels).
    Once materialized, ``__pid`` is a STORED column, so the global rank
    no longer depends on any later partitioning at all."""
    ranked = _distributed_rank(df, sort_cols, partitions=partitions)
    k = n_buckets
    bucket = F.expr(
        f"""
        CASE WHEN __rn <= (__n % {k}) * (__n div {k} + 1)
             THEN (__rn + (__n div {k})) div (__n div {k} + 1)
             ELSE (__n % {k})
                  + (__rn - (__n % {k}) * (__n div {k} + 1) + (__n div {k}) - 1)
                    div (__n div {k})
        END
        """
    ).cast("long")

    return ranked.withColumn(out_col, bucket).drop(
        "__pid", "__lrn", "__offset", "__n", "__rn"
    )


def _distributed_rank(
    df: DataFrame,
    sort_cols: list,
    out_col: str | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Exact global ROW_NUMBER without a global window — the rank core of
    :func:`_distributed_ntile`, factored (r15) so rank-consuming queries
    (the Zipf census, vocab coverage) share the same audited plan shape:
    range repartition on the sort key, local sort + per-partition record
    number (monotonically_increasing_id low bits — no window, no second
    exchange; r16), broadcast triangular prefix-sum offsets. With
    ``out_col=None`` (the ntile-internal form) the working columns
    ``__pid __lrn __offset __rn __n`` are kept for the bucket formula;
    with a name, the rank lands in ``out_col`` (1-based, long) and the
    working columns are dropped. ``sort_cols`` must end in a unique
    tiebreaker. The ranged frame is persisted (both branches consume it;
    RangePartitioner samples at execution time)."""
    if partitions is None:
        partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    # Local row number WITHOUT a window (r16 optimization): row_number()
    # OVER (PARTITION BY __pid ...) required ClusteredDistribution(__pid),
    # and the planner cannot know the range exchange already satisfies it
    # (one __pid value per physical partition by construction), so every
    # rank pass paid a SECOND full exchange — hashpartitioning(__pid) —
    # plus its sort, re-shuffling the whole frame it had just range-
    # partitioned. Instead: sort locally within the range partitions and
    # read the per-partition record number out of
    # monotonically_increasing_id()'s low 33 bits (its documented layout:
    # partition id << 33 | record number, assigned in physical row order,
    # which the local sort has just fixed — sort_cols end in a unique
    # tiebreaker, so the order and therefore __lrn are deterministic).
    # Same __lrn values, one exchange instead of two.
    ranged = (
        df.repartitionByRange(partitions, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
        .persist()
    )
    local = ranged.withColumn(
        "__lrn", F.expr(f"(__mid & {(1 << 33) - 1}) + 1L")
    ).drop("__mid")
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    offsets = (
        counts.alias("a")
        .join(F.broadcast(counts.alias("b")), F.col("b.__pid") < F.col("a.__pid"), "left")
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(F.coalesce(F.sum("b.__cnt"), F.lit(0)).alias("__offset"))
    )
    total = counts.agg(F.sum("__cnt").alias("__n"))
    ranked = (
        local.join(F.broadcast(offsets), "__pid")
        .crossJoin(F.broadcast(total))
        .withColumn("__rn", (F.col("__offset") + F.col("__lrn")).cast("long"))
    )

    if out_col is not None:
        ranked = ranked.withColumn(out_col, F.col("__rn")).drop(
            "__pid", "__lrn", "__offset", "__n", "__rn"
        )
    return ranked


@register(
    "customer_rfm_segments",
    f"""
    WITH m AS (
        SELECT o_custkey AS c_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_dec_sum("o_totalprice")} AS monetary,
               MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS last_us
        FROM orders GROUP BY o_custkey
    ),
    g AS (SELECT MAX(last_us) AS max_us FROM m),
    rfm AS (
        SELECT c_custkey, n_orders, monetary,
               CAST((g.max_us - last_us) // 86400000000 AS BIGINT) AS recency_days
        FROM m CROSS JOIN g
    ),
    scored AS (
        SELECT c_custkey, n_orders, monetary, recency_days,
               CAST(NTILE(4) OVER (ORDER BY recency_days ASC, c_custkey ASC) AS BIGINT) AS r_q,
               CAST(NTILE(4) OVER (ORDER BY n_orders DESC, c_custkey ASC) AS BIGINT) AS f_q,
               CAST(NTILE(4) OVER (ORDER BY monetary DESC, c_custkey ASC) AS BIGINT) AS m_q
        FROM rfm
    )
    SELECT r_q, f_q, m_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {sql_dec_sum("monetary")} AS segment_revenue
    FROM scored
    GROUP BY r_q, f_q, m_q
    ORDER BY r_q, f_q, m_q
    """,
    description="RFM segmentation: per-customer recency (days since last "
    "order vs the corpus max, integer microsecond math), frequency "
    "(order count) and monetary (exact decimal spend) each scored into "
    "exact global quartiles, then segments aggregated. All three "
    "quartile assignments go through _distributed_ntile — the "
    "customer_spend_deciles range-partition rank construction (no "
    "global single-partition window anywhere), applied three times on "
    "the already-reduced per-customer frame. Oracle keeps native "
    "NTILE(4); the bucket formula must reproduce it bit-for-bit on all "
    "three sort orders, tie-broken by custkey.",
    tags=("window", "agg", "retail"),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    m = t["orders"].groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum(F.col("o_totalprice")).alias("monetary"),
        F.max(F.unix_micros(F.col("o_orderdate"))).alias("last_us"),
    )
    g = m.agg(F.max("last_us").alias("max_us"))
    # The per-customer base is persisted and each quartile pass ranks it
    # INDEPENDENTLY (then the three score columns equi-join back on the
    # customer key): composing the passes sequentially made every
    # repartitionByRange re-sample — and therefore re-execute — the whole
    # prior pass's lineage (measured 4.1 s -> ~1.5 s at sf0.1). The joins
    # are keyed on c_custkey, never a cartesian.
    rfm = (
        m.crossJoin(F.broadcast(g))
        .select(
            "c_custkey",
            "n_orders",
            "monetary",
            F.expr("(max_us - last_us) div 86400000000").cast("long").alias("recency_days"),
        )
        .persist()
    )
    # ONE fused rank pass for all three quartiles (r17): the three
    # independent _distributed_ntile passes each paid their own range
    # sampling, persist and offset broadcast (3 sampling jobs + 3 caches).
    # Unpivot to (customer, metric, key) with an ORDER-ISOMORPHIC numeric
    # key — decimal(38,6) holds the long metrics and the exact-decimal
    # spend; negation flips the two DESC orders into one ASC sort — and
    # range-partition ONCE on (metric, key, custkey). Per-metric global
    # rank is reconstructed from the per-(partition, metric) cell counts:
    # __rn = __lrn − rows-of-earlier-metrics-in-this-partition
    #        + this-metric's-rows-in-earlier-partitions,
    # exact because range order sorts metric first (cells are contiguous).
    # Same NTILE bucket formula, same tie-breaks; A/B'd bit-identical to
    # the 3-pass form on the full sf0.1 frame.
    unpiv = rfm.select(
        "c_custkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("metric"),
                    F.col("recency_days").cast("decimal(38,6)").alias("key"),
                ),
                F.struct(
                    F.lit(2).alias("metric"),
                    (-F.col("n_orders")).cast("decimal(38,6)").alias("key"),
                ),
                F.struct(
                    F.lit(3).alias("metric"),
                    (-F.col("monetary")).cast("decimal(38,6)").alias("key"),
                ),
            )
        ).alias("mk"),
    ).select("c_custkey", "mk.metric", "mk.key")
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        unpiv.repartitionByRange(parts, "metric", "key", "c_custkey")
        .sortWithinPartitions("metric", "key", "c_custkey")
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
        .persist()
    )
    local = ranged.withColumn(
        "__lrn", F.expr(f"(__mid & {(1 << 33) - 1}) + 1L")
    ).drop("__mid")
    cells = ranged.groupBy("__pid", "metric").agg(F.count(F.lit(1)).alias("__c"))
    before_in_pid = (
        cells.alias("a")
        .join(
            F.broadcast(cells.alias("b")),
            (F.col("b.__pid") == F.col("a.__pid"))
            & (F.col("b.metric") < F.col("a.metric")),
            "left",
        )
        .groupBy(F.col("a.__pid").alias("__pid"), F.col("a.metric").alias("metric"))
        .agg(F.coalesce(F.sum("b.__c"), F.lit(0)).alias("__before_in_pid"))
    )
    metric_offset = (
        cells.alias("a")
        .join(
            F.broadcast(cells.alias("b")),
            (F.col("b.metric") == F.col("a.metric"))
            & (F.col("b.__pid") < F.col("a.__pid")),
            "left",
        )
        .groupBy(F.col("a.__pid").alias("__pid"), F.col("a.metric").alias("metric"))
        .agg(F.coalesce(F.sum("b.__c"), F.lit(0)).alias("__metric_offset"))
    )
    totals = cells.groupBy("metric").agg(F.sum("__c").alias("__n"))
    # cell frames are <= partitions x 3 rows — keep their assembly
    # broadcast so no __pid-keyed sort/exchange ever touches them
    info = before_in_pid.join(F.broadcast(metric_offset), ["__pid", "metric"]).join(
        F.broadcast(totals), "metric"
    )
    ranked = local.join(F.broadcast(info), ["__pid", "metric"]).withColumn(
        "__rn",
        (F.col("__lrn") - F.col("__before_in_pid") + F.col("__metric_offset")).cast(
            "long"
        ),
    )
    bucket = F.expr(
        """
        CASE WHEN __rn <= (__n % 4) * (__n div 4 + 1)
             THEN (__rn + (__n div 4)) div (__n div 4 + 1)
             ELSE (__n % 4)
                  + (__rn - (__n % 4) * (__n div 4 + 1) + (__n div 4) - 1)
                    div (__n div 4)
        END
        """
    ).cast("long")
    scores = (
        ranked.withColumn("q", bucket)
        .groupBy("c_custkey")
        .agg(
            F.max(F.when(F.col("metric") == 1, F.col("q"))).alias("r_q"),
            F.max(F.when(F.col("metric") == 2, F.col("q"))).alias("f_q"),
            F.max(F.when(F.col("metric") == 3, F.col("q"))).alias("m_q"),
        )
    )

    scored = rfm.join(scores, "c_custkey")
    out = (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dec_sum(F.col("monetary")).alias("segment_revenue"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )
    return out


#: Benford expected first-digit frequencies, ppm: round(log10(1+1/d)*1e6).
#: Fixed literals shared with the oracle so no engine evaluates a log.
BENFORD_PPM = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
               6: 66947, 7: 57992, 8: 51153, 9: 45757}


def _benford_case_sql() -> str:
    return "CASE digit " + " ".join(
        f"WHEN {d} THEN {p}" for d, p in BENFORD_PPM.items()
    ) + " END"


@register(
    "revenue_benford_audit",
    f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
               AS BIGINT) AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    h AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders FROM d GROUP BY digit),
    tot AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS t FROM h)
    SELECT digit, n_orders,
           CAST(n_orders * 1000000 // tot.t AS BIGINT) AS observed_ppm,
           CAST({_benford_case_sql()} AS BIGINT) AS expected_ppm,
           CAST(n_orders * 1000000 // tot.t - ({_benford_case_sql()}) AS BIGINT) AS deviation_ppm
    FROM h CROSS JOIN tot
    ORDER BY digit
    """,
    description="Benford first-significant-digit audit over order totals — "
    "the classic fraud/data-entry anomaly screen for financial columns. "
    "The leading digit is computed integer-exactly (floor to int64, then "
    "the first character of the int64's decimal rendering — no log10, no "
    "double-to-string of a float, and no float floor-division crosses an "
    "engine boundary); expected frequencies are "
    "shared ppm literals. Scan + one 9-row groupBy + broadcast total: "
    "scan-shaped at any corpus size.",
    tags=("agg", "audit", "retail"),
)
def revenue_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    digit = F.expr(
        "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"
    ).alias("digit")
    h = (
        t["orders"].filter(F.col("o_totalprice") >= 1).select(digit)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    tot = h.agg(F.sum("n_orders").cast("long").alias("t"))
    expected = F.expr(
        "CASE digit " + " ".join(f"WHEN {d} THEN {p}L" for d, p in BENFORD_PPM.items()) + " END"
    ).cast("long")
    return (
        h.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            F.expr("n_orders * 1000000 div t").cast("long").alias("observed_ppm"),
            expected.alias("expected_ppm"),
            (F.expr("n_orders * 1000000 div t") - expected).cast("long").alias("deviation_ppm"),
        )
        .orderBy("digit")
    )


#: Sequential-rule support floor (next-order transitions).
SEQRULE_MIN_SUPPORT = 3


@register(
    "sequential_item_rules",
    f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    seq AS (
        SELECT o_custkey, o_orderkey,
               LEAD(o_orderkey) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate ASC, o_orderkey ASC
               ) AS next_orderkey
        FROM orders
    ),
    trans AS (SELECT o_orderkey, next_orderkey FROM seq WHERE next_orderkey IS NOT NULL),
    rules AS (
        SELECT a.l_partkey AS part_from, c.l_partkey AS part_to,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM trans t
        JOIN b a ON a.l_orderkey = t.o_orderkey
        JOIN b c ON c.l_orderkey = t.next_orderkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {SEQRULE_MIN_SUPPORT}
    ),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_transitions FROM trans)
    SELECT part_from, part_to, support,
           CAST(support * 1000000 // nt.n_transitions AS BIGINT) AS support_ppm
    FROM rules CROSS JOIN nt
    ORDER BY part_from, part_to
    """,
    description="Sequential association rules over consecutive orders: for "
    "each customer's (order, next-order) pair — LEAD over the per-customer "
    "order sequence, tie-broken by orderkey — count (item-in-earlier, "
    "item-in-later) transitions, floor by support, and report integer-ppm "
    "transition support. The 'bought X, later bought Y' complement to "
    "item_affinity_pairs' same-basket rule. Scale: the sequence window "
    "partitions by customer (keyed, bounded groups); each transition "
    "joins two bounded baskets (|b1|x|b2| <= cap² pairs), and the rule "
    "groupBy is the only wide shuffle on the transition volume.",
    tags=("window", "join", "retail"),
)
def sequential_item_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    b = t["lineitem"].select("l_orderkey", "l_partkey").distinct()
    # NULLS LAST: the oracle's plain ASC, which DuckDB sorts NULLs last
    # and Spark first — a NULL order date must not reorder the sequence.
    w = W.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("o_orderdate"), F.asc("o_orderkey")
    )
    seq = t["orders"].select(
        "o_custkey", "o_orderkey", F.lead("o_orderkey").over(w).alias("next_orderkey")
    )
    trans = seq.filter(F.col("next_orderkey").isNotNull()).select(
        "o_orderkey", "next_orderkey"
    )
    nt = trans.agg(F.count(F.lit(1)).alias("n_transitions"))
    # Broadcast the SMALL side (guide §3.1): the transition table is one
    # row per non-final order, a fraction of the distinct basket-pair
    # frame the old plan broadcast TWICE (each instance re-deriving the
    # distinct). The baskets flow shuffle-side once per key; the two b
    # branches share one exchange at runtime (ReusedExchange — identical
    # canonical subtrees). A/B'd min-of-4: 2.14 -> 1.61 s, identical rows.
    rules = (
        b.join(F.broadcast(trans), b["l_orderkey"] == F.col("o_orderkey"))
        .select(F.col("l_partkey").alias("part_from"), "next_orderkey")
        .join(
            b.withColumnRenamed("l_orderkey", "next_orderkey").withColumnRenamed(
                "l_partkey", "part_to"
            ),
            "next_orderkey",
        )
        .groupBy("part_from", "part_to")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= SEQRULE_MIN_SUPPORT)
    )
    return (
        rules.crossJoin(F.broadcast(nt))
        .select(
            "part_from",
            "part_to",
            "support",
            F.expr("support * 1000000 div n_transitions").cast("long").alias("support_ppm"),
        )
        .orderBy("part_from", "part_to")
    )


@register(
    "daily_revenue_gapfill",
    f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS date,
               {sql_dec_sum("o_totalprice")} AS revenue
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    bounds AS (SELECT MIN(date) AS d0, MAX(date) AS d1 FROM daily),
    spine AS (
        SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS date
        FROM bounds
    )
    SELECT s.date,
           COALESCE(d.revenue, CAST(0 AS DOUBLE)) AS revenue,
           CAST(CASE WHEN d.revenue IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap,
           CAST(SUM(CAST(COALESCE(d.revenue, 0) AS DECIMAL(28,6)))
                OVER (ORDER BY s.date
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS cum_revenue
    FROM spine s LEFT JOIN daily d ON d.date = s.date
    ORDER BY s.date
    """,
    description="Gap-filled daily revenue: a complete calendar spine "
    "(sequence over the min..max order date), zero-filled left join, gap "
    "flag, and an exact-decimal cumulative total — the resample/gap-fill "
    "shape every time-series feature pipeline needs, which a plain "
    "groupBy silently gets wrong (missing days vanish instead of reading "
    "zero). The cumulative window is unpartitioned but runs over the "
    "DATE-DOMAIN spine (bounded by calendar span, not row count — the "
    "order_value_histogram discipline); the spine itself is built "
    "scan-free from a 1-row bounds aggregate exploded scan-side.",
    tags=("window", "agg", "timeseries"),
)
def daily_revenue_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    daily = (
        t["orders"]
        .groupBy(F.to_date("o_orderdate").alias("date"))
        .agg(dec_sum(F.col("o_totalprice")).alias("revenue"))
    )
    bounds = daily.agg(F.min("date").alias("d0"), F.max("date").alias("d1"))
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("date")
    )
    w = W.orderBy("date").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        spine.join(daily, "date", "left")
        .select(
            "date",
            F.coalesce(F.col("revenue"), F.lit(0.0)).alias("revenue"),
            F.when(F.col("revenue").isNull(), 1).otherwise(0).cast("long").alias("is_gap"),
        )
        .withColumn(
            "cum_revenue",
            F.sum(F.col("revenue").cast(DEC)).over(w).cast("double"),
        )
        .orderBy("date")
    )


def _stage_parquet(src: str, dst: str) -> None:
    """Stage a parquet table into a stream-source dir: the driver testdata
    is a single FILE, scale-smoke replicas are DIRECTORIES of part files.
    Part files are copied FLAT (the file stream source lists the staging
    dir non-recursively; a nested table dir would be invisible to it),
    name-prefixed by the dst stem so two staged copies never collide."""
    import os
    import shutil

    if os.path.isdir(src):
        stem, staging = os.path.basename(dst), os.path.dirname(dst)
        for i, part in enumerate(sorted(os.listdir(src))):
            if part.endswith(".parquet"):
                shutil.copy(
                    os.path.join(src, part),
                    os.path.join(staging, f"{stem}_{i:05d}.parquet"),
                )
    else:
        shutil.copy(src, dst)


@register(
    "streamed_hourly_rollup",
    f"""
    SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, COUNT(*) AS n, {sql_dec_sum("value")} AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    description="The STREAMING hourly rollup under the driver's hash gate: "
    "runs the real Structured Streaming pipeline (readStream over the "
    "events parquet with the canonical ts normalization, tumbling "
    "1-hour window aggregate, AvailableNow drain to a memory sink in "
    "complete mode) and returns the materialized sink — so the "
    "stream==batch convergence the test suite asserts is ALSO proven "
    "end-to-end against the ANSI-SQL oracle, not just against the batch "
    "twin. Exactly-once here is the aggregation's complete-mode output "
    "over a drained AvailableNow source; the per-round driver row makes "
    "streaming a first-class member of the correctness window.",
    tags=("streaming", "window", "timeseries"),
)
def streamed_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    from retail_aws_etl_pipeline_spark.streaming.streams import (
        events_stream,
        hourly_rollup_stream,
        run_stream_to_memory,
    )

    import shutil
    import tempfile

    # The file stream source requires a DIRECTORY; the testdata table is
    # a single parquet file. Stage it into a temp dir for the drain —
    # the memory sink materializes the result before this function
    # returns, so the staging dir's lifetime ends with the drain.
    staging = tempfile.mkdtemp(prefix="streamed_rollup_")
    try:
        _stage_parquet(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(staging, "events.parquet"),
        )
        stream = hourly_rollup_stream(events_stream(spark, staging))
        name = f"streamed_hourly_rollup_{uuid.uuid4().hex[:12]}"
        got = run_stream_to_memory(stream, name, output_mode="complete")
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return got.select(
        "window_start",
        "event_type",
        F.col("n").cast("long").alias("n"),
        "total_value",
    ).orderBy("window_start", "event_type")


@register(
    "streamed_dedup_counts",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dec_sum("value")} AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    description="CROSS-BATCH streaming dedup under the driver hash gate "
    "(VERDICT r7 item #7, second streaming window entry): the events "
    "parquet is staged TWICE into the stream source, maxFilesPerTrigger=1 "
    "forces the two copies into separate micro-batches, and "
    "dedup_stream's keyed dropDuplicates state must recognize every "
    "second-batch row as already-seen — so the drained append-mode sink "
    "aggregates to exactly the single-copy batch oracle. watermark=None "
    "is deliberate and load-bearing: the duplicate batch arrives entirely "
    "'late' relative to batch 1's max event time, so any state-expiry "
    "watermark would let duplicates pass (the documented at-least-once "
    "trade); the unbounded-state form is the bounded-backfill contract "
    "this proves. Exactly-once here is cross-batch dedup state, a "
    "different streaming guarantee than streamed_hourly_rollup's "
    "complete-mode aggregation.",
    tags=("streaming", "dedup"),
)
def streamed_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import uuid

    from retail_aws_etl_pipeline_spark.streaming.streams import (
        dedup_stream,
        events_stream,
        run_stream_to_memory,
    )

    staging = tempfile.mkdtemp(prefix="streamed_dedup_")
    try:
        for copy in ("a", "b"):  # two identical copies -> two micro-batches
            _stage_parquet(
                os.path.join(sf_dir, "events.parquet"),
                os.path.join(staging, f"events_{copy}.parquet"),
            )
        stream = dedup_stream(events_stream(spark, staging), watermark=None)
        name = f"streamed_dedup_{uuid.uuid4().hex[:12]}"
        got = run_stream_to_memory(stream, name, output_mode="append")
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return (
        got.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), dec_sum(F.col("value")).alias("total_value"))
        .orderBy("event_type")
    )


#: Oracle for :func:`streamed_customer_features` — STAGED for the r9 window
#: slot (the registry sits at its 150 cap; r9's rotation registers this with
#: a cap replacement). The streamed base+delta feature table must fold to
#: the plain one-shot aggregate; every column is integer-exact (count /
#: floor-cents sum / max epoch-micros), so the entry is hash-matchable with
#: no tolerance. epoch_us(CAST(..)) is the established oracle idiom for
#: Spark's unix_micros under the UTC session.
STREAMED_CUSTOMER_FEATURES_ORACLE = """
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
           MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS last_order_us
    FROM orders
    GROUP BY o_custkey
    ORDER BY o_custkey
"""


@register_extra(
    "streamed_customer_features",
    STREAMED_CUSTOMER_FEATURES_ORACLE,
    description="Base+delta incremental feature table under the driver "
    "hash gate: orders drain in two disjoint micro-batch waves through "
    "feature_delta_stream (one partial-aggregate row per customer per "
    "batch), and read_feature_snapshot folds the partials; because the "
    "three features are associative merges (count / floor-cents sum / "
    "max epoch-micros) the fold must equal the one-shot batch aggregate "
    "EXACTLY — cross-batch reassembly of partial aggregates, the third "
    "streaming guarantee in the window alongside dedup state and "
    "windowed completeness.",
    tags=("streaming", "features"),
)
def streamed_customer_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third streaming entry: the base+delta incremental feature table
    under the driver hash gate. Orders are split into two
    DISJOINT waves (pmod of the order key) staged as separate files;
    ``maxFilesPerTrigger=1`` forces one micro-batch per wave through
    ``feature_delta_stream`` (one partial-aggregate row per customer per
    batch, partitioned by batch id — the retry-idempotent sink), and
    ``read_feature_snapshot`` folds the per-batch partials. Because the
    three features are associative merges (sum/sum/max), the fold must
    equal the one-shot batch aggregate EXACTLY — a different streaming
    guarantee than the other two entries: cross-batch reassembly of
    partial aggregates, not dedup state or windowed completeness.

    The snapshot is ``localCheckpoint``-ed before the temp delta dir is
    removed: the fold is one row per customer (bounded, aggregate-sized
    — NOT input-sized), and checkpointing severs the lineage from the
    scratch parquet so the returned frame stays collectable after
    cleanup. At production scale the delta dir is a real table that
    outlives the query and the checkpoint is unnecessary; it is the
    ephemeral-scratch harness that needs it.
    """
    import shutil
    import tempfile

    from retail_aws_etl_pipeline_spark.streaming.streams import (
        feature_delta_stream,
        read_feature_snapshot,
    )

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    staging = tempfile.mkdtemp(prefix="streamed_feat_src_")
    delta = tempfile.mkdtemp(prefix="streamed_feat_delta_")
    ckpt = tempfile.mkdtemp(prefix="streamed_feat_ckpt_")
    try:
        for i in range(2):  # disjoint waves -> separate micro-batches
            (
                orders.filter(F.pmod(F.col("o_orderkey"), F.lit(2)) == i)
                .coalesce(1)
                .write.mode("append")
                .parquet(staging)
            )
        stream = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staging)
        )
        # narrow the per-batch partial-aggregate width to the stream
        # state sizing (streams.STREAM_STATE_PARTITIONS rationale): the
        # foreachBatch groupBy otherwise inherits the batch session's
        # width and writes that many near-empty delta files per batch
        # (AQE's coalescing is parallelismFirst and won't shrink below
        # defaultParallelism). Restored after the drain.
        from retail_aws_etl_pipeline_spark.streaming.streams import (
            STREAM_STATE_PARTITIONS,
        )

        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(min(int(old_parts), STREAM_STATE_PARTITIONS)),
        )
        try:
            q = feature_delta_stream(stream, delta_dir=delta, checkpoint_dir=ckpt)
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        snap = read_feature_snapshot(spark, delta).localCheckpoint(eager=True)
        return snap.orderBy("o_custkey")
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(delta, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


# ---------------------------------------------------------------------------
# r7 second-half additions: the remaining TPC-H join/subquery SHAPES the
# registry lacked — Q5 (multi-join with a same-key cross-dimension
# constraint), Q2 (argmin-per-group join-back), Q9 (multi-join computed
# profit), Q11 (scalar-subquery threshold / ratio-to-report), Q21
# (EXISTS / NOT-EXISTS self-join) — plus two time-series BI shapes
# (year-over-year via a time-shifted self-join; purchase-cadence gap
# medians from a histogram). The testdata schema carries no partsupp /
# l_commitdate / l_shipmode, so the Q2/Q9/Q11/Q21 analogs express the
# same plan shapes over the columns that exist (documented per query).
# ---------------------------------------------------------------------------


@register(
    "local_supplier_volume",
    f"""
    SELECT n_name AS nation,
           {sql_dec_sum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, nation
    """,
    description="TPC-H Q5 shape (local supplier volume): revenue by nation "
    "where the ordering customer and the line's supplier share a nation, "
    "restricted to one region and a two-year window. The load-bearing "
    "part is the cross-dimension equality (c_nationkey = s_nationkey) "
    "riding a 6-way join. Scale: lineitem->orders->customer are keyed "
    "shuffle joins on their natural keys; supplier joins keyed on "
    "suppkey with the nation equality as a post-join filter (supplier is "
    "SF-proportional — NOT broadcast by hand; AQE may elect it locally); "
    "nation/region are broadcast dims, and the date filter pushes to the "
    "orders scan.",
    tags=("join", "agg", "retail"),
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(
        spark, sf_dir, ["customer", "orders", "lineitem", "supplier", "nation", "region"]
    )
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("nation"))
    )


@register(
    "min_cost_supplier_parts",
    """
    WITH unit AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (SELECT l_partkey, MIN(unit_cost) AS best_cost FROM unit GROUP BY l_partkey)
    SELECT u.l_partkey AS p_partkey, p.p_name,
           CAST(MIN(u.l_suppkey) AS BIGINT) AS best_suppkey,
           b.best_cost AS unit_cost
    FROM unit u
    JOIN best b ON u.l_partkey = b.l_partkey AND u.unit_cost = b.best_cost
    JOIN part p ON p.p_partkey = u.l_partkey
    GROUP BY u.l_partkey, p.p_name, b.best_cost
    ORDER BY p_partkey
    """,
    description="TPC-H Q2 shape (min-cost supplier): for every part, the "
    "supplier observed offering it at the lowest unit price (extendedprice "
    "/ quantity from lineitem — the schema has no partsupp, so observed "
    "line economics stand in for ps_supplycost), ties broken to the "
    "smallest suppkey. The distributed idiom replacing Q2's correlated "
    "MIN subquery: aggregate per (part, supplier), take the per-part MIN, "
    "and JOIN BACK on (part, min-value) — argmin without any window. "
    "Exact on doubles because both MINs select from the same value set "
    "(binary equality on the join is guaranteed). Scale: two keyed "
    "combiner-friendly aggregates and two equi-joins, all partkey-keyed; "
    "no windows, no skew hot-spot beyond natural part popularity.",
    tags=("join", "agg", "retail"),
)
def min_cost_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    # The argmin join-back consumes `unit` on BOTH sides (directly and
    # through `best`), and ReuseExchange never fires across the two
    # subtrees — so the scan + aggregate genuinely runs twice. Persisting
    # `unit` was A/B-measured and REJECTED: at 10x it is noise (8.3 s vs
    # 9.3 s cold), and at 100x it is 1.6-2.7x WORSE (23.7 s recompute vs
    # 38.5-65 s persisted) — the (part, supplier) aggregate output is
    # wide enough that materializing it costs more than re-running the
    # combiner-friendly aggregate. Recompute is the scale-correct plan.
    unit = (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    best = unit.groupBy("l_partkey").agg(F.min("unit_cost").alias("best_cost")).select(
        F.col("l_partkey").alias("b_partkey"), "best_cost"
    )
    return (
        unit.join(
            best,
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("unit_cost") == F.col("best_cost")),
        )
        .select("l_partkey", "l_suppkey", "best_cost")
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("l_partkey").alias("p_partkey"),
            F.col("p_name"),
            F.col("best_cost").alias("unit_cost"),
        )
        .agg(F.min("l_suppkey").cast("long").alias("best_suppkey"))
        .select("p_partkey", "p_name", "best_suppkey", "unit_cost")
        .orderBy("p_partkey")
    )


@register(
    "product_type_profit",
    f"""
    SELECT n_name AS nation,
           CAST(YEAR(l_shipdate) AS BIGINT) AS o_year,
           {sql_dec_sum("l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity")} AS profit_proxy
    FROM lineitem, part, supplier, nation
    WHERE p_partkey = l_partkey
      AND s_suppkey = l_suppkey
      AND s_nationkey = n_nationkey
      AND p_type IN ('ECONOMY', 'STANDARD')
    GROUP BY n_name, YEAR(l_shipdate)
    ORDER BY nation, o_year
    """,
    description="TPC-H Q9 shape (product-type profit): nation x ship-year "
    "margin over a lineitem->part->supplier->nation join, filtered to two "
    "part types. p_retailprice * quantity stands in for ps_supplycost * "
    "quantity (no partsupp in the schema), so 'profit' is revenue minus a "
    "retail-cost proxy and may run negative — the SHAPE (multi-join with "
    "a computed per-row expression aggregated by a dimension attribute x "
    "a derived time key) is what the entry pins. Scale: part/supplier "
    "join keyed on their keys; the p_type filter prunes the part scan "
    "BEFORE the join (PushedFilters); nation broadcast; exact-decimal "
    "accumulation for the signed sum.",
    tags=("join", "agg", "retail"),
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier", "nation"])
    parts = t["part"].filter(F.col("p_type").isin("ECONOMY", "STANDARD")).select(
        "p_partkey", "p_retailprice"
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        t["lineitem"]
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
        )
        .agg(dec_sum(profit).alias("profit_proxy"))
        .orderBy("nation", "o_year")
    )


@register(
    "sole_return_suppliers",
    """
    SELECT s_suppkey, s_name,
           CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS n_sole_return_orders
    FROM lineitem l
    JOIN supplier ON s_suppkey = l.l_suppkey
    WHERE l.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem x
          WHERE x.l_orderkey = l.l_orderkey AND x.l_suppkey <> l.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem y
          WHERE y.l_orderkey = l.l_orderkey AND y.l_suppkey <> l.l_suppkey
            AND y.l_returnflag = 'R'
      )
    GROUP BY s_suppkey, s_name
    ORDER BY n_sole_return_orders DESC, s_suppkey
    LIMIT 20
    """,
    description="TPC-H Q21 shape (suppliers who kept orders waiting): "
    "suppliers with a returned line on a multi-supplier order where NO "
    "other supplier's lines were returned — the EXISTS + NOT EXISTS "
    "double-correlated self-join, with l_returnflag standing in for the "
    "receipt/commit lateness predicate the schema lacks. The oracle keeps "
    "the textbook correlated form; the Spark plan rewrites both "
    "subqueries into ONE aggregate pass — per (order, supplier) collapse, "
    "then per-order supplier/returner counts, then the qualifying filter "
    "(returned AND n_suppliers > 1 AND n_returners = 1) — turning two "
    "correlated scans into a keyed groupBy + join-back. Scale: two "
    "orderkey-keyed aggregates and one keyed join; supplier name join at "
    "the end on the 20-row result via broadcast of the top-K.",
    tags=("join", "agg", "retail", "topk"),
)
def sole_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "supplier"])
    per = (
        t["lineitem"]
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("ret"))
    )
    per_order = per.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("ns"), F.sum("ret").alias("nr")
    )
    qual = (
        per.join(per_order, "l_orderkey")
        .filter((F.col("ret") == 1) & (F.col("ns") > 1) & (F.col("nr") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sole_return_orders"))
        .orderBy(F.desc("n_sole_return_orders"), F.asc("l_suppkey"))
        .limit(20)
    )
    return (
        F.broadcast(qual)
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "n_sole_return_orders")
        .orderBy(F.desc("n_sole_return_orders"), F.asc("s_suppkey"))
    )


@register(
    "customer_order_gap_stats",
    """
    WITH seq AS (
        SELECT o_custkey,
               DATE_DIFF('day',
                   LAG(CAST(o_orderdate AS DATE)) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC),
                   CAST(o_orderdate AS DATE)) AS gap
        FROM orders
    ),
    g AS (
        SELECT c_mktsegment, CAST(gap AS BIGINT) AS gap
        FROM seq JOIN customer ON c_custkey = o_custkey
        WHERE gap IS NOT NULL
    ),
    h AS (SELECT c_mktsegment, gap, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
    stats AS (
        SELECT c_mktsegment, SUM(cnt) AS n, SUM(gap * cnt) AS tot
        FROM h GROUP BY 1
    ),
    cum AS (
        SELECT c_mktsegment, gap,
               SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY gap) AS cum
        FROM h
    ),
    med AS (
        SELECT cum.c_mktsegment, MIN(gap) AS median_gap_days
        FROM cum JOIN stats s ON s.c_mktsegment = cum.c_mktsegment
        WHERE cum.cum >= (s.n + 1) // 2
        GROUP BY cum.c_mktsegment
    )
    SELECT s.c_mktsegment,
           CAST(s.n AS BIGINT) AS n_gaps,
           CAST(s.tot AS DOUBLE) / CAST(s.n AS DOUBLE) AS avg_gap_days,
           CAST(med.median_gap_days AS BIGINT) AS median_gap_days
    FROM stats s JOIN med ON med.c_mktsegment = s.c_mktsegment
    ORDER BY s.c_mktsegment
    """,
    description="Purchase cadence by market segment: per-customer "
    "consecutive-order gaps (LAG over the keyed per-customer sequence — "
    "bounded partitions), then per-segment count / exact mean / exact "
    "LOWER MEDIAN. The median comes from the segment x gap-days "
    "HISTOGRAM (integer domain, bounded by the calendar span) with a "
    "cumulative window over that tiny frame — the "
    "event_value_mad_outliers discipline that avoids ranking raw rows "
    "in low-cardinality segment windows. Mean is integer-sum / count in "
    "identical double arithmetic. Scale: the only row-volume shuffles "
    "are the per-customer window and the histogram groupBy; everything "
    "downstream operates on (segments x distinct gaps) rows.",
    tags=("window", "agg", "percentile", "retail"),
)
def customer_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    w = W.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    seq = t["orders"].select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap"),
    )
    g = (
        seq.filter(F.col("gap").isNotNull())
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select("c_mktsegment", F.col("gap").cast("long").alias("gap"))
    )
    h = g.groupBy("c_mktsegment", "gap").agg(F.count(F.lit(1)).alias("cnt"))
    stats = h.groupBy("c_mktsegment").agg(
        F.sum("cnt").alias("n"), F.sum(F.col("gap") * F.col("cnt")).alias("tot")
    )
    wc = W.partitionBy("c_mktsegment").orderBy("gap")
    cum = h.select("c_mktsegment", "gap", F.sum("cnt").over(wc).alias("cum"))
    med = (
        cum.join(stats.select("c_mktsegment", "n"), "c_mktsegment")
        .filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("c_mktsegment")
        .agg(F.min("gap").alias("median_gap_days"))
    )
    return (
        stats.join(med, "c_mktsegment")
        .select(
            "c_mktsegment",
            F.col("n").cast("long").alias("n_gaps"),
            (F.col("tot").cast("double") / F.col("n").cast("double")).alias("avg_gap_days"),
            F.col("median_gap_days").cast("long"),
        )
        .orderBy("c_mktsegment")
    )
