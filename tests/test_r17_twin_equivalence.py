"""Recount pins for registered queries — each recomputes the query through
an independent formulation over a shared kernel:

1. fuzzy_part_names == the blocked fuzzy join recounted through the same
   F.levenshtein verify.
2. length_bucket_padding_stats == a rollup of the shared
   _distributed_ntile assignments.
3. user_rolling_hour's range window == the bounded self-join recount.
4. quality_top_half_per_lang == the per-lang rank recount over the same
   quality_features kernel.
5. grouping_sets_revenue == the UNION-ALL-of-groupBys recount.
6. embedding_norm_stats == a one-groupBy rollup of the shared
   with_quantized kernel.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.plans import all_specs
from retail_aws_etl_pipeline_spark.session import load_tables
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_fuzzy_part_names_is_the_blocked_levenshtein_recount(spark):
    """Pairing #1's victim: the fuzzy join == the (brand, size)-blocked
    recount through the same levenshtein verify the registered LSH
    edit-distance path uses."""
    # sf0.01: the smoke scale's part table has no <=4-edit pairs, so the
    # pin would be vacuous there (227 pairs at the oracle scale).
    spec = all_specs()["fuzzy_part_names"]
    part = load_tables(spark, SF_ORACLE, ["part"])["part"]
    a = part.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        "p_brand",
        "p_size",
    )
    b = part.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        "p_brand",
        "p_size",
    )
    want = {
        tuple(r)
        for r in a.join(b, ["p_brand", "p_size"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_dist") <= 4)
        .select("key_a", "key_b", "name_a", "name_b", "edit_dist")
        .collect()
    }
    got = {tuple(r) for r in spec.spark_fn(spark, SF_ORACLE).collect()}
    assert got == want and got


def test_padding_stats_recount_from_the_shared_ntile(spark):
    """Pairing #2's victim: both padding legs recompute from the SAME
    _distributed_ntile assignments the registered decile queries run —
    the audit is a 64-row rollup of the registered kernel."""
    from retail_aws_etl_pipeline_spark.operators import textops as TX
    from retail_aws_etl_pipeline_spark.plans.analytics import _distributed_ntile
    from retail_aws_etl_pipeline_spark.plans.extensions import PADDING_N_BATCHES

    spec = all_specs()["length_bucket_padding_stats"]
    docs = load_tables(spark, SF_SMOKE, ["documents"])["documents"]
    base = docs.select("doc_id", TX.token_count("text").alias("n_tokens"))

    def slots_waste(sort_cols):
        nt = _distributed_ntile(base, sort_cols, PADDING_N_BATCHES, "b")
        per = nt.groupBy("b").agg(
            F.max("n_tokens").alias("mx"),
            F.count(F.lit(1)).alias("c"),
            F.sum("n_tokens").alias("t"),
        )
        row = per.agg(
            F.sum(F.expr("mx * c")).cast("long").alias("slots"),
            F.sum(F.expr("mx * c - t")).cast("long").alias("waste"),
        ).collect()[0]
        return row["slots"], row["waste"]

    got = spec.spark_fn(spark, SF_SMOKE).collect()[0]
    arr_slots, arr_waste = slots_waste([F.asc("doc_id")])
    srt_slots, srt_waste = slots_waste([F.asc("n_tokens"), F.asc("doc_id")])
    assert got["slots_arrival"] == arr_slots
    assert got["waste_arrival"] == arr_waste
    assert got["slots_sorted"] == srt_slots
    assert got["waste_sorted"] == srt_waste


def test_rolling_hour_is_the_bounded_self_join_recount(spark):
    """Pairing #3's victim: the range window == the per-user self-join
    over [ts - 1h, ts] — the banded interval-join surface that stays
    registered via event_pairs_within_window."""
    spec = all_specs()["user_rolling_hour"]
    from pyspark.sql.types import DecimalType

    DEC = DecimalType(28, 6)
    ev = load_tables(spark, SF_SMOKE, ["events"])["events"]
    a = ev.select(
        "user_id", "event_id", "ts", F.unix_micros("ts").alias("us")
    )
    b = ev.select(
        F.col("user_id").alias("user_id_b"),
        F.unix_micros("ts").alias("us_b"),
        F.col("value").alias("value_b"),
    )
    want = {
        (r["user_id"], r["event_id"]): (r["n_prev_hour"], r["value_prev_hour"])
        for r in a.join(
            b,
            (F.col("user_id") == F.col("user_id_b"))
            & (F.col("us_b") >= F.col("us") - 3_600_000_000)
            & (F.col("us_b") <= F.col("us")),
        )
        .groupBy("user_id", "event_id", "ts")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_prev_hour"),
            F.sum(F.col("value_b").cast(DEC)).cast("double").alias("value_prev_hour"),
        )
        .collect()
    }
    got = {
        (r["user_id"], r["event_id"]): (r["n_prev_hour"], r["value_prev_hour"])
        for r in spec.spark_fn(spark, SF_SMOKE).collect()
    }
    assert got == want and got


def test_top_half_is_the_quality_rank_recount(spark):
    """Pairing #4's victim: the top-half cut == the per-lang rank
    recount over the SAME quality_features kernel."""
    from retail_aws_etl_pipeline_spark.operators import textops as TX

    spec = all_specs()["quality_top_half_per_lang"]
    docs = load_tables(spark, SF_SMOKE, ["documents"])["documents"]
    feats = TX.quality_features(docs)
    w = W.partitionBy("lang").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    want = {
        tuple(r)
        for r in feats.withColumn("q_rank", F.row_number().over(w).cast("long"))
        .withColumn("n_lang", F.count(F.lit(1)).over(W.partitionBy("lang")))
        .filter(F.col("q_rank") * 2 <= F.col("n_lang"))
        .select("doc_id", "lang", "q_rank", "quality_score")
        .collect()
    }
    got = {tuple(r) for r in spec.spark_fn(spark, SF_SMOKE).collect()}
    assert got == want and got


def test_grouping_sets_is_the_union_of_groupbys(spark):
    """Pairing #5's victim: GROUPING SETS ((p, s), (p), ()) == the
    UNION ALL of the three plain groupBys (expanded-grouping surface
    stays registered via rollup_region_nation)."""
    from pyspark.sql.types import DecimalType

    DEC = DecimalType(28, 6)
    spec = all_specs()["grouping_sets_revenue"]
    orders = load_tables(spark, SF_SMOKE, ["orders"])["orders"]

    def leg(keys):
        g = orders.groupBy(*keys) if keys else orders.groupBy()
        out = g.agg(
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        for missing in ("o_orderpriority", "o_orderstatus"):
            if missing not in keys:
                out = out.withColumn(missing, F.lit(None).cast("string"))
        return out.select(
            "o_orderpriority", "o_orderstatus", "total_price", "n_orders"
        )

    want = {
        tuple(r)
        for r in leg(["o_orderpriority", "o_orderstatus"])
        .unionByName(leg(["o_orderpriority"]))
        .unionByName(leg([]))
        .collect()
    }
    got = {tuple(r) for r in spec.spark_fn(spark, SF_SMOKE).collect()}
    assert got == want and got


def test_norm_stats_is_the_quantized_kernel_rollup(spark):
    """Pairing #6's victim: the norm census == the one-groupBy rollup of
    the shared with_quantized kernel (the same qvec/qnorm every
    registered ANN / semantic-dedup oracle consumes)."""
    from retail_aws_etl_pipeline_spark.operators import similarity as S

    spec = all_specs()["embedding_norm_stats"]
    emb = load_tables(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    base = S.with_quantized(emb)
    negs = F.expr(
        "aggregate(transform(qvec, x -> CASE WHEN x < 0 THEN 1L ELSE 0L END),"
        " 0L, (a, v) -> a + v)"
    )
    want = {
        tuple(r)
        for r in base.withColumn("negs", negs)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("qnorm").alias("sum_qnorm"),
            F.min("qnorm").alias("min_qnorm"),
            F.max("qnorm").alias("max_qnorm"),
            F.sum("negs").alias("neg_components"),
        )
        .collect()
    }
    got = {tuple(r) for r in spec.spark_fn(spark, SF_SMOKE).collect()}
    assert got == want and got
