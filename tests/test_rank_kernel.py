"""_distributed_rank equivalence guard (ADVICE r16, medium): the kernel
derives per-partition record numbers from monotonically_increasing_id()'s
low 33 bits after sortWithinPartitions — 'current implementation' details
of Spark. This test pins __rn == row_number() OVER (ORDER BY sort_cols)
on a non-trivial frame so a Spark upgrade or optimizer change that breaks
the bit layout / assignment order fails HERE, loudly, instead of silently
corrupting every rank-consuming query (ntile/RFM/deciles/Zipf)."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from retail_aws_etl_pipeline_spark.plans.analytics import _distributed_rank


def _frame(spark):
    # skewed, duplicate-heavy sort prefix; unique tiebreaker (id) last —
    # the kernel's documented contract
    return spark.range(10_007).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 2654435761 % 1000).alias("v"),
    )


def test_lrn_matches_row_number(spark):
    df = _frame(spark)
    sort_cols = [F.col("v").asc(), F.col("k").asc(), F.col("id").asc()]
    got = _distributed_rank(df, sort_cols, out_col="rnk", partitions=5)
    w = Window.orderBy(F.col("v").asc(), F.col("k").asc(), F.col("id").asc())
    want = df.withColumn("rnk", F.row_number().over(w).cast("long"))
    assert got.select("id", "rnk").exceptAll(want.select("id", "rnk")).isEmpty()
    assert want.select("id", "rnk").exceptAll(got.select("id", "rnk")).isEmpty()


def test_internal_lrn_dense_per_partition(spark):
    """The raw (out_col=None) form: within every __pid the local record
    numbers must be exactly 1..count(pid) — the invariant the offset
    formula needs (max(__lrn) == count AND distinct count == count)."""
    df = _frame(spark)
    raw = _distributed_rank(df, [F.col("v").asc(), F.col("id").asc()], partitions=4)
    chk = (
        raw.groupBy("__pid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("__lrn").alias("mx"),
            F.min("__lrn").alias("mn"),
            F.count_distinct("__lrn").alias("nd"),
        )
        .filter(
            (F.col("mx") != F.col("n"))
            | (F.col("mn") != 1)
            | (F.col("nd") != F.col("n"))
        )
    )
    assert chk.isEmpty(), chk.collect()
