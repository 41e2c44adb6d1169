"""AQE skew-join splitting fires on a skewed shuffle join."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_aqe_splits_skewed_join_partition(spark):
    """The session enables spark.sql.adaptive.skewJoin; prove it actually
    fires: a 95%-hot-key fact joined to a dim (broadcast disabled to
    force the shuffle join) must show a skew-handled AQEShuffleRead in
    the FINAL adaptive plan once thresholds are scaled to local data
    sizes. This is the runtime half of the skew story — salting
    (above) is the manual half for aggregations."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "50KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "10KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id") % 100).alias("key"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        dim = spark.range(0, 100).select(
            F.col("id").alias("key"), F.concat(F.lit("d"), F.col("id")).alias("name")
        )
        # The skew split must be read from the SAME execution that ran
        # (a noop write plans its own QueryExecution), and the join must
        # be terminal: a downstream hash aggregate requires the join's
        # hash partitioning, and OptimizeSkewedJoin declines rather than
        # re-shuffle (spark.sql.adaptive.forceOptimizeSkewedJoin exists
        # for exactly that case).
        joined = fact.join(dim, "key")
        n = len(joined.collect())
        assert n == 200_000  # every fact row matched, exact despite split
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skewed" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
