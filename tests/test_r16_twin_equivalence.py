"""The keyed part-revenue layer, recomputed and cut to top-10, equals
top_items row for row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.session import load_tables
from tests.conftest import SF_ORACLE

DEC = "decimal(28,6)"


def test_part_revenue_layer_is_top_items_layer(spark):
    """part_revenue_share's keyed revenue layer recomputed and cut to
    top-10 equals top_items row for row — the layer stays registered."""
    from retail_aws_etl_pipeline_spark.plans.queries import top_items

    want = [
        (r["item_id"], round(r["revenue"], 6))
        for r in top_items(spark, SF_ORACLE).collect()
    ]
    li = load_tables(spark, SF_ORACLE, ["lineitem"])["lineitem"]
    got = [
        (r["item_id"], round(r["revenue"], 6))
        for r in li.groupBy(F.col("l_partkey").alias("item_id"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("item_id"))
        .limit(10)
        .collect()
    ]
    assert got == want and got
