"""Skew diagnostics.

AQE (``spark.sql.adaptive.skewJoin.enabled``, on by default in
``session.get_spark``) splits skewed sort-merge join partitions at
runtime, but a groupBy whose key distribution is pathological (one key
≫ everything else) still puts the whole hot key in one reducer.
``key_skew_census`` measures that per key family before the job runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_skew_census(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Join/shuffle-key skew diagnostic: per key family, the heavy-hitter
    census a shuffle planner (or a human sizing a salt count /
    ``spark.sql.shuffle.partitions``) acts on BEFORE the 100 TB job runs.

    For each key column: total rows, distinct keys, the hottest key and
    its row count, the floor-average rows-per-key, and the skew ratio in
    ppm (``max_per_key * 1e6 div max(avg_floor, 1)`` — 1e6 means
    perfectly uniform, 50e6 means the hot key is 50x the average: salt it
    or rely on AQE skew-join splitting, which only helps JOINS, not a
    groupBy reducer). NULL keys are excluded (they never route to a
    join). The hottest key reports deterministically: ties break to the
    smallest key via the single-buffer ``min(struct(-cnt, key))`` argmax.

    Plan shape: one groupBy per family over the same scan — each is a
    partial-aggregated count whose reduce side is vocab-scale; the
    per-family rollup is a single-row aggregate. The fact scan is read
    once per family; pass a persisted frame when auditing many families.

    Envelope: ``max_per_key * 1e6`` needs max_per_key < 9.2e12 rows per
    key — beyond any real per-key fan-out.
    """
    frames = []
    for kc in key_cols:
        per_key = (
            df.filter(F.col(kc).isNotNull())
            .groupBy(kc)
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        fam = per_key.agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("max_per_key"),
            F.min(F.struct((-F.col("c")).alias("nc"), F.col(kc).alias("k")))
            .getField("k")
            .cast("long")
            .alias("top_key"),
        ).select(
            F.lit(kc).alias("key_family"),
            "n_rows",
            "n_keys",
            "top_key",
            "max_per_key",
            F.expr("n_rows div n_keys").alias("avg_per_key"),
            F.expr(
                "max_per_key * 1000000L div greatest(n_rows div n_keys, 1L)"
            ).alias("skew_ppm"),
        )
        frames.append(fam)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("key_family")
