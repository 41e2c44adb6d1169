"""Distributed k-means over embedding columns (SemDeDup-style clustering).

Curation pipelines cluster corpus embeddings to balance topic mixtures and
to run semantic dedup within clusters (one cluster = one candidate block),
so the clustering step itself must be distributed and reproducible. This is
Lloyd's algorithm in the shape MLlib uses — per-iteration work is one
scan-side assignment plus one k-row aggregate — but expressed on the
integer-QUANTIZED contract shared with `operators.similarity`
(q_i = floor(x_i * 1024), int64), so every distance, every argmin, and
every centroid update is exact integer/IEEE-identical math that a DuckDB
oracle reproduces bit-for-bit. No RNG anywhere: init is the k smallest
vec_ids, ties break toward the smaller centroid id.

Scale shape (the 100 TB story):

- **Assignment is scan-side.** The k centroids are inlined as a literal
  array-of-structs (k·d int64s — a few KB for k≤256, d≤1024), so the
  argmin is one whole-stage-codegen expression per row: no join, no
  shuffle, no UDF. `array_min` over `struct(dist, cid)` gives the
  deterministic tie-broken argmin (struct ordering is field-lexicographic).
- **The update is a k-row aggregate.** groupBy(cluster_id) with d per-dim
  SUM columns is map-side-combined down to k rows per partition before the
  (tiny) shuffle; the driver collect is k rows — bounded by construction,
  the same driver-sync every distributed Lloyd's (including MLlib's
  treeAggregate) performs per iteration.
- **Determinism across engines.** Centroid update is
  floor(double(sum)/count): for |sum| < 2^40 and count < 2^24 the double
  quotient can never round across an integer boundary (distance from the
  rational sum/count to the nearest integer is 0 or ≥ 1/count ≥ 2^-24,
  while the division's rounding error is < ulp ≤ 2^-32), so
  floor-after-IEEE-division equals exact floor division everywhere.

Empty clusters drop: a centroid that attracts no rows simply has no group
in the update and disappears for subsequent iterations (documented
contract; the SQL oracle mirrors it by construction).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.operators.similarity import with_quantized

KMEANS_K = 8
KMEANS_UPDATES = 1


def _centroid_literal(centroids: list[tuple[int, list[int]]]) -> str:
    """Inline k centroids as a literal array<struct<cid, cv>> expression."""
    rows = ", ".join(
        f"named_struct('cid', CAST({cid} AS BIGINT), 'cv', array({', '.join(f'{v}L' for v in vec)}))"
        for cid, vec in centroids
    )
    return f"array({rows})"


def assign_clusters(qdf: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """One assignment pass: (vec_id, qvec) -> (vec_id, cluster_id, dist).

    dist is the exact int64 squared L2 distance to the winning centroid;
    ties break toward the smaller cid via struct ordering.
    """
    lit = _centroid_literal(centroids)
    best = F.expr(
        f"array_min(transform({lit}, c -> struct("
        "aggregate(zip_with(qvec, c.cv, (x, y) -> (x - y) * (x - y)),"
        " 0L, (acc, v) -> acc + v) AS dist, c.cid AS cid)))"
    )
    return qdf.select("vec_id", "qvec", best.alias("__best")).select(
        "vec_id",
        "qvec",
        F.col("__best.cid").alias("cluster_id"),
        F.col("__best.dist").alias("dist"),
    )


def _update_centroids(assigned: DataFrame, dim: int) -> list[tuple[int, list[int]]]:
    """Lloyd update: per-cluster elementwise floor(sum/count), k-row collect."""
    sums = [F.sum(F.col("qvec")[i]).alias(f"s{i}") for i in range(dim)]
    rows = (
        assigned.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"), *sums)
        .collect()  # k rows — bounded by construction (see module doc)
    )
    return sorted(
        (r["cluster_id"], [math.floor(r[f"s{i}"] / r["n"]) for i in range(dim)])
        for r in rows
    )


def init_centroids(qdf: DataFrame, k: int) -> list[tuple[int, list[int]]]:
    """Deterministic init: the k smallest vec_ids, cid = rank 0..k-1."""
    rows = qdf.select("vec_id", "qvec").orderBy("vec_id").limit(k).collect()
    return [(rank, list(r["qvec"])) for rank, r in enumerate(rows)]


def init_centroids_farthest(qdf: DataFrame, k: int) -> list[tuple[int, list[int]]]:
    """Deterministic farthest-point (k-center) seeding.

    Start from the min vec_id; each subsequent seed is the point whose
    distance to its NEAREST chosen seed is maximal (tie -> smaller
    vec_id). The deterministic stand-in for k-means++'s D² sampling (and
    one Gonzalez 2-approximation of k-center in its own right): seeds
    spread across the data instead of clumping wherever the smallest ids
    happen to sit. Each of the k-1 steps is one scan-side min-distance
    expression + a global top-1 (TakeOrdered — no sort, no shuffle), so
    seeding costs k-1 bounded jobs over the persisted quantized base.
    """
    first = qdf.orderBy("vec_id").limit(1).collect()[0]
    cents = [(0, list(first["qvec"]))]
    for j in range(1, k):
        lit = _centroid_literal(cents)
        mind = F.expr(
            f"array_min(transform({lit}, c ->"
            " aggregate(zip_with(qvec, c.cv, (x, y) -> (x - y) * (x - y)),"
            " 0L, (acc, v) -> acc + v)))"
        )
        row = (
            qdf.select("vec_id", "qvec", mind.alias("d"))
            .orderBy(F.desc("d"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        cents.append((j, list(row["qvec"])))
    return cents


def kmeans_assign(
    df: DataFrame,
    k: int = KMEANS_K,
    updates: int = KMEANS_UPDATES,
    col: str = "embedding",
    init: str = "min_ids",
) -> DataFrame:
    """init -> [assign -> update] x updates -> final assign.

    ``init``: ``"min_ids"`` (k smallest vec_ids — the cheap fixed seed the
    unrolled oracles assume) or ``"farthest"`` (k-center sweep seeding).
    Returns (vec_id, cluster_id, dist) after the final assignment pass.
    """
    base = with_quantized(df, col).select("vec_id", "qvec")
    cached = updates > 0 or init == "farthest"
    if cached:
        # Seeding/update passes re-scan the quantized base; persist once.
        base.persist()
    if init == "farthest":
        cents = init_centroids_farthest(base, k)
    else:
        cents = init_centroids(base, k)
    dim = len(cents[0][1])
    for _ in range(updates):
        cents = _update_centroids(assign_clusters(base, cents), dim)
    # Every pass above is driver-materialized (centroids are Python
    # lists), so the cache is done once the loop ends: build the returned
    # assignment from the UNPERSISTED base (one cheap scan-side
    # re-quantization when the caller executes) and free the blocks now
    # rather than leaking them across a long-lived session. (persist()
    # returns the same object, so the release must not hinge on identity.)
    if cached:
        base.unpersist()
    return assign_clusters(base, cents).select("vec_id", "cluster_id", "dist")


SEMDEDUP_MIN_COSINE = 0.35


def semantic_dedup_retained(
    df: DataFrame,
    k: int = KMEANS_K,
    updates: int = KMEANS_UPDATES,
    min_cosine: float = SEMDEDUP_MIN_COSINE,
    col: str = "embedding",
) -> DataFrame:
    """SemDeDup: greedy within-cluster semantic dedup, cluster = candidate block.

    A vector is DROPPED iff some vector in the SAME k-means cluster has
    cosine ≥ min_cosine with it AND ranks before it (smaller distance to
    the cluster centroid, tie -> smaller vec_id); otherwise retained. The
    rule is non-recursive (drop if ANY earlier near-duplicate exists,
    whether or not that neighbor itself survives — the same greedy order
    NMS uses), so it needs no iterative closure and a SQL oracle can state
    it as one anti-join.

    Scale: candidate pairs are Σ|cluster|², never N² — k is the knob that
    bounds |cluster| as the corpus grows (SemDeDup runs k in the tens of
    thousands at web scale). The join is hash-partitioned on cluster_id;
    the cosine test is the shared integer-quantized contract with the
    sqrt-free squared cross-multiplication predicate.
    """
    qdf = with_quantized(df, col).select("vec_id", "qvec", "qnorm")
    base = kmeans_assign(df, k=k, updates=updates, col=col).join(qdf, "vec_id")
    a, b = base.alias("a"), base.alias("b")
    dominates = (F.col("b.dist") < F.col("a.dist")) | (
        (F.col("b.dist") == F.col("a.dist")) & (F.col("b.vec_id") < F.col("a.vec_id"))
    )
    # The dot product must be computed ONCE per candidate pair: Catalyst
    # does no CSE inside a join condition, so the naive `dot > 0 AND
    # dot*dot >= ...` form evaluates the 64-element aggregate three times
    # per pair (seen in the executed plan; ~3x the join's work). Binding
    # the aggregate to a lambda variable via exists(array(dot), d -> ...)
    # pins a single evaluation.
    tau2 = min_cosine * min_cosine
    near = F.expr(
        "exists(array(aggregate(zip_with(a.qvec, b.qvec, (x, y) -> x * y),"
        " 0L, (acc, v) -> acc + v)),"
        f" d -> d > 0 AND CAST(d AS DOUBLE) * CAST(d AS DOUBLE) >="
        f" {tau2!r} * CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE))"
    )
    cond = (F.col("a.cluster_id") == F.col("b.cluster_id")) & dominates & near
    return (
        a.join(b, cond, "left_anti")
        .select("vec_id", "cluster_id", "dist")
        .orderBy("vec_id")
    )

