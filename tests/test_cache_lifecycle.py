"""Cache-lifecycle contract (ADVICE r7): operators that persist
intermediates either release them before returning (driver-materialized
loops) or tag the returned frame via operators.caching so the caller can.
"""

from __future__ import annotations

import pytest

from retail_aws_etl_pipeline_spark.operators import clustering as C
from retail_aws_etl_pipeline_spark.operators import dedup as D
from retail_aws_etl_pipeline_spark.operators.caching import (
    release_caches,
    retained_caches,
    retaining,
)


def _emb(spark, n=12, d=4):
    rows = [(i, [((i * 7 + j * 3) % 11) / 10.0 for j in range(d)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _storage_ids(spark) -> set[int]:
    jsc = spark.sparkContext._jsc.sc()
    return {
        i.id()
        for i in jsc.getRDDStorageInfo()
        if i.numCachedPartitions() > 0
    }


def test_kmeans_family_leaves_no_cached_blocks(spark):
    """kmeans_assign / kmeans_converged / kmeans_minibatch materialize
    their loops driver-side, so they must unpersist the quantized base
    before returning — no NEW blocks accumulate across repeated calls.
    (Set difference, not a count compare: earlier tests' localCheckpoint
    blocks are reclaimed ASYNCHRONOUSLY by the ContextCleaner, so a
    global count can legitimately shrink mid-test — only blocks this
    test CREATED are its responsibility.)"""
    df = _emb(spark)
    before = _storage_ids(spark)
    C.kmeans_assign(df, k=2, updates=2).collect()
    final, _ = C.kmeans_converged(df, k=2, max_updates=3)
    final.collect()
    final, _ = C.kmeans_minibatch(df, k=2, updates=4, sample_mod=2)
    final.collect()
    leaked = _storage_ids(spark) - before
    assert not leaked, leaked


def test_kmeans_minibatch_rejects_unvisited_slices(spark):
    """updates < sample_mod leaves id-residue slices with zero influence
    on any centroid; the operator refuses instead of silently violating
    its every-vector-participates contract."""
    with pytest.raises(ValueError, match="sample_mod"):
        C.kmeans_minibatch(_emb(spark), k=2, updates=2, sample_mod=4)


def test_retaining_tags_and_release_unpersists(spark):
    df = spark.range(10).persist()
    out = retaining(spark.range(5), df)
    assert retained_caches(out) == [df]
    assert release_caches(out) == 1
    assert not df.is_cached
    assert retained_caches(out) == []
    assert release_caches(out) == 0  # idempotent


def test_graph_operators_tag_their_caches(spark):
    """pagerank_scaled / triangle_census return plans that still need
    their persisted intermediates — the tag hands lifecycle to the
    caller, and release leaves zero blocks."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "node long")

    before = _storage_ids(spark)
    pr = D.pagerank_scaled(edges, nodes, id_col="node", iterations=2)
    assert pr.count() == 4
    assert retained_caches(pr)
    release_caches(pr)

    tri = D.triangle_census(edges)
    assert tri.collect()[0]["n_triangles"] == 1
    assert len(retained_caches(tri)) == 3
    release_caches(tri)

    leaked = _storage_ids(spark) - before
    assert not leaked, leaked
