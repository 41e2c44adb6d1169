"""Cache-lifecycle contract (ADVICE r7): operators that persist
intermediates inside a driver-materialized loop release them before
returning.
"""

from __future__ import annotations

from retail_aws_etl_pipeline_spark.operators import clustering as C


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
    """kmeans_assign materializes its loop driver-side, so it must
    unpersist the quantized base before returning — no NEW blocks
    accumulate across repeated calls. (Set difference, not a count
    compare: earlier tests' localCheckpoint blocks are reclaimed
    ASYNCHRONOUSLY by the ContextCleaner, so a global count can
    legitimately shrink mid-test — only blocks this test CREATED are its
    responsibility.)"""
    df = _emb(spark)
    before = _storage_ids(spark)
    C.kmeans_assign(df, k=2, updates=2).collect()
    C.kmeans_assign(df, k=2, updates=3, init="farthest").collect()
    leaked = _storage_ids(spark) - before
    assert not leaked, leaked
