"""Distributed k-means (operators/clustering.py) vs a pure-Python mirror.

The Spark implementation and the DuckDB oracle both claim to compute the
SAME deterministic Lloyd schedule (init = k smallest vec_ids, integer
distances, tie-break min cid, floor(sum/count) updates, empty clusters
drop). These tests pin that schedule against an independent pure-Python
implementation on handcrafted inputs, including the empty-cluster and
exact-tie paths the sf tables may never exercise.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from retail_aws_etl_pipeline_spark.operators import clustering as C


def _py_kmeans(vecs: dict[int, list[int]], k: int, updates: int):
    """Reference Lloyd's on already-quantized int vectors, same contract."""
    init_ids = sorted(vecs)[:k]
    cents = {cid: list(vecs[vid]) for cid, vid in enumerate(init_ids)}

    def assign(cents):
        out = {}
        for vid, q in vecs.items():
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(q, cv)), cid)
                for cid, cv in sorted(cents.items())
            )
            out[vid] = (best[1], best[0])
        return out

    for _ in range(updates):
        a = assign(cents)
        new = {}
        for cid in {cid for cid, _ in a.values()}:
            members = [vecs[vid] for vid, (c, _) in a.items() if c == cid]
            new[cid] = [
                math.floor(sum(col) / len(members)) for col in zip(*members)
            ]
        cents = new
    return assign(cents)


def _emb_df(spark, rows):
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _quant(vals: list[float]) -> list[int]:
    from retail_aws_etl_pipeline_spark.operators.similarity import QUANT_SCALE

    return [math.floor(v * QUANT_SCALE) for v in vals]


def test_kmeans_matches_python_mirror(spark):
    # 12 points in 3 loose groups, 4 dims; k=3, two updates.
    raw = {
        0: [0.1, 0.1, 0.0, 0.0],
        1: [0.9, 0.8, 0.0, 0.1],
        2: [0.0, 0.0, 0.9, 0.9],
        3: [0.12, 0.09, 0.01, 0.0],
        4: [0.88, 0.82, 0.02, 0.1],
        5: [0.01, 0.0, 0.88, 0.92],
        6: [0.15, 0.12, 0.0, 0.02],
        7: [0.92, 0.79, 0.01, 0.08],
        8: [0.02, 0.01, 0.91, 0.88],
        9: [0.11, 0.1, 0.02, 0.01],
        10: [0.9, 0.81, 0.0, 0.09],
        11: [0.0, 0.02, 0.9, 0.9],
    }
    df = _emb_df(spark, [(i, v) for i, v in raw.items()])
    got = {
        r["vec_id"]: (r["cluster_id"], r["dist"])
        for r in C.kmeans_assign(df, k=3, updates=2).collect()
    }
    want = _py_kmeans({i: _quant(v) for i, v in raw.items()}, k=3, updates=2)
    assert got == want


def test_kmeans_empty_cluster_drops(spark):
    # vec 0 and vec 1 are identical -> centroids 0 and 1 start equal; every
    # point ties toward cid 0, so cluster 1 is empty after the first
    # assignment and must disappear from the final result.
    raw = [
        (0, [0.1, 0.1]),
        (1, [0.1, 0.1]),
        (2, [0.9, 0.9]),
        (3, [0.88, 0.92]),
    ]
    df = _emb_df(spark, raw)
    out = C.kmeans_assign(df, k=3, updates=1).collect()
    cids = {r["cluster_id"] for r in out}
    assert 1 not in cids
    assert cids <= {0, 2}
    want = _py_kmeans({i: _quant(v) for i, v in raw}, k=3, updates=1)
    got = {r["vec_id"]: (r["cluster_id"], r["dist"]) for r in out}
    assert got == want


def test_kmeans_deterministic_across_runs(spark):
    rows = [
        (i, [((i * 7 + d * 3) % 11) / 11.0 - 0.4 for d in range(6)])
        for i in range(40)
    ]
    df = _emb_df(spark, rows)
    a = sorted(map(tuple, C.kmeans_assign(df, k=4, updates=2).collect()))
    b = sorted(map(tuple, C.kmeans_assign(df, k=4, updates=2).collect()))
    assert a == b
    # negative coordinates exercised (floor division on negative sums)
    assert any(
        v < 0 for _, vec in rows for v in vec
    ), "fixture must cover negative values"


def test_kmeans_assignment_is_scan_side(spark):
    # The final assignment pass must not shuffle or join: centroids are an
    # inlined literal, so the plan below the profile agg is scan+project.
    rows = [(i, [float(i % 5) / 5, float(i % 3) / 3]) for i in range(30)]
    df = _emb_df(spark, rows)
    assigned = C.kmeans_assign(df, k=2, updates=0)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_semantic_dedup_greedy_chain(spark):
    # One cluster (k=1), centroid = vec 0. Chain: cos(0,1) >= tau,
    # cos(1,2) >= tau, cos(0,2) < tau, rank 0 < 1 < 2 by centroid
    # distance. Greedy NMS order drops BOTH 1 (dominated by 0) and 2
    # (dominated by 1 — even though 1 itself dropped); an
    # independent-set rule would retain 2. Pin the greedy semantics.
    deg = math.radians
    rows = [
        (0, [math.cos(deg(0)), math.sin(deg(0))]),
        (1, [math.cos(deg(55)), math.sin(deg(55))]),
        (2, [math.cos(deg(110)), math.sin(deg(110))]),
    ]
    df = _emb_df(spark, rows)
    out = C.semantic_dedup_retained(df, k=1, updates=0)
    assert [r["vec_id"] for r in out.collect()] == [0]


def test_semantic_dedup_no_pairs_retains_all(spark):
    # Orthogonal-ish vectors: nothing reaches cosine 0.35 -> all retained.
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.0, 0.0, 1.0]),
    ]
    df = _emb_df(spark, rows)
    out = C.semantic_dedup_retained(df, k=1, updates=1)
    assert sorted(r["vec_id"] for r in out.collect()) == [0, 1, 2]


def test_farthest_point_seeding_spreads(spark):
    # Points on a line at 0.0, 0.01, 0.45, 0.46, 0.9, 0.91 (ids 0..5).
    # Sweep: seed0 = id0 (min id); seed1 = farthest from 0.0 -> id4/5
    # (0.91 wins); seed2 = maximizes min-dist to {0.0, 0.91} -> ~0.45.
    rows = [(i, [v]) for i, v in enumerate([0.0, 0.01, 0.45, 0.46, 0.9, 0.91])]
    df = _emb_df(spark, rows)
    from retail_aws_etl_pipeline_spark.operators.similarity import with_quantized

    qdf = with_quantized(df).select("vec_id", "qvec")
    cents = C.init_centroids_farthest(qdf, 3)
    picked = [cv[0] for _, cv in cents]
    assert picked == [_quant([0.0])[0], _quant([0.91])[0], _quant([0.45])[0]]

    # and the full farthest-init kmeans stays deterministic across runs
    a = sorted(map(tuple, C.kmeans_assign(df, k=3, updates=1, init="farthest").collect()))
    b = sorted(map(tuple, C.kmeans_assign(df, k=3, updates=1, init="farthest").collect()))
    assert a == b


def test_kmeans_k_exceeds_n(spark):
    # k larger than the corpus: init takes every vector (limit clamps),
    # each point sits in its own cluster at distance 0.
    rows = [(0, [0.1, 0.2]), (1, [0.5, 0.6]), (2, [0.9, 0.1])]
    df = _emb_df(spark, rows)
    out = sorted(
        (r["vec_id"], r["cluster_id"], r["dist"])
        for r in C.kmeans_assign(df, k=10, updates=1).collect()
    )
    assert out == [(0, 0, 0), (1, 1, 0), (2, 2, 0)]


def test_kmeans_all_identical_vectors(spark):
    # Degenerate corpus: every vector equal. All centroids coincide; the
    # min-cid tie-break sends everything to cluster 0 at distance 0, and
    # semantic dedup keeps exactly one survivor.
    rows = [(i, [0.3, 0.3]) for i in range(5)]
    df = _emb_df(spark, rows)
    out = C.kmeans_assign(df, k=3, updates=1).collect()
    assert {(r["cluster_id"], r["dist"]) for r in out} == {(0, 0)}
    kept = C.semantic_dedup_retained(df, k=3, updates=1)
    assert [r["vec_id"] for r in kept.collect()] == [0]

