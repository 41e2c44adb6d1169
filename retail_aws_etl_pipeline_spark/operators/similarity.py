"""Similarity search over embedding columns (array<float>).

Cosine top-k implementations sharing one QUANTIZED contract so
results are integer-exact and engine-reproducible:

    q_i = floor(x_i * 1024)          (int64, exact from the float)
    dot_q(a,b) = Σ q_a[i]·q_b[i]     (int64, exact, order-free)
    cos_q = dot_q / sqrt(norm_a · norm_b)   (identical doubles everywhere)

- ``brute_force_topk``: exact scan — the correctness baseline. O(Q·N·d)
  but embarrassingly parallel; broadcast the probe set, no shuffle.
- ``lsh_bucketed_topk_ball``: random-hyperplane LSH — each vector gets a
  B-bit sign code against B fixed pseudo-random planes (derived from md5,
  shared constant, no RNG); candidates = vectors within Hamming radius of
  the probe's bucket. The 100 TB path: bucket is computed scan-side, the
  join is an equi-join on the bucket id, and recall is tunable via B /
  multi-probe.
- ``ivf_topk`` / ``ivf_index_topk``: coarse-quantizer (IVF) search, in
  memory or against an at-rest index partitioned by cell.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stack_padded(vals, dtype="int64", min_width: int = 0):
    """Stack possibly-RAGGED vectors into a matrix, zero-padding each row
    to the batch max (at least ``min_width``) columns.

    ``np.stack`` raises ``all input arrays must have the same shape`` the
    moment one corrupt row carries a short or empty embedding — certain
    input at 100 TB, found by the r13 adversarial embeddings corpus
    (zero-length vector). Zero-padding reproduces the DuckDB oracles'
    semantics exactly: their per-index ``a.qvec[i] * b.qvec[i]`` yields
    NULL past the shorter vector's end and ``list_sum`` skips NULLs, so
    the oracle dot IS the shared-prefix dot — which trailing zeros
    preserve bit-for-bit. An all-zero row (empty vector) then falls to
    the ``dot > 0`` sign guard on both engines. Uniform batches take the
    fast ``np.stack`` path.
    """
    import numpy as np

    arrs = [np.asarray(a, dtype=dtype) for a in vals]
    if not arrs:
        return np.zeros((0, max(min_width, 1)), dtype=dtype)
    widths = {a.size for a in arrs}
    width = max(max(widths), min_width, 1)
    if widths == {width}:
        return np.stack(arrs)
    out = np.zeros((len(arrs), width), dtype=dtype)
    for i, a in enumerate(arrs):
        out[i, : a.size] = a
    return out


QUANT_SCALE = 1024
NUM_PLANES = 8
PLANE_DIM = 64


def _plane_weight(p: int, i: int) -> int:
    """Deterministic pseudo-random weight in [-1000, 1000] from md5(p:i)."""
    h = hashlib.md5(f"{p}:{i}".encode()).hexdigest()
    return int(h[:8], 16) % 2001 - 1000


#: NUM_PLANES × PLANE_DIM fixed hyperplane matrix (shared with oracles).
PLANES: list[list[int]] = [
    [_plane_weight(p, i) for i in range(PLANE_DIM)] for p in range(NUM_PLANES)
]


def quantized(col: str = "embedding"):
    return F.expr(f"transform({col}, x -> CAST(floor(x * {QUANT_SCALE}) AS BIGINT))")


def _dot(a: str, b: str):
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")


def with_quantized(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Add ``qvec`` (int64 array) and ``qnorm`` (int64 self-dot).

    Idempotent: a frame that already carries qvec/qnorm DERIVED FROM THE
    SAME SOURCE COLUMN passes through unchanged, so callers can quantize
    (and persist) ONCE and feed the same base through many index builds —
    e.g. ann_recall_sweep's legs — and every operator here transparently
    reuses it instead of re-deriving the quantization lineage per call.
    The source column is recorded in qvec's field metadata; asking to
    quantize a different column re-derives (stale-quantization guard)."""
    from retail_aws_etl_pipeline_spark.session import spread_for_compute

    if "qvec" in df.columns and "qnorm" in df.columns:
        src = dict(df.schema["qvec"].metadata or {}).get("quantized_from")
        if src == col or src is None and col == "embedding":
            return df
        df = df.drop("qvec", "qnorm")
    # quantization + the downstream GEMM/dot kernels are array-heavy
    # per-row compute — spread off a single-task scan (no-op at scale)
    from retail_aws_etl_pipeline_spark.session import PY_KERNEL_MAX_PARTS

    out = spread_for_compute(df, max_parts=PY_KERNEL_MAX_PARTS).withColumn(
        "qvec", quantized(col).alias("qvec", metadata={"quantized_from": col})
    )
    return out.withColumn("qnorm", _dot("qvec", "qvec"))


def cosine_pairs(probes: DataFrame, candidates: DataFrame) -> DataFrame:
    """Quantized cosine for every (probe, candidate) row pair.

    Inputs must carry ``qvec``/``qnorm`` (see ``with_quantized``) and ids
    aliased ``probe_id`` / ``vec_id``.
    """
    joined = probes.crossJoin(candidates).filter(F.col("probe_id") != F.col("vec_id"))
    dot = _dot("p_qvec", "qvec")
    return joined.withColumn("dot_q", dot).withColumn(
        "cosine", F.col("dot_q") / F.sqrt((F.col("p_qnorm") * F.col("qnorm")).cast("double"))
    )


def brute_force_topk(
    df: DataFrame, probe_ids: list[int], k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Exact top-k nearest by quantized cosine for each probe id."""
    from pyspark.sql import Window as W

    base = with_quantized(df).select(id_col, "qvec", "qnorm")
    probes = (
        base.filter(F.col(id_col).isin(probe_ids))
        .select(
            F.col(id_col).alias("probe_id"),
            F.col("qvec").alias("p_qvec"),
            F.col("qnorm").alias("p_qnorm"),
        )
    )
    scored = cosine_pairs(F.broadcast(probes), base)
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", id_col, "dot_q", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def with_lsh_bucket(
    df: DataFrame, qvec_col: str = "qvec", planes: list[list[int]] | None = None
) -> DataFrame:
    """Add the B-bit random-hyperplane bucket id (computed scan-side).

    ``planes`` defaults to the full fixed matrix; pass a prefix slice
    (``PLANES[:n]``) to trade recall for bucket selectivity.
    """
    use = PLANES if planes is None else planes
    # Idempotent like with_quantized: a frame that already carries a
    # bucket PROJECTED FROM THE SAME PLANE SET passes through, so callers
    # can bucket (and persist) the corpus once and feed the same base
    # through both an index build and its recall baseline without a
    # second projection pass. The metadata records a digest of the plane
    # VALUES (not just the count — two different plane sets of equal
    # length must not alias) plus the source column; anything else
    # re-derives.
    plane_digest = _plane_digest(use)
    if "bucket" in df.columns:
        meta = dict(df.schema["bucket"].metadata or {})
        if (
            meta.get("lsh_plane_digest") == plane_digest
            and meta.get("lsh_qvec") == qvec_col
        ):
            return df
        df = df.drop("bucket")
    bucket = None
    for p, weights in enumerate(use):
        arr = "array(" + ", ".join(f"{w}L" for w in weights) + ")"
        # Project over the VECTOR's length, not the plane's: zip_with
        # pads the shorter side with NULLs, so a vector with fewer than
        # PLANE_DIM components NULL-poisons the whole fold (NULL
        # projection -> sign test NULL -> bit 0 for every plane), sending
        # every short vector to bucket 0 and silently degrading LSH
        # toward all-pairs — while the DuckDB oracles index w[i] only up
        # to len(qvec). Latent on the 64-dim testdata, caught by the r12
        # adversarial corpus. Vectors LONGER than PLANE_DIM stay outside
        # the contract on both sides (the plane matrix can't cover them).
        proj = F.expr(
            f"aggregate(zip_with({qvec_col}, slice({arr}, 1, size({qvec_col})),"
            " (x, w) -> x * w), 0L, (acc, v) -> acc + v)"
        )
        bit = F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    # A ZERO-LENGTH vector is pinned to bucket 0 (ADVICE r12): the Spark
    # fold aggregates an empty array to the 0L init, so proj >= 0 set
    # EVERY sign bit (bucket 2^B-1), while the DuckDB oracles' list_sum
    # over an empty list is NULL and every CASE takes the ELSE 0 branch
    # (bucket 0) — empty embeddings routed to opposite buckets on the two
    # engines. Bucket 0 is the convention: no components, no signal.
    bucket = F.when(F.size(F.col(qvec_col)) == 0, F.lit(0)).otherwise(bucket)
    return df.withColumn(
        "bucket",
        bucket.alias(
            "bucket",
            metadata={"lsh_plane_digest": plane_digest, "lsh_qvec": qvec_col},
        ),
    )


def _plane_digest(planes: list[list[int]]) -> str:
    """Stable digest of a hyperplane matrix's VALUES, for the
    :func:`with_lsh_bucket` idempotence check."""
    import hashlib

    raw = repr([tuple(p) for p in planes]).encode()
    return hashlib.md5(raw).hexdigest()


def lsh_bucketed_topk_ball(
    df: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    multiprobe_radius: int = 1,
    planes: list[list[int]] | None = None,
) -> DataFrame:
    """Multi-probe LSH via probe-side ball expansion + EQUI-join.

    Same candidate set as a bucket-Hamming nested-loop join (the oracle's
    form), but built for many probes: each probe row explodes into the
    ``sum(C(B, r) for r <= radius)`` bucket ids of its Hamming ball (B=8,
    radius 1 → 9 rows) and the match is a plain equi-join on ``bucket`` —
    a shuffled/broadcast hash join the planner can scale, instead of a
    nested-loop bit_count(xor) predicate that evaluates every (probe, row)
    combination. Each candidate appears exactly once per probe (its bucket
    fixes the xor mask), so no dedup is needed.
    """
    from itertools import combinations

    from pyspark.sql import Window as W

    n_planes = NUM_PLANES if planes is None else len(planes)
    masks = [0]
    if multiprobe_radius >= 1:
        masks += [1 << p for p in range(n_planes)]
    if multiprobe_radius >= 2:
        masks += [(1 << p) | (1 << q) for p, q in combinations(range(n_planes), 2)]
    if multiprobe_radius >= 3:
        raise ValueError("ball expansion implemented for radius <= 2")

    base = with_lsh_bucket(with_quantized(df), planes=planes).select(
        id_col, "qvec", "qnorm", "bucket"
    )
    probes = base.filter(F.col(id_col).isin(probe_ids)).select(
        F.col(id_col).alias("probe_id"),
        F.col("qvec").alias("p_qvec"),
        F.col("qnorm").alias("p_qnorm"),
        F.col("bucket").alias("p_bucket"),
    )
    balls = probes.withColumn(
        "bucket",
        F.explode(F.array(*[F.col("p_bucket").bitwiseXOR(F.lit(m)) for m in masks])),
    )
    joined = F.broadcast(balls).join(base, "bucket").filter(
        F.col("probe_id") != F.col(id_col)
    )
    scored = joined.withColumn("dot_q", _dot("p_qvec", "qvec")).withColumn(
        "cosine", F.col("dot_q") / F.sqrt((F.col("p_qnorm") * F.col("qnorm")).cast("double"))
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", id_col, "dot_q", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def near_dup_pairs_lsh_gemm(
    df: DataFrame,
    min_cosine: float,
    id_col: str = "vec_id",
    planes: list[list[int]] | None = None,
) -> DataFrame:
    """LSH-bucketed near-dup pairs — the sub-quadratic 100 TB path.

    Candidate semantics (oracle-expressible, deterministic): pairs whose
    hyperplane buckets are within Hamming distance 1, scored by the same
    quantized-cosine threshold. One side explodes into its radius-1 bucket
    ball, the other keeps its home bucket; cogrouped per bucket, a numpy
    int64 GEMM scores ball-side × home-side. A qualifying pair (a, b)
    appears in exactly one surviving orientation — for hamming 0 both
    orientations land in the shared home bucket and the ``ball_id <
    home_id`` mask keeps one; for hamming 1 each orientation lands in a
    different bucket and the mask kills exactly one — so no dedup pass.

    Scales: shuffle is (B+1)·N ball rows + N home rows, compute is
    per-bucket GEMMs (quadratic only within a bucket), nothing collected.
    Recall is tunable via the number of planes.
    """
    import numpy as np

    tau_sq = float(min_cosine) * float(min_cosine)
    use_planes = PLANES if planes is None else planes
    n_planes = len(use_planes)
    base = with_lsh_bucket(with_quantized(df), planes=use_planes).select(
        id_col, "qvec", "qnorm", "bucket"
    )
    masks = [0] + [1 << p for p in range(n_planes)]
    balls = base.withColumn(
        "bucket", F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]))
    )

    def kernel(key, ball_pdf, home_pdf):
        import pandas as pd

        if ball_pdf.empty or home_pdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        a_ids = ball_pdf[id_col].to_numpy(dtype="int64")
        a_mat = stack_padded(ball_pdf["qvec"].to_numpy())
        a_norms = ball_pdf["qnorm"].to_numpy(dtype="int64")
        b_ids = home_pdf[id_col].to_numpy(dtype="int64")
        b_mat = stack_padded(home_pdf["qvec"].to_numpy())
        b_norms = home_pdf["qnorm"].to_numpy(dtype="int64")
        # the two cogroup sides pad independently; equalize for the GEMM
        w = max(a_mat.shape[1], b_mat.shape[1])
        if a_mat.shape[1] < w:
            a_mat = np.pad(a_mat, ((0, 0), (0, w - a_mat.shape[1])))
        if b_mat.shape[1] < w:
            b_mat = np.pad(b_mat, ((0, 0), (0, w - b_mat.shape[1])))
        # orientation mask: ball id strictly below home id (see docstring)
        dots = a_mat @ b_mat.T
        lhs = dots.astype("float64") ** 2
        rhs = tau_sq * a_norms[:, None].astype("float64") * b_norms[None, :].astype("float64")
        keep = (dots > 0) & (lhs >= rhs) & (a_ids[:, None] < b_ids[None, :])
        ai, bi = np.nonzero(keep)
        cos = dots[ai, bi] / np.sqrt((a_norms[ai] * b_norms[bi]).astype("float64"))
        return pd.DataFrame({"id_a": a_ids[ai], "id_b": b_ids[bi], "cosine": cos})

    return (
        balls.groupBy("bucket")
        .cogroup(base.groupBy("bucket"))
        .applyInPandas(kernel, schema="id_a long, id_b long, cosine double")
    )


# --- IVF (inverted-file) coarse quantizer --------------------------------

IVF_CENTROIDS = 8
IVF_KMEANS_ITERS = 2

#: Target driver-side fit-sample size: the auto-derived ``sample_mod``
#: keeps the collected matrix at ~this many vectors regardless of corpus N.
IVF_FIT_TARGET_ROWS = 100_000


def _auto_sample_mod(n: int) -> int:
    """ceil(n / IVF_FIT_TARGET_ROWS) — shared by the Spark and parquet fit
    paths so both derive the identical systematic sample from the same N."""
    return max(1, -(-int(n) // IVF_FIT_TARGET_ROWS))


def ivf_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    sample_mod: int | None = None,
    k: int = IVF_CENTROIDS,
) -> list[list[int]]:
    """Deterministic integer k-means centroids for the IVF index.

    Init = the quantized vectors of the ``IVF_CENTROIDS`` lowest ids
    (deterministic, no RNG), then ``IVF_KMEANS_ITERS`` Lloyd iterations in
    numpy, with centroids ROUNDED TO INTEGERS after each update — all
    subsequent distance math is exact int64, so assignments are identical
    in Spark, numpy, and any SQL engine given the same centroid literals.

    ``sample_mod`` is the 100 TB knob: only rows with
    ``pmod(id, sample_mod) == 0`` are collected for the fit — a
    deterministic 1/sample_mod systematic sample (k-means centroids
    converge on far less data than the corpus; reproducible across Spark,
    pyarrow, and SQL engines, unlike seeded Bernoulli sampling whose draw
    order depends on partitioning). The DEFAULT (``None``) derives it from
    a corpus count as ``ceil(N / IVF_FIT_TARGET_ROWS)`` so the driver never
    collects more than ~100k quantized vectors no matter the corpus size —
    collecting the full corpus requires explicitly passing ``sample_mod=1``.
    """
    import numpy as np

    if sample_mod is None:
        sample_mod = _auto_sample_mod(df.count())
    base = with_quantized(df).select(id_col, "qvec")
    if sample_mod > 1:
        base = base.filter(F.pmod(F.col(id_col), F.lit(sample_mod)) == 0)
    mat = stack_padded([r["qvec"] for r in base.orderBy(id_col).collect()])
    return _kmeans_int(mat, k)


def _kmeans_int(mat, k: int = IVF_CENTROIDS) -> list[list[int]]:
    import numpy as np

    cents = mat[:k].astype(np.float64)
    for _ in range(IVF_KMEANS_ITERS):
        d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            members = mat[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cents = np.rint(cents)
    return [[int(x) for x in row] for row in cents]


def ivf_centroids_from_parquet(
    path: str, sample_mod: int | None = None, k: int = IVF_CENTROIDS
) -> list[list[int]]:
    """Spark-free centroid fit (pyarrow + numpy) — used by the DuckDB
    oracle side so both engines share identical centroid literals.
    Applies the same deterministic ``id % sample_mod == 0`` systematic
    sample as :func:`ivf_centroids`, including the same auto-derived
    default (``ceil(N / IVF_FIT_TARGET_ROWS)``), so both paths fit on the
    identical sample given the same corpus."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = t["vec_id"].to_numpy()
    if sample_mod is None:
        sample_mod = _auto_sample_mod(len(ids))
    keep = np.ones(len(ids), dtype=bool) if sample_mod <= 1 else (ids % sample_mod == 0)
    ids = ids[keep]
    order = np.argsort(ids)
    emb = stack_padded(t["embedding"].to_numpy()[keep][order], dtype="float64")
    mat = np.floor(emb * QUANT_SCALE).astype(np.int64)
    return _kmeans_int(mat, k)


def assign_centroid(qvec_col: str, centroids: list[list[int]]):
    """Scan-side argmin-distance centroid assignment (exact int math,
    tiebreak = lowest centroid id).

    Built as ONE struct-array min — `array_min` over `(dist, cid)` structs
    compares field-by-field, so the lowest distance wins and ties break to
    the lowest centroid id. A nested WHEN chain here would duplicate every
    previous distance expression at each step (O(K²) tree → analysis and
    codegen dominated the runtime at K=8); this form is linear in K."""
    entries = []
    for cid, cent in enumerate(centroids):
        arr = "array(" + ", ".join(f"{w}L" for w in cent) + ")"
        dist = (
            f"aggregate(zip_with({qvec_col}, {arr}, (x, c) -> (x - c) * (x - c)),"
            " 0L, (acc, v) -> acc + v)"
        )
        entries.append(f"named_struct('d', {dist}, 'c', {cid}L)")
    return F.expr(f"array_min(array({', '.join(entries)})).c")


def ranked_centroids(qvec_col: str, centroids: list[list[int]], nprobe: int):
    """The ``nprobe`` nearest centroid ids, ordered by (distance, cid).

    Same exact-int64 struct contract as :func:`assign_centroid`; one
    array_sort + slice instead of K argmin passes."""
    entries = []
    for cid, cent in enumerate(centroids):
        arr = "array(" + ", ".join(f"{w}L" for w in cent) + ")"
        dist = (
            f"aggregate(zip_with({qvec_col}, {arr}, (x, c) -> (x - c) * (x - c)),"
            " 0L, (acc, v) -> acc + v)"
        )
        entries.append(f"named_struct('d', {dist}, 'c', {cid}L)")
    return F.expr(
        f"transform(slice(array_sort(array({', '.join(entries)})), 1, {nprobe}), s -> s.c)"
    )


def ivf_topk(
    df: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    centroids: list[list[int]] | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF ANN: candidates restricted to the probe's ``nprobe`` nearest
    centroid cells (multi-cell probing — the standard IVF recall lever).

    The probe side explodes into its nprobe cell ids and the match is an
    equi-join on ``cell``; candidate cells are disjoint, so no dedup pass
    is needed. Candidates carry only their single home cell — the scan
    side stays one row per vector at any nprobe.
    """
    from pyspark.sql import Window as W

    cents = centroids if centroids is not None else ivf_centroids(df, id_col)
    base = with_quantized(df).withColumn("cell", assign_centroid("qvec", cents)).select(
        id_col, "qvec", "qnorm", "cell"
    )
    probes = (
        with_quantized(df.filter(F.col(id_col).isin(probe_ids)))
        .select(
            F.col(id_col).alias("probe_id"),
            F.col("qvec").alias("p_qvec"),
            F.col("qnorm").alias("p_qnorm"),
            F.explode(ranked_centroids("qvec", cents, nprobe)).alias("cell"),
        )
    )
    joined = F.broadcast(probes).join(
        base, on=[probes.cell == base.cell], how="inner"
    ).filter(F.col("probe_id") != F.col(id_col))
    scored = joined.withColumn("dot_q", _dot("p_qvec", "qvec")).withColumn(
        "cosine", F.col("dot_q") / F.sqrt((F.col("p_qnorm") * F.col("qnorm")).cast("double"))
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", id_col, "dot_q", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def ivf_index_write(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    centroids: list[list[int]] | None = None,
    sample_mod: int | None = None,
    k: int = IVF_CENTROIDS,
) -> list[list[int]]:
    """Materialize the IVF index AT REST: quantized vectors + norms written
    as one parquet dataset **partitioned by cell**, centroids in a hidden
    ``_centroids`` sidecar inside the dataset (underscore-prefixed paths
    are invisible to the main parquet read).

    This is the build-once/query-many production shape the in-memory
    :func:`ivf_topk` approximates per query: the expensive parts — the
    centroid fit and the corpus assignment+quantization pass — run ONCE at
    build time, and every query after that touches only its probed cells'
    files via static partition pruning (see :func:`ivf_index_topk`). At
    100 TB the difference is a full-corpus scan per query vs reading
    ``nprobe/k_cells`` of the data, which is the entire point of IVF.

    Returns the fitted centroids (also persisted in the sidecar).
    """
    spark = df.sparkSession
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(df, id_col, sample_mod=sample_mod, k=k)
    )
    base = (
        with_quantized(df)
        .withColumn("cell", assign_centroid("qvec", cents))
        .select(id_col, "qvec", "qnorm", "cell")
    )
    base.write.mode("overwrite").partitionBy("cell").parquet(path)
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid long, centroid array<bigint>"
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(path + "/_centroids")
    return cents


def ivf_index_centroids(spark, path: str) -> list[list[int]]:
    """Centroids persisted by :func:`ivf_index_write` (cid order)."""
    rows = spark.read.parquet(path + "/_centroids").orderBy("cid").collect()
    return [[int(x) for x in r["centroid"]] for r in rows]


def ivf_index_topk(
    probes: DataFrame,
    index_path: str,
    k: int = 10,
    id_col: str = "vec_id",
    nprobe: int = 1,
) -> DataFrame:
    """Query an at-rest IVF index (:func:`ivf_index_write`): same results
    as :func:`ivf_topk` with the same centroids/nprobe, but the corpus
    side is the persisted index and the scan is **statically
    partition-pruned** to the probed cells.

    ``probes`` carries (id_col, embedding) for the query vectors — a tiny
    frame by contract. Their probed cells are computed scan-side and
    collected (bounded by |probes| × nprobe), then pushed into the index
    read as a partition filter: the executed plan's FileScan shows
    ``PartitionFilters: [cell IN (...)]`` and only those directories'
    files are read (gated by test). Join/score/top-k are the shared IVF
    shapes: broadcast probes, equi-join on cell, per-probe rank window.
    """
    from pyspark.sql import Window as W

    spark = probes.sparkSession
    cents = ivf_index_centroids(spark, index_path)
    p = (
        with_quantized(probes)
        .select(
            F.col(id_col).alias("probe_id"),
            F.col("qvec").alias("p_qvec"),
            F.col("qnorm").alias("p_qnorm"),
            F.explode(ranked_centroids("qvec", cents, nprobe)).alias("cell"),
        )
    )
    probed = p.localCheckpoint()  # tiny; cells read off it without refit
    cells = [r["cell"] for r in probed.select("cell").distinct().collect()]
    index = spark.read.parquet(index_path).filter(F.col("cell").isin(cells))
    joined = (
        F.broadcast(probed.withColumn("cell", F.col("cell").cast("int")))
        .join(index, "cell")
        .filter(F.col("probe_id") != F.col(id_col))
    )
    scored = joined.withColumn("dot_q", _dot("p_qvec", "qvec")).withColumn(
        "cosine",
        F.col("dot_q") / F.sqrt((F.col("p_qnorm") * F.col("qnorm")).cast("double")),
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id", id_col, "dot_q", "cosine", F.col("rank").cast("long").alias("rank")
        )
    )


#: contrastive_pairs defaults: probes every 50th id, 3 negatives/probe,
#: hash strides for negative picking (primes, shared with the oracle).
CONTRASTIVE_PROBE_MOD = 50
CONTRASTIVE_NEGATIVES = 3
CONTRASTIVE_STRIDE_A = 7919
CONTRASTIVE_STRIDE_B = 104729


def contrastive_pairs(
    df: DataFrame,
    probe_mod: int = CONTRASTIVE_PROBE_MOD,
    n_negatives: int = CONTRASTIVE_NEGATIVES,
    id_col: str = "vec_id",
) -> DataFrame:
    """Training-pair construction for contrastive/embedding fine-tuning.

    For each probe (``id % probe_mod == 0``): its exact nearest neighbor
    by quantized cosine becomes the POSITIVE, and ``n_negatives``
    deterministic hash-strided ids become NEGATIVES (the standard
    in-corpus random-negative recipe, made reproducible: negative_j =
    (probe·A + j·B) mod N, requiring the contiguous 0..N-1 id space the
    test tables have — real deployments substitute a row_number index).
    A negative that collides with its probe is dropped (never re-rolled —
    determinism over exact arity). Every emitted row carries the
    quantized cosine so downstream loss weighting can use it.

    Scale: positives ride the broadcast-probe GEMM (probe count is
    corpus/probe_mod); negatives are an equi-join on the picked ids. No
    all-pairs stage anywhere.
    """
    base = with_quantized(df).select(id_col, "qvec", "qnorm")
    probes = base.filter(F.col(id_col) % probe_mod == 0).select(
        F.col(id_col).alias("probe_id"),
        F.col("qvec").alias("p_qvec"),
        F.col("qnorm").alias("p_qnorm"),
    )
    from pyspark.sql import Window as W

    scored = cosine_pairs(F.broadcast(probes), base)
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc(id_col))
    pos = (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            "probe_id",
            F.lit("positive").alias("role"),
            F.col(id_col).alias("other_id"),
            "cosine",
        )
    )
    total = base.agg(F.count(F.lit(1)).alias("__n"))
    picked = (
        probes.crossJoin(F.broadcast(total))
        .select(
            "probe_id",
            "p_qvec",
            "p_qnorm",
            F.explode(F.array(*[F.lit(j) for j in range(1, n_negatives + 1)])).alias("__j"),
            "__n",
        )
        .withColumn(
            "other_id",
            (
                F.col("probe_id") * CONTRASTIVE_STRIDE_A
                + F.col("__j") * CONTRASTIVE_STRIDE_B
            )
            % F.col("__n"),
        )
        .filter(F.col("other_id") != F.col("probe_id"))
    )
    neg = (
        picked.join(base, picked["other_id"] == base[id_col])
        .withColumn("dot_q", _dot("p_qvec", "qvec"))
        .select(
            "probe_id",
            F.lit("negative").alias("role"),
            "other_id",
            (
                F.col("dot_q")
                / F.sqrt((F.col("p_qnorm") * F.col("qnorm")).cast("double"))
            ).alias("cosine"),
        )
    )
    return pos.unionByName(neg)


#: Margin-mining acceptance ratio: best/second-best cosine must be >= 11/10.
MARGIN_NUM = 11
MARGIN_DEN = 10
#: Floor-div reduction applied to squared dots before the cross-multiplied
#: margin compare (keeps every term within int64; deterministic by design).
MARGIN_SQ_SCALE = 1_000_000


def margin_mutual_pairs(
    a_df: DataFrame,
    b_df: DataFrame,
    margin_num: int = MARGIN_NUM,
    margin_den: int = MARGIN_DEN,
    sq_scale: int = MARGIN_SQ_SCALE,
) -> DataFrame:
    """Bitext-style mutual-NN mining with a ratio-margin test.

    ``a_df`` / ``b_df``: (id, qvec, qnorm) for the two sides (e.g. two
    languages). A pair (a, b) is emitted when b is a's cosine-nearest
    B-side neighbor AND a is b's nearest A-side neighbor (forward-backward
    consistency, the CCMatrix/LASER mining rule), with ``margin_ok``
    flagging pairs whose best/second-best cosine ratio clears
    ``margin_num/margin_den`` on BOTH sides — the margin criterion that
    separates true translations from hubs with many near-ties.

    The margin test never compares floats: cos(a,b) >= M * cos(a,b2)
    cross-multiplies to (dot_ab^2 div S) * qn_b2 * M_den^2 >=
    (dot_ab2^2 div S) * qn_b * M_num^2 (the shared 1/qn_a cancels), all
    int64 after the S = 10^6 floor-div reduction; a non-positive
    second-best dot or a missing second neighbor accepts outright. NN
    ranking itself orders by (cosine DESC, id ASC) like every ANN
    operator here. Scale shape: the all-pairs scoring is the brute
    baseline (the GEMM / LSH / IVF paths in this module are the drop-in
    scale forms); ranking windows partition per probe id — bounded
    groups, keyed shuffles, no global structure.
    """
    from pyspark.sql import Window as W

    a = a_df.select(
        F.col("id").alias("id_a"), F.col("qvec").alias("a_qvec"), F.col("qnorm").alias("a_qnorm")
    )
    b = b_df.select(
        F.col("id").alias("id_b"), F.col("qvec").alias("b_qvec"), F.col("qnorm").alias("b_qnorm")
    )
    scored = (
        a.crossJoin(b)
        .withColumn("dot_q", F.expr(
            "aggregate(zip_with(a_qvec, b_qvec, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
        ))
        .withColumn(
            "cosine",
            F.col("dot_q") / F.sqrt((F.col("a_qnorm") * F.col("b_qnorm")).cast("double")),
        )
        .select("id_a", "id_b", "a_qnorm", "b_qnorm", "dot_q", "cosine")
        .persist()
    )
    # `scored` feeds four window/join branches of the returned plan.
    return _margin_select(scored, margin_num, margin_den, sq_scale)


def margin_mutual_pairs_ivf(
    a_df: DataFrame,
    b_df: DataFrame,
    centroids: list[list[int]],
    nprobe: int = 2,
    margin_num: int = MARGIN_NUM,
    margin_den: int = MARGIN_DEN,
    sq_scale: int = MARGIN_SQ_SCALE,
) -> DataFrame:
    """:func:`margin_mutual_pairs` through an IVF coarse quantizer — the
    scale path for the brute cross join.

    Both sides assign to the SHARED integer centroid set (scan-side
    argmin, exact int math); the candidate pair set is
    P = {(a, b) : cell(b) in a's nprobe nearest cells} — each B vector
    lives in exactly one cell, so the cell equi-join generates every
    candidate pair at most once, and candidate volume is corpus-size /
    n_cells * nprobe per probe instead of |B|. Mutuality AND both margin
    tests are evaluated WITHIN P (the standard IVF approximation: a
    neighbor outside the probed cells is invisible), so with
    nprobe = n_centroids this is exactly the brute operator — the
    equivalence the tests pin. Ranking windows stay per-probe-id.
    """
    a_cells = (
        a_df.withColumn("__cells", ranked_centroids("qvec", centroids, nprobe))
        .select(
            F.col("id").alias("id_a"),
            F.col("qvec").alias("a_qvec"),
            F.col("qnorm").alias("a_qnorm"),
            F.explode("__cells").alias("cell"),
        )
    )
    b_cells = b_df.select(
        F.col("id").alias("id_b"),
        F.col("qvec").alias("b_qvec"),
        F.col("qnorm").alias("b_qnorm"),
        assign_centroid("qvec", centroids).alias("cell"),
    )
    # Broadcast the B-side posting lists: a shuffled cell equi-join has at
    # most n_cells-way parallelism and the hottest cell runs in ONE task
    # (measured 10.6x at 10x corpus vs the brute broadcast's 6.2x); the
    # broadcast hash join keeps A-side scan parallelism and is exactly how
    # IVF serving ships index shards to searchers. When B outgrows a
    # broadcast, grow n_cells with the corpus and fall back to the keyed
    # join with AQE skew splitting.
    scored = (
        a_cells.join(F.broadcast(b_cells), "cell")
        .withColumn("dot_q", F.expr(
            "aggregate(zip_with(a_qvec, b_qvec, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
        ))
        .withColumn(
            "cosine",
            F.col("dot_q") / F.sqrt((F.col("a_qnorm") * F.col("b_qnorm")).cast("double")),
        )
        .select("id_a", "id_b", "a_qnorm", "b_qnorm", "dot_q", "cosine")
        .persist()
    )
    return _margin_select(scored, margin_num, margin_den, sq_scale)


def _margin_select(
    scored: DataFrame,
    margin_num: int,
    margin_den: int,
    sq_scale: int = MARGIN_SQ_SCALE,
) -> DataFrame:
    """Mutual-NN + two-sided integer margin over a scored candidate frame
    (id_a, id_b, a_qnorm, b_qnorm, dot_q, cosine) — shared by the brute
    and IVF candidate generators.

    ``sq_scale`` is the floor-div reduction applied to dot_q² before the
    cross-multiplied compare; it keeps every term within int64 but makes
    the margin test an approximation of the exact ratio near the
    boundary. Callers with tighter custom margins can lower it (more
    precision, less headroom) — it threads from the public operators
    rather than being pinned to the module constant (ADVICE r7)."""
    from pyspark.sql import Window as W

    wf = W.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    wb = W.partitionBy("id_b").orderBy(F.desc("cosine"), F.asc("id_a"))
    fwd = scored.withColumn("fr", F.row_number().over(wf)).filter(F.col("fr") <= 2)
    bwd = scored.withColumn("br", F.row_number().over(wb)).filter(F.col("br") <= 2)

    f1 = fwd.filter(F.col("fr") == 1).select(
        "id_a", "id_b", "dot_q", "cosine", "b_qnorm"
    )
    f2 = fwd.filter(F.col("fr") == 2).select(
        F.col("id_a"),
        F.col("dot_q").alias("f2_dot"),
        F.col("b_qnorm").alias("f2_qn"),
    )
    b1 = bwd.filter(F.col("br") == 1).select(
        F.col("id_a"), F.col("id_b"), F.col("a_qnorm")
    )
    b2 = bwd.filter(F.col("br") == 2).select(
        F.col("id_b"),
        F.col("dot_q").alias("b2_dot"),
        F.col("a_qnorm").alias("b2_qn"),
    )
    mutual = (
        f1.join(b1, ["id_a", "id_b"])
        .join(f2, "id_a", "left")
        .join(b2, "id_b", "left")
    )
    fwd_ok = F.when(
        F.col("f2_dot").isNull() | (F.col("f2_dot") <= 0), F.lit(True)
    ).otherwise(
        F.expr(f"(dot_q * dot_q) div {sq_scale}") * F.col("f2_qn") * (margin_den**2)
        >= F.expr(f"(f2_dot * f2_dot) div {sq_scale}") * F.col("b_qnorm") * (margin_num**2)
    )
    bwd_ok = F.when(
        F.col("b2_dot").isNull() | (F.col("b2_dot") <= 0), F.lit(True)
    ).otherwise(
        F.expr(f"(dot_q * dot_q) div {sq_scale}") * F.col("b2_qn") * (margin_den**2)
        >= F.expr(f"(b2_dot * b2_dot) div {sq_scale}") * F.col("a_qnorm") * (margin_num**2)
    )
    return mutual.select(
        "id_a",
        "id_b",
        "dot_q",
        (fwd_ok & bwd_ok & (F.col("dot_q") > 0)).alias("margin_ok"),
    )
