"""Deduplication operators for training-data pipelines.

Four families, all as DataFrame compositions (no UDFs), each with an
ANSI-SQL-expressible formulation so correctness is oracle-checkable:

- **exact**: hash-groupBy on a canonical text hash;
- **MinHash + LSH**: word-shingles → k lexicographic-min md5 signatures →
  banded keys → bucket join for candidate pairs → exact-Jaccard verify.
  The band join is the scale path: candidates only, never all-pairs;
- **SimHash**: 64-bit majority-vote fingerprint from per-token md5 bits;
  near-dups = pairs within a Hamming radius (bit_count(xor));
- **n-gram Jaccard**: inverted-index join on shingles (exact, for modest
  corpora or as the verify stage after LSH).

Integer-only similarity outputs (common/union counts, cross-multiplied
thresholds) keep every result engine-exact.

At 100 TB: shingling is scan-side; the only shuffles are groupBy(gram) /
groupBy(band_key) — both key-partitioned and combiner-friendly. Hot grams
(stop-shingles) are the skew risk: ``max_gram_freq`` drops grams appearing
in more than a fraction of docs (standard LSH practice, and it bounds the
inverted-index blowup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: MinHash parameters: k = NUM_HASHES signatures, banded r=ROWS_PER_BAND.
NUM_HASHES = 6
ROWS_PER_BAND = 2
NUM_BANDS = NUM_HASHES // ROWS_PER_BAND
SHINGLE_N = 3


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    spread: bool = True,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, gram).

    The token array is projected as its own column FIRST: referencing
    ``split(text)`` inside the transform lambda re-tokenizes the document
    for every shingle (no CSE across the lambda boundary) — measured 4x
    slower than splitting once per row.

    ``spread=False`` for callers that already spread (and usually persist)
    their input — the deficit-mode repartition would otherwise re-exchange
    an already-wide cached frame on every materialization.
    """
    # size guard: sequence(1, 0) is DESCENDING [1, 0] in Spark (DuckDB's
    # generate_series(1, 0) is empty), so the greatest() idiom alone
    # still evaluates slice(__toks, 0, n) on a short document and the
    # whole query CRASHES (INVALID_PARAMETER_VALUE.START) — latent on
    # curated corpora where every doc has >= n tokens, fatal on real web
    # data (caught by tests/test_oracle_adversarial.py at r12).
    from retail_aws_etl_pipeline_spark.session import spread_for_compute

    grams = F.array_distinct(
        F.expr(
            f"CASE WHEN size(__toks) >= {SHINGLE_N} THEN"
            f" transform(sequence(1, size(__toks) - {SHINGLE_N - 1}),"
            f" i -> concat_ws(' ', slice(__toks, i, {SHINGLE_N})))"
            " ELSE array() END"
        )
    )
    # spread_for_compute: the tokenize + n-gram construction below is the
    # heaviest per-row work in the dedup family and would otherwise run
    # fused into the scan stage — near-single-task on single-row-group
    # inputs (guide §2.5); no-op on production layouts.
    base = df.select(F.col(id_col), F.col(text_col))
    if spread:
        base = spread_for_compute(base, keys=[id_col])
    return base.withColumn("__toks", F.split(F.col(text_col), " ")).select(
        F.col(id_col), F.explode(grams).alias("gram")
    )


def lsh_bands(gram_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fused wide-form banding: (id, band, band_key) straight from grams.

    One groupBy(doc) computes all k min-hashes as k aggregate columns (no
    k× row explosion like the narrow form), then bands explode into a
    NUM_BANDS-row-per-doc frame — one shuffle and k× less pre-shuffle
    data than a narrow (doc, seed) signature frame banded afterwards.
    """
    mins = [
        F.min(F.md5(F.concat_ws("|", F.lit(s), F.col("gram")))).alias(f"mh{s}")
        for s in range(NUM_HASHES)
    ]
    wide = gram_df.groupBy(id_col).agg(*mins)
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat(
                        *[F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
                    ).alias("band_key"),
                )
                for b in range(NUM_BANDS)
            ]
        )
    ).alias("bp")
    return wide.select(F.col(id_col), bands).select(
        id_col, F.col("bp.band").alias("band"), F.col("bp.band_key").alias("band_key")
    )


def candidate_pairs(
    band_df: DataFrame, id_col: str = "doc_id", hash_band_key: bool = False
) -> DataFrame:
    """Distinct candidate pairs sharing at least one LSH band.

    ``hash_band_key=True`` shrinks the self-join key from the 64-char
    concatenated-md5 band string to xxhash64's fixed 8 bytes (measured
    2.5× on the join at K=10, 1.19× at K=100 — SCALING.md). For
    pipelines that VERIFY candidates against exact Jaccard downstream
    (near-dup clustering, retained-corpus builds), this is exact
    end-to-end regardless of hash collisions: a band-key collision can
    only ADD a candidate, and verify filters it. Only candidate-set-AS-
    output consumers inherit the (negligible, ~K²/2⁶⁵ for K distinct
    band keys) collision envelope — hence default False on the
    oracle-parity surface.
    """
    keyed = band_df
    if hash_band_key:
        keyed = keyed.withColumn("band_key", F.xxhash64("band_key"))
    a = keyed.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = keyed.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_counts(
    gram_df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_gram_freq: int | None = None,
    hash_grams: bool = False,
) -> DataFrame:
    """(id_a, id_b, n_a, n_b, common) for pairs sharing ≥1 shingle.

    With ``pairs`` given, restrict to those candidates (LSH verify stage);
    otherwise all sharing pairs via the inverted index (exact mode).
    ``max_gram_freq`` drops grams hotter than the cap before the self-join
    — the skew/blowup guard at scale.

    ``hash_grams=True`` is the 100 TB scale variant (the xxhash64
    discipline for wide join keys): the join key
    becomes ``xxhash64(gram)`` — a fixed 8 bytes through the widest
    exchange in the whole dedup family instead of the ~25-byte average
    gram string. Measured 1.19× wall at K=10 and 1.45× at K=100 on the
    replica corpus with bit-identical output (SCALING.md). Sizes stay
    exact unconditionally (row counts don't see the hash); ``common``
    can only shift if two DISTINCT grams collide in the same pair of
    docs — expected colliding gram pairs ≈ G²/2⁶⁵ for G distinct grams
    corpus-wide, i.e. ~0.03 at G=10⁹ and only material past G~10¹¹;
    beyond that, widen the key to a two-seed struct
    (xxhash64(gram), xxhash64(concat(gram,'s2'))) for 128-bit behavior.
    Default stays False: the oracle-parity registry entries are
    exact-by-construction with no probabilistic caveat.
    """
    grams = gram_df
    if pairs is not None:
        # Verify stage: only docs that appear in some candidate pair matter —
        # shrink the inverted index BEFORE the self-join, not after.
        cand_ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .unionByName(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        grams = grams.join(F.broadcast(cand_ids), id_col, "left_semi")
    if max_gram_freq is not None:
        hot = (
            grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_gram_freq)
            .select("gram")
        )
        grams = gram_df.join(hot, "gram", "left_anti")
    if hash_grams:
        grams = grams.withColumn("gram", F.xxhash64("gram"))

    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col(id_col).alias("id_a"), "gram")
    b = grams.select(F.col(id_col).alias("id_b"), "gram")
    common = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    if pairs is not None:
        common = common.join(pairs, ["id_a", "id_b"], "left_semi")
    return (
        common.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .select("id_a", "id_b", "n_a", "n_b", "common")
    )


def incremental_jaccard_counts(
    batch_grams: DataFrame,
    corpus_grams: DataFrame,
    id_col: str = "doc_id",
    max_gram_freq: int | None = None,
    hash_grams: bool = False,
) -> DataFrame:
    """(batch_id, corpus_id, n_batch, n_corpus, common) for cross pairs
    sharing ≥1 shingle — the PRODUCTION dedup cadence: each incoming
    batch is checked against the existing corpus (and the batch against
    itself separately via :func:`jaccard_counts`) instead of re-running
    the full corpus self-join every ingest.

    Scale shape: the inverted-index join is batch_grams ⋈ corpus_grams —
    proportional to |batch| × avg-posting-length, NOT |corpus|²; a small
    batch's gram frame broadcast-joins against the corpus scan, so
    steady-state dedup cost tracks the arrival rate. ``max_gram_freq``
    caps hot postings on the CORPUS side (where the skew lives).
    ``hash_grams=True`` joins on xxhash64(gram) — see
    :func:`jaccard_counts` for the collision envelope; sizes stay exact.
    """
    batch = batch_grams
    corpus = corpus_grams
    if max_gram_freq is not None:
        hot = (
            corpus.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_gram_freq)
            .select("gram")
        )
        corpus = corpus.join(hot, "gram", "left_anti")
    if hash_grams:
        batch = batch.withColumn("gram", F.xxhash64("gram"))
        corpus = corpus.withColumn("gram", F.xxhash64("gram"))
    n_batch = batch_grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_batch"))
    n_corpus = corpus_grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_corpus"))
    common = (
        batch.select(F.col(id_col).alias("batch_id"), "gram")
        .join(corpus.select(F.col(id_col).alias("corpus_id"), "gram"), "gram")
        .groupBy("batch_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(n_batch.withColumnRenamed(id_col, "batch_id"), "batch_id")
        .join(n_corpus.withColumnRenamed(id_col, "corpus_id"), "corpus_id")
        .select("batch_id", "corpus_id", "n_batch", "n_corpus", "common")
    )


def containment_pairs(
    gram_df: DataFrame,
    threshold_pct: int = 90,
    id_col: str = "doc_id",
    max_gram_freq: int | None = None,
    hash_grams: bool = False,
) -> DataFrame:
    """Quote/subset near-dup detection: pairs where the SMALLER document's
    shingle set is ≥ ``threshold_pct``% contained in the other —
    ``common / min(n_a, n_b)``, the asymmetric metric Jaccard misses when
    a short document is embedded in a long one (boilerplate quotes,
    excerpt dups in training corpora).

    Same inverted-index discipline as :func:`jaccard_counts` (shared
    implementation): banded equi-join on the gram, never all-pairs, with
    the ``max_gram_freq`` hot-shingle guard at scale. The threshold is an
    integer-percent comparison (``common * 100 >= pct * least``) so the
    predicate is engine-exact; ``containment`` is the single double
    division, emitted for consumers. ``hash_grams`` passes through to the
    shared kernel (the 8-byte join-key scale variant).
    """
    counts = jaccard_counts(
        gram_df, id_col=id_col, max_gram_freq=max_gram_freq, hash_grams=hash_grams
    )
    least = F.least(F.col("n_a"), F.col("n_b"))
    return (
        counts.filter(F.col("common") * 100 >= F.lit(threshold_pct) * least)
        .withColumn("containment", F.col("common").cast("double") / least)
        .select("id_a", "id_b", "n_a", "n_b", "common", "containment")
    )


def _truncate_lineage(df: DataFrame, mode: str) -> DataFrame:
    """Eagerly materialize + truncate an iteration frame's lineage.

    ``mode``: ``"local"`` → ``localCheckpoint`` (executor-block storage —
    fastest, but on a real cluster EXECUTOR LOSS INVALIDATES the blocks
    mid-iteration and the job dies); ``"reliable"`` → ``checkpoint`` to the
    session's checkpoint dir (HDFS/object store — survives executor loss);
    ``"auto"`` → reliable when ``setCheckpointDir`` has been called, local
    otherwise. Long multi-round jobs on real clusters should set a
    checkpoint dir and get the reliable path automatically.
    """
    if mode == "auto":
        sc = df.sparkSession.sparkContext
        has_dir = sc._jsc.sc().getCheckpointDir().isDefined()
        mode = "reliable" if has_dir else "local"
    if mode == "reliable":
        return df.checkpoint(eager=True)
    if mode == "local":
        return df.localCheckpoint()
    raise ValueError(f"checkpoint mode must be auto|local|reliable, got {mode!r}")


def _truncate_lineage_observed(df: DataFrame, mode: str, *aggs):
    """Eager lineage truncation with PIGGYBACKED metrics.

    The iterative operators used to pay two jobs per round: the eager
    checkpoint that materializes the round, plus a probe job
    (``isEmpty``/``count``/anti-join pair) that reads the result back to
    decide convergence. Profiling (scripts/graph_profile.py) showed the
    CC stack at 38-65 jobs per query with 77-90% of wall unexplained by
    task compute — stage round-trips dominate, and every removed job is
    wall-clock at ANY scale (driver latency doesn't shrink on a bigger
    cluster). An ``observe()`` attached to the frame computes the probe
    aggregates DURING the checkpoint's materialization job — both
    ``Dataset.checkpoint`` and ``localCheckpoint`` execute through the
    physical plan, so CollectMetrics fires on either path (pinned by
    test_sampling_clusters round-count tests).

    Returns ``(materialized frame, metrics row as dict)``.
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = _truncate_lineage(df.observe(obs, *aggs), mode)
    return out, obs.get


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    checkpoint: str = "auto",
) -> DataFrame:
    """Connected components over a near-dup pair graph: (node, label).

    ``label`` converges to the minimum node id in each component —
    the canonical-representative assignment that turns pairwise near-dup
    hits into dedup clusters. Min-label propagation with pointer jumping:
    each round every node takes the min of its own label, its neighbors'
    labels, and its *label's* label (path-halving), so convergence is
    O(log diameter) rounds rather than O(diameter).

    Scale design: only nodes that appear in at least one edge enter the
    iteration — near-dup graphs are sparse, so the iterated frame is a
    small fraction of the corpus; singletons are appended with their own
    id as label in a single final anti-join. Each round costs one
    key-partitioned shuffle of the edge-participant set — the jump rides
    the neighbor-min join as synthetic ``(v, label(v))`` edges — and
    convergence is read off a ``_changed`` flag computed inside the same
    pass, no extra per-round comparison join. For adversarially
    dense graphs, the large-star/small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") bounds total edge
    traffic better; this propagation keeps per-round cost lower on the
    shallow clique-chain graphs dedup produces.

    Raises if ``max_iter`` rounds do not reach the fixpoint — the result
    would not be the true component labeling.

    Each round ends in an eager lineage truncation: the new label frame
    references the previous round's plan three times (self, synthetic
    edges, join), so without truncation the logical tree grows as
    3^rounds and planning itself OOMs the driver on high-round graphs.
    Checkpointing caps the per-round plan at constant size; blocks from
    dropped rounds are garbage-collected automatically (no unpersist
    bookkeeping), and the returned frame is already materialized. The
    ``checkpoint`` parameter picks the durability/speed trade
    (see :func:`_truncate_lineage`): default ``"auto"`` uses the reliable
    checkpoint dir when one is configured — the cluster-safe path, since
    executor loss invalidates local checkpoint blocks mid-iteration —
    and falls back to ``localCheckpoint`` in local/dev sessions.
    """
    # Both directions via one explode, NOT a self-union: a union of two
    # selects over `pairs` executes the upstream pair-generation lineage
    # (often an expensive gram self-join) twice in the first
    # materialization; the explode scans it once.
    #
    # The edge list is persisted HASH-PARTITIONED ON src (r17): the
    # repartition lands BEFORE the dedup aggregate — HashPartitioning(src)
    # satisfies ClusteredDistribution(src, dst), so the dedup costs the
    # same single exchange the old distinct() paid while the cached frame
    # keeps a join-reusable layout — and every fixpoint round's
    # neighbor join then reads the edges co-partitioned with the
    # (node)-partitioned label frame instead of re-exchanging the edge
    # set per round (guide §2.4: two operations keyed the same way share
    # one exchange; the label frame's checkpoint preserves the join's
    # hash(node) output partitioning).
    both = F.explode(
        F.array(
            F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
            F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
        )
    ).alias("e")
    edges = (
        pairs.select(both)
        .select("e.src", "e.dst")
        .repartition("src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    labels = _truncate_lineage(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        checkpoint,
    )
    try:
        converged = False
        for _ in range(max_iter):
            # Neighbor pass: each edge (src, dst) delivers label(src) to
            # dst — the same candidate multiset as the old dst-keyed join
            # (both directions are present), but keyed on the edge
            # cache's src layout so the join is exchange-free. The
            # pointer jump runs as its own small join (labels ⋈ labels on
            # label == node) instead of riding a union that destroyed the
            # edge partitioning: the union forced a full (edges+labels)
            # re-exchange every round.
            nbr = edges.join(labels, edges["src"] == labels["node"]).select(
                edges["dst"].alias("node"), F.col("label").alias("cand")
            )
            # node == label rows are no-ops in the jump (label(label(v)) =
            # label(v), and least() leaves the label unchanged) — filter
            # them so the self-join carries only non-root nodes (empty on
            # round 1, shrinking as roots win)
            jump = (
                labels.filter(F.col("node") != F.col("label"))
                .select(F.col("node").alias("__n"), F.col("label").alias("__l"))
                .join(labels.alias("__jy"), F.col("__l") == F.col("__jy.node"))
                .select(F.col("__n").alias("node"), F.col("__jy.label").alias("cand"))
            )
            nbr_min = (
                nbr.unionByName(jump)
                .groupBy("node")
                .agg(F.min("cand").alias("cand"))
            )
            new_label = F.least(
                F.col("label"), F.coalesce(F.col("cand"), F.col("label"))
            )
            # One job per round: the changed-count rides the checkpoint's
            # materialization as an observed metric instead of a separate
            # isEmpty probe (see _truncate_lineage_observed).
            updated, metrics = _truncate_lineage_observed(
                labels.join(nbr_min, "node", "left").select(
                    "node",
                    new_label.alias("label"),
                    (new_label < F.col("label")).alias("_changed"),
                ),
                checkpoint,  # eager: materializes + truncates lineage
                F.sum(F.col("_changed").cast("long")).alias("n_changed"),
            )
            converged = not metrics["n_changed"]
            labels = updated.drop("_changed")
            if converged:
                break
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
        singletons = nodes.select(F.col(id_col).alias("node")).join(
            labels.select("node"), "node", "left_anti"
        )
        return labels.unionByName(singletons.withColumn("label", F.col("node")))
    finally:
        edges.unpersist()


SIMHASH_BITS = 60  # 15 md5 nibbles x 4 bits; bit 63 would overflow int64


def _packed_vote_aggs() -> list:
    """15 packed-lane SUM aggregates + the gram count for the simhash
    majority vote (see :func:`simhash64` for the lane layout)."""
    packed_lut = F.array(
        *[
            F.lit(
                (v & 1)
                | (((v >> 1) & 1) << 16)
                | (((v >> 2) & 1) << 32)
                | (((v >> 3) & 1) << 48)
            ).cast("long")
            for v in range(16)
        ]
    )
    aggs = [F.count(F.lit(1)).alias("n_grams")]
    for p in range(SIMHASH_BITS // 4):
        v = F.instr(F.lit("0123456789abcdef"), F.substring(F.col("gh"), p + 1, 1)) - 1
        aggs.append(F.sum(F.element_at(packed_lut, v + 1)).alias(f"pk_{p}"))
    return aggs


def _sim_from_packed():
    """Simhash value from the packed vote columns (pk_*, n_grams)."""
    sim = None
    for p in range(SIMHASH_BITS // 4):
        for b in range(4):
            count_set = F.shiftright(F.col(f"pk_{p}"), 16 * b).bitwiseAND(F.lit(0xFFFF))
            contrib = F.when(
                count_set * 2 > F.col("n_grams"), F.lit(2 ** (p * 4 + b)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            sim = contrib if sim is None else sim + contrib
    return sim


def per_doc_signatures(gram_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """ALL per-doc dedup signals in one shuffle: (id, n_grams, simhash,
    mh0..mh{k-1}).

    The simhash majority vote and every MinHash signature are aggregates
    over the same gram stream, so a pipeline that wants several dedup
    signals (cluster + banded candidates + simhash) should pay the
    shingle explosion and the groupBy(doc) exchange ONCE — this operator
    is that fused pass. Equals ``simhash64`` ∪ the min-hash columns of
    :func:`lsh_bands` column-for-column.
    """
    hashed = gram_df.withColumn("gh", F.md5("gram"))
    aggs = _packed_vote_aggs() + [
        F.min(F.md5(F.concat_ws("|", F.lit(s), F.col("gram")))).alias(f"mh{s}")
        for s in range(NUM_HASHES)
    ]
    agg = hashed.groupBy(id_col).agg(*aggs)
    return agg.select(
        F.col(id_col),
        F.col("n_grams"),
        _sim_from_packed().alias("simhash"),
        *[F.col(f"mh{s}") for s in range(NUM_HASHES)],
    )


def simhash64(gram_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash per doc from the first 15 md5 hex nibbles per shingle.

    For each bit position, the bit is 1 iff more shingles set it than clear
    it (majority vote) — integer-exact. The nibble value comes from
    ``instr('0123456789abcdef', hex_char) - 1`` — a hex decode that any SQL
    engine can replicate exactly.

    The vote runs over PACKED counters: a 16-entry lookup maps each nibble
    value to a long holding its 4 bit-indicators in 16-bit lanes, so the
    aggregation is 15 packed SUMs + 1 COUNT instead of 60 per-bit SUMs
    (measured ~2x on the agg stage; 4x fewer aggregate buffers). Lane width
    bounds document size at 65 535 shingles — far above any real document
    (shingles are distinct, so this means >65k distinct word 3-grams).
    ``2*count_set > n_grams`` is the same majority as ``SUM(±1) > 0``; ties
    give 0 in both forms, so the fingerprint is bit-identical to the
    unpacked formulation (the DuckDB oracle still uses the ±1 form).
    """
    hashed = gram_df.withColumn("gh", F.md5("gram"))
    agg = hashed.groupBy(id_col).agg(*_packed_vote_aggs())
    return agg.select(F.col(id_col), _sim_from_packed().alias("simhash"))


def simhash_near_pairs(sim_df: DataFrame, max_hamming: int = 3, id_col: str = "doc_id") -> DataFrame:
    """Pairs within a Hamming radius: (id_a, id_b, hamming).

    Scale path, no cross join: the 60-bit simhash splits into 4 15-bit
    bands; two hashes within Hamming distance ≤ 3 must agree exactly on at
    least one band (pigeonhole), so an equi-join on (band, band_bits)
    produces a complete candidate set, verified by ``bit_count(xor)``.
    Requires ``max_hamming < 4``.
    """
    if max_hamming >= 4:
        raise ValueError("banded simhash join guarantees completeness only for max_hamming <= 3")
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("band"),
                    F.shiftright(F.col("simhash"), 15 * p).bitwiseAND(F.lit(32767)).alias("bits"),
                )
                for p in range(4)
            ]
        )
    ).alias("bp")
    banded = sim_df.select(F.col(id_col), F.col("simhash"), bands).select(
        id_col, "simhash", F.col("bp.band").alias("band"), F.col("bp.bits").alias("bits")
    )
    a = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"), "band", "bits")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"), "band", "bits")
    return (
        a.join(b, ["band", "bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


#: Span width (tokens) for chunk-level exact dedup. C4/RefinedWeb dedup at
#: the line / three-sentence-span level; the synthetic corpus has no line
#: structure, so the span is a fixed token window, width tuned so the
#: ~30-word vocabulary actually produces cross-document duplicate spans.
CHUNK_W = 3


def token_chunks(
    df: DataFrame, w: int = CHUNK_W, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Non-overlapping w-token spans per doc: (id, chunk_idx, chunk, n_toks).

    The trailing partial span rides along (n_toks < w). Scan-side only —
    tokenize once, explode the span array; no shuffle.
    """
    spans = F.expr(
        f"filter(transform(sequence(0, greatest(CAST(ceil(size(__toks) / {w}.0) AS INT) - 1, 0)),"
        f" j -> struct(CAST(j AS BIGINT) AS chunk_idx,"
        f" concat_ws(' ', slice(__toks, j * {w} + 1, {w})) AS chunk,"
        f" CAST(size(slice(__toks, j * {w} + 1, {w})) AS BIGINT) AS n_toks)),"
        " s -> s.n_toks > 0)"
    )
    from retail_aws_etl_pipeline_spark.session import spread_for_compute

    return (
        spread_for_compute(df.select(F.col(id_col), F.col(text_col)), keys=[id_col])
        .withColumn("__toks", F.split(F.col(text_col), " "))
        .select(F.col(id_col), F.explode(spans).alias("s"))
        .select(id_col, "s.chunk_idx", "s.chunk", "s.n_toks")
    )


def containment_prefix_candidates(
    gram_df: DataFrame,
    threshold_pct: int = 90,
    id_col: str = "doc_id",
    sizes: DataFrame | None = None,
) -> DataFrame:
    """PPJoin-style prefix-filter candidates for containment ≥ pct%.

    Lemma (exact, no false negatives): if common(A,B) ≥ t where
    t = ceil(pct·n_S/100) for the smaller doc S, then at most n_S - t of
    S's grams are outside the intersection — so ANY m = n_S - t + 1 of
    S's grams include at least one shared gram. Probing the full inverted
    index with just m prefix grams per doc therefore catches every
    qualifying pair (via its smaller side), while shrinking the join's
    left side to ~(1-pct%) of the gram stream.

    WHICH m grams is pure performance: we take the m with the lowest
    corpus document frequency (tie: gram text), so probes land on the
    SHORTEST postings — this is what kills the boilerplate blowup, since
    hot grams almost never make a prefix. The ranking window partitions
    by doc (bounded partitions — a doc's own grams), never globally.

    ``sizes`` lets the verify stage share its (id, __n) frame instead of
    re-deriving the same groupBy (r17).
    """
    from pyspark.sql import Window

    df_counts = gram_df.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    if sizes is None:
        sizes = gram_df.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    m = F.col("__n") - F.expr(f"(__n * {threshold_pct} + 99) DIV 100") + 1
    w = Window.partitionBy(id_col).orderBy("__df", "gram")
    prefix = (
        gram_df.join(df_counts, "gram")
        .join(sizes, id_col)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= m)
        .select(F.col(id_col).alias("__id_p"), "gram")
    )
    other = gram_df.select(F.col(id_col).alias("__id_o"), "gram")
    return (
        prefix.join(other, "gram")
        .filter(F.col("__id_p") != F.col("__id_o"))
        .select(
            F.least("__id_p", "__id_o").alias("id_a"),
            F.greatest("__id_p", "__id_o").alias("id_b"),
        )
        .distinct()
    )


def containment_pairs_prefix(
    gram_df: DataFrame, threshold_pct: int = 90, id_col: str = "doc_id"
) -> DataFrame:
    """:func:`containment_pairs` through the prefix filter: candidates from
    the rare-gram prefix probe, then a DIRECT per-pair verify — each
    candidate pair joins id_a's grams and probes id_b's posting list, so
    verify cost is Σ_cand n_a, proportional to the candidate count. (The
    ``jaccard_counts(pairs=...)`` doc-restricted form is wrong here: with
    containment candidates touching most docs it degenerates back to the
    full self-join.) Identical results to the exact form by the prefix
    lemma — same oracle applies."""
    # one (id, n) frame serves both the prefix-length computation and the
    # verify stage's two size attaches (r17; it re-derived per consumer)
    sizes = gram_df.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    cand = containment_prefix_candidates(
        gram_df, threshold_pct, id_col, sizes=sizes.withColumnRenamed("n", "__n")
    )
    ga = gram_df.select(F.col(id_col).alias("id_a"), "gram")
    gb = gram_df.select(F.col(id_col).alias("id_b"), "gram")
    common = (
        cand.join(ga, "id_a")
        .join(gb, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    counts = common.join(
        sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")), "id_a"
    ).join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")), "id_b")
    least = F.least(F.col("n_a"), F.col("n_b"))
    return (
        counts.filter(F.col("common") * 100 >= F.lit(threshold_pct) * least)
        .withColumn("containment", F.col("common").cast("double") / least)
        .select("id_a", "id_b", "n_a", "n_b", "common", "containment")
    )


#: PageRank constants: damping 85/100 as an integer ratio, rank scale 10^6.
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100
PR_SCALE = 1_000_000


def pagerank_scaled(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Integer-exact PageRank over an undirected pair list.

    ``edges``: (id_a, id_b) undirected pairs; ``nodes``: one row per node
    (id_col). Every quantity is scaled-integer with floor division —
    r0 = SCALE; r'(v) = (15·SCALE) div 100 + (85 · Σ_u r(u) div deg(u))
    div 100 over in-neighbors u — so the fixed-iteration result is
    bit-identical in any engine (the oracle unrolls the same schedule).
    Dangling/isolated nodes keep the teleport term only.

    Scale shape: one groupBy(id) for degrees, then per iteration one
    join (rank ⋈ degree-normalized contribution) + one groupBy(dst) —
    the standard message-passing shape; lineage stays shallow for small
    fixed iteration counts (checkpoint discipline from
    connected_components applies beyond that).
    """
    # Both directions via one explode, NOT a self-union (the
    # connected_components lesson, applied here at r17): a union of two
    # selects over `edges` executes the upstream pair lineage — for
    # doc_pagerank the full gram self-join — TWICE in the first
    # materialization; the explode scans it once. The persisted frame is
    # hash-partitioned on src so the degree groupBy AND the per-round
    # message join both reuse one exchange (guide §2.4).
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition("src")
        # the edge list re-enters the plan twice below (degree groupBy +
        # message build) — without materialization its upstream (often a
        # full gram self-join) recomputes for each
        .persist()
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # The per-iteration message table (src, dst, deg). For DEEP runs it
    # is cached HASH-PARTITIONED ON src (InMemoryRelation preserves
    # output partitioning), so every round's rank join reuses it and
    # only the |nodes|-sized rank frame moves. Measured at the default
    # iterations=2 the materialization costs more than the one saved
    # join (K=100: 105.7 s vs 111.4 s — noise; sf0.1: ~+1 s of pure
    # latency floor), so the cache only engages when the loop is deep
    # enough to amortize it; ReusedExchange already de-duplicates the
    # shallow case's repeated plan fragments.
    msg = sym.join(deg, "src")
    if iterations > 2:
        # already hash(src)-partitioned: sym's cached layout flows through
        # the deg join, so the deep-run cache needs no re-exchange
        msg = msg.persist()
    ranks = nodes.select(F.col(id_col).alias("node")).withColumn(
        "rank", F.lit(PR_SCALE).cast("long")
    )
    for _ in range(iterations):
        contrib = (
            msg.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            ranks.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.expr(
                        f"({PR_DAMP_DEN - PR_DAMP_NUM} * {PR_SCALE}) div {PR_DAMP_DEN}"
                    )
                    + F.expr(
                        f"({PR_DAMP_NUM} * coalesce(in_sum, 0)) div {PR_DAMP_DEN}"
                    )
                ).alias("rank"),
            )
        )
    # The returned plan references the message table once per iteration
    # (and it references `sym`), so no persisted frame is unpersisted here.
    return ranks.select(F.col("node").alias(id_col), F.col("rank").alias("rank_scaled"))


def triangle_census(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected graph given as (id_a < id_b).

    Degree-ordered orientation (compact-forward): every edge points from
    its lower-(degree, id) endpoint to the higher one, so wedge
    enumeration costs Sum(outdeg^2) with outdeg bounded by sqrt(m) — the
    O(m^1.5) textbook bound — instead of Sum(deg^2) on the raw adjacency,
    which one hub vertex turns quadratic. A triangle {u, v, w} ordered by
    (deg, id) is generated exactly once: as the wedge (u->v, u->w) closed
    by the oriented edge v->w (orientation is transitive, so the closing
    edge necessarily points v->w). Returns ONE row, all integer-exact:
    (n_nodes, n_edges, n_wedges, n_triangles, gcc_ppm) where n_wedges is
    Sum C(deg, 2) over undirected degrees (open+closed length-2 paths)
    and gcc_ppm = 3 * T * 10^6 div n_wedges — the global clustering
    coefficient (transitivity) in floor-divided parts-per-million.

    Scale shape: one groupBy for degrees, one equi-join on src for
    wedges, one semi-join for closure — no global structure, every
    shuffle keyed. The two tiny count frames broadcast into the final
    one-row crossJoin.
    """
    # The edge list re-enters the plan four times (degree union x2, the
    # degree-attach join, the edge count); its upstream is typically the
    # full gram self-join, so materialize it once.
    e = edges.select("id_a", "id_b").persist()
    both = e.select(F.col("id_a").alias("node")).unionByName(
        e.select(F.col("id_b").alias("node"))
    )
    deg = both.groupBy("node").agg(F.count(F.lit(1)).alias("deg")).persist()
    withdeg = e.join(
        deg.select(F.col("node").alias("id_a"), F.col("deg").alias("deg_a")), "id_a"
    ).join(deg.select(F.col("node").alias("id_b"), F.col("deg").alias("deg_b")), "id_b")
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("id_a") < F.col("id_b"))
    )
    oriented = withdeg.select(
        F.when(fwd, F.col("id_a")).otherwise(F.col("id_b")).alias("src"),
        F.when(fwd, F.col("id_b")).otherwise(F.col("id_a")).alias("dst"),
        F.when(fwd, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_dst"),
    ).persist()
    e1 = oriented.select("src", F.col("dst").alias("v"), F.col("deg_dst").alias("deg_v"))
    e2 = oriented.select("src", F.col("dst").alias("w"), F.col("deg_dst").alias("deg_w"))
    wedges = e1.join(e2, "src").filter(
        (F.col("deg_v") < F.col("deg_w"))
        | ((F.col("deg_v") == F.col("deg_w")) & (F.col("v") < F.col("w")))
    )
    closed = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "left_semi",
    )
    n_tri = closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    base = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.coalesce(F.sum(F.expr("deg * (deg - 1) div 2")), F.lit(0))
        .cast("long")
        .alias("n_wedges"),
    )
    out = (
        base.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "CAST(CASE WHEN n_wedges = 0 THEN 0"
                " ELSE (3 * n_triangles * 1000000) div n_wedges END AS BIGINT)"
            ).alias("gcc_ppm"),
        )
    )
    # All three caches feed multiple branches of the returned one-row
    # plan, so none is unpersisted here.
    return out


def kcore_peel(
    edges: DataFrame, k: int, rounds: int = 6, checkpoint: str = "auto"
) -> DataFrame:
    """Fixed-``rounds`` k-core peeling: iteratively drop nodes of degree
    < k (and their edges) from an undirected (id_a, id_b) pair list.

    Returns ONE row (k, n_nodes, n_edges, n_under_k): the surviving
    subgraph's node/edge counts plus how many remaining nodes still have
    degree < k — ``n_under_k = 0`` means the peel CONVERGED and the
    result is exactly the k-core; nonzero means the graph's degeneracy
    ordering is deeper than ``rounds`` (each extra round is one more
    groupBy + two semi-joins, so callers pay for depth explicitly
    instead of an unbounded driver loop — adversarial chains peel one
    node per round, the same pathology the CC star variant exists for).
    The round count is part of the operator contract so an unrolled SQL
    oracle can run the identical schedule.

    Scale shape per round: one degree groupBy over the shrinking edge
    list and two semi-joins keyed on the endpoints — all keyed shuffles,
    no collects. Each round's frame references the previous round THREE
    times (the degree branch plus both semi-joins), so the logical tree
    grows as 3^rounds without truncation — planning alone OOMs the
    driver by round ~6 (the connected_components lesson); every round
    therefore eagerly truncates lineage via the shared checkpoint
    discipline (``checkpoint``: auto|local|reliable).
    """
    e = edges.select("id_a", "id_b")
    prev_n = None
    for _ in range(rounds):
        both = e.select(F.col("id_a").alias("node")).unionByName(
            e.select(F.col("id_b").alias("node"))
        )
        keep = (
            both.groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("node")
        )
        # Fixpoint early-exit: peeling only removes edges, so an unchanged
        # count means an unchanged set and every remaining scheduled round
        # is a no-op — the result (and n_under_k) is identical to running
        # all `rounds`, so the fixed-round oracle contract holds while the
        # usual case pays 2-3 rounds, not the budget. The count rides the
        # checkpoint's materialization job as an observed metric (one job
        # per round, not two — see _truncate_lineage_observed).
        e, m = _truncate_lineage_observed(
            e.join(keep.withColumnRenamed("node", "id_a"), "id_a", "left_semi")
            .join(keep.withColumnRenamed("node", "id_b"), "id_b", "left_semi"),
            checkpoint,
            F.count(F.lit(1)).alias("n"),
        )
        n = m["n"]
        if n == prev_n or n == 0:
            break
        prev_n = n
    deg = (
        e.select(F.col("id_a").alias("node"))
        .unionByName(e.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    nodes = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.coalesce(
            F.sum(F.when(F.col("deg") < k, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_under_k"),
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        nodes.crossJoin(F.broadcast(n_edges))
        .select(
            F.lit(k).cast("long").alias("k"),
            "n_nodes",
            "n_edges",
            "n_under_k",
        )
    )


def _bucket_blocked_edit_pairs(base: DataFrame, T: int, S: int) -> DataFrame:
    """Length-bucket blocked levenshtein pairs over ``base``
    (_ed_id/_ed_text/_ed_len), EXACT: lev(a,b) >= |len(a)-len(b)|, so a
    qualifying pair lands in the same or adjacent T-wide length bucket.
    Buckets are few, which would serialize the join into one task per
    bucket on a large cluster — the left side is salted by ``id % S`` and
    each probe row replicated across all salts, restoring buckets x salt
    parallelism with identical output.

    The probe side is small enough that Spark broadcasts it — which makes
    the join inherit the LEFT side's partitioning, and a single-file
    parquet scan is ONE partition: measured 43 s single-task DP at sf0.1.
    The left side is therefore repartitioned on the join keys with an
    EXPLICIT partition count — explicit, because the rows are only a few
    MB and AQE would coalesce a size-based exchange straight back to one
    partition, blind to the O(len x T) per-row verify cost downstream.
    Same total exchange a shuffled hash join would have paid; the verify
    then runs at full (buckets x salt) parallelism."""
    nparts = int(base.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    left = base.select(
        F.col("_ed_id").alias("id_l"),
        F.col("_ed_text").alias("text_l"),
        F.col("_ed_len").alias("len_l"),
        F.expr(f"_ed_len div {T}").alias("bkt_l"),
        # pmod, not %: Spark's % keeps the dividend's sign, so a negative
        # id would salt into -(S-1)..-1 — keys the 0..S-1 probe replicas
        # never carry — silently dropping that row's pairs (ADVICE r7).
        F.expr(f"pmod(_ed_id, {S})").alias("salt_l"),
    ).repartition(nparts, F.col("bkt_l"), F.col("salt_l"))
    right = base.select(
        F.col("_ed_id").alias("id_r"),
        F.col("_ed_text").alias("text_r"),
        F.col("_ed_len").alias("len_r"),
        F.explode(
            F.expr(
                f"flatten(transform(array(_ed_len div {T}, _ed_len div {T} + 1),"
                f" b -> transform(sequence(0, {S - 1}), s -> struct(b AS bkt_r, s AS salt_r))))"
            )
        ).alias("probe"),
    ).select("id_r", "text_r", "len_r", "probe.bkt_r", "probe.salt_r")
    cand = (
        left.join(
            right,
            (F.col("bkt_l") == F.col("bkt_r")) & (F.col("salt_l") == F.col("salt_r")),
        )
        .filter(
            # exactly-once pairing: in-bucket pairs ordered by id; the
            # exploded (bkt+1) probe key only ever meets the next bucket up
            (
                (F.expr(f"len_r div {T}") == F.col("bkt_l"))
                & (F.col("id_l") < F.col("id_r"))
            )
            | (F.expr(f"len_r div {T}") < F.col("bkt_l"))
        )
        .filter(F.abs(F.col("len_l") - F.col("len_r")) <= T)
    )
    verified = cand.select(
        "id_l", "id_r", F.levenshtein("text_l", "text_r", T).alias("d")
    ).filter(F.col("d") >= 0)
    return verified.select(
        F.least("id_l", "id_r").alias("doc_a"),
        F.greatest("id_l", "id_r").alias("doc_b"),
        F.col("d").cast("long").alias("edit_distance"),
    )


def edit_distance_pairs(
    df: DataFrame,
    max_dist: int,
    salt: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    q: int = 3,
    method: str = "bucket",
) -> DataFrame:
    """All unordered pairs within ``max_dist`` levenshtein edits — EXACT.

    Two interchangeable exact plans (identical output, pinned by the
    hypothesis fuzz vs a Python DP):

    - ``method="bucket"`` (default): salted length-bucket blocking over
      the whole corpus + thresholded-levenshtein verify
      (:func:`_bucket_blocked_edit_pairs`). Candidates = all near-length
      pairs. This WINS whenever content filtering cannot beat length
      blocking — measured on the bench corpus, whose small shared
      vocabulary makes every gram/block filter vacuous (distinct-3-gram
      count filter kept 99.8% of candidates; PassJoin positional block
      containment passed 37% of random near-length pairs).
    - ``method="grams"``: Ed-Join-style prefix filtering (Xiao/Wang/Lin,
      VLDB'08 — public algorithm, re-expressed as DataFrame ops), the
      registered scale path for VOCAB-DIVERSE corpora where rare grams
      discriminate. Long pairs (max(len) >= q*(T+1)): by the q-gram
      lemma on DISTINCT grams — one char edit removes at most q grams
      from a string's distinct q-gram set — a qualifying pair shares
      >= max(|D_a|, |D_b|) - qT distinct grams; by the prefix lemma,
      sets sorted in one global rarity order with that overlap must
      collide within their qT+1-long prefixes (repetitive docs with
      |D| <= qT index their full set, and a shared gram is forced by
      the occurrence bound: zero shared grams needs > T edits once
      max(len) > qT + q - 1). Each doc therefore indexes only its qT+1
      globally-rarest distinct grams; the prefix-prefix equi-join is
      keyed on (gram, length-bucket) so near-length pairing is enforced
      INSIDE the join; the thresholded builtin levenshtein verifies
      (JVM DP, no UDF). Short pairs (both len < q*(T+1), where the gram
      bound goes non-positive) fall back to the bucket plan; the two
      branches partition the pair space by max length (disjoint,
      exhaustive), so the union is exact.

    Returns (doc_a, doc_b, edit_distance), doc_a < doc_b, each
    qualifying pair exactly once.
    """
    T, S, Q = int(max_dist), int(salt), int(q)
    assert T >= 1 and Q >= 1
    base = df.select(
        F.col(id_col).alias("_ed_id"),
        F.col(text_col).alias("_ed_text"),
        F.length(F.col(text_col)).cast("long").alias("_ed_len"),
    )
    if method == "bucket":
        return _bucket_blocked_edit_pairs(base, T, S)
    assert method == "grams", method
    split = Q * (T + 1)  # pairs with max len >= split go to the gram branch
    short = _bucket_blocked_edit_pairs(base.filter(F.col("_ed_len") < split), T, S)

    # --- gram branch: docs that can participate in a max-len >= split pair
    longd = base.filter(F.col("_ed_len") >= split - T)
    tokens = longd.select(
        "_ed_id",
        F.col("_ed_len"),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, _ed_len - {Q - 1}),"
                    f" i -> substring(_ed_text, i, {Q}))"
                )
            )
        ).alias("gram"),
    )
    dfreq = tokens.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    from pyspark.sql import Window

    w = Window.partitionBy("_ed_id").orderBy("__df", "gram")
    prefix = (
        tokens.join(dfreq, "gram")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= Q * T + 1)
        .select("_ed_id", "_ed_len", "gram")
    )
    pl = prefix.select(
        F.col("_ed_id").alias("id_l"),
        F.col("_ed_len").alias("len_l"),
        F.col("gram").alias("gram_l"),
        F.expr(f"_ed_len div {T}").alias("bkt_l"),
    )
    pr = prefix.select(
        F.col("_ed_id").alias("id_r"),
        F.col("_ed_len").alias("len_r"),
        F.col("gram").alias("gram_r"),
        F.explode(
            F.expr(f"array(_ed_len div {T}, _ed_len div {T} + 1)")
        ).alias("bkt_r"),
    )
    cand = (
        pl.join(
            pr,
            (F.col("gram_l") == F.col("gram_r")) & (F.col("bkt_l") == F.col("bkt_r")),
        )
        .filter(
            # exactly-once bucket pairing (same rule as the short branch)
            (
                (F.expr(f"len_r div {T}") == F.col("bkt_l"))
                & (F.col("id_l") < F.col("id_r"))
            )
            | (F.expr(f"len_r div {T}") < F.col("bkt_l"))
        )
        .filter(F.abs(F.col("len_l") - F.col("len_r")) <= T)
        .filter(F.greatest("len_l", "len_r") >= split)
        .select("id_l", "id_r")
        .distinct()
    )
    sides = base.select("_ed_id", "_ed_text")
    # No pre-verify count filter: on shared-vocabulary corpora it keeps
    # ~everything (measured 99.8% pass) while costing 2 gram-array builds
    # per candidate — the thresholded DP is cheaper than the "filter".
    long_pairs = (
        cand.join(
            sides.select(
                F.col("_ed_id").alias("id_l"), F.col("_ed_text").alias("text_l")
            ),
            "id_l",
        )
        .join(
            sides.select(
                F.col("_ed_id").alias("id_r"), F.col("_ed_text").alias("text_r")
            ),
            "id_r",
        )
        .select("id_l", "id_r", F.levenshtein("text_l", "text_r", T).alias("d"))
        .filter(F.col("d") >= 0)
        .select(
            F.least("id_l", "id_r").alias("doc_a"),
            F.greatest("id_l", "id_r").alias("doc_b"),
            F.col("d").cast("long").alias("edit_distance"),
        )
    )
    return short.unionByName(long_pairs)


def edit_distance_pairs_lsh(
    df: DataFrame,
    max_dist: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PRODUCTION-scale edit-distance pairs: MinHash-LSH candidates +
    thresholded-levenshtein verify.

    The exact forms (:func:`edit_distance_pairs`) verify every
    near-length pair — Θ(N² · length-density) candidates, measured 70×
    wall for 10× corpus (SCALING.md). This composition reuses the
    standing MinHash banding (:func:`shingles` → :func:`lsh_bands` →
    :func:`candidate_pairs`) so candidate volume tracks TRUE near-dup
    density instead, then applies the same length prune + thresholded
    JVM levenshtein verify. Precision stays exact (every emitted pair
    is verified); RECALL follows the banding's S-curve — character-level
    near-dups with low word-shingle Jaccard (short docs near the
    distance bound) can be missed, and `lsh_dedup_recall` is the
    standing per-decile audit of exactly that trade. Same output schema
    as the exact forms.
    """
    T = int(max_dist)
    cands = candidate_pairs(lsh_bands(shingles(df, id_col, text_col), id_col), id_col)
    sides = df.select(
        F.col(id_col).alias("_ed_id"),
        F.col(text_col).alias("_ed_text"),
        F.length(F.col(text_col)).cast("long").alias("_ed_len"),
    )
    return (
        cands.join(
            sides.select(
                F.col("_ed_id").alias("id_a"),
                F.col("_ed_text").alias("text_a"),
                F.col("_ed_len").alias("len_a"),
            ),
            "id_a",
        )
        .join(
            sides.select(
                F.col("_ed_id").alias("id_b"),
                F.col("_ed_text").alias("text_b"),
                F.col("_ed_len").alias("len_b"),
            ),
            "id_b",
        )
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= T)
        .select("id_a", "id_b", F.levenshtein("text_a", "text_b", T).alias("d"))
        .filter(F.col("d") >= 0)
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            F.col("d").cast("long").alias("edit_distance"),
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (Rabin-style rolling-hash boundaries)
# ---------------------------------------------------------------------------

#: Rolling-hash window (tokens), polynomial base, modulus, and boundary
#: divisor (expected chunk length ≈ CDC_DIVISOR tokens). All arithmetic is
#: exact int64: acc < CDC_MOD ≈ 1e9, acc*CDC_BASE < 2.6e11, token hash
#: < 2^16 — the same engine-portable md5-nibble hash as split_bucket.
CDC_WINDOW = 4
CDC_BASE = 257
CDC_MOD = 1_000_000_007
CDC_DIVISOR = 8


def content_defined_chunks(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Split each document at CONTENT-DEFINED boundaries: (id, chunk_idx,
    chunk_text) — the shift-resistant alternative to fixed token windows.

    Fixed-size chunk dedup breaks when a document gains one leading token:
    every window shifts and nothing matches. Content-defined chunking (the
    storage-dedup technique — Muthitacharoen et al., LBFS SOSP'01) places a
    boundary after token ``i`` whenever the rolling hash of the last
    ``CDC_WINDOW`` tokens is ``0 mod CDC_DIVISOR``, so boundaries are
    functions of LOCAL CONTENT: an insertion re-chunks only up to the first
    surviving boundary and every chunk after it is byte-identical again
    (pinned by test).

    Everything is per-row array algebra — token md5-nibble hashes, the
    windowed polynomial fold, boundary filter, and slice/join chunk
    assembly run inside one projection; no explode before the final
    chunk unnest, no shuffle, no UDF. At 100 TB this is a free rider on
    the corpus scan like every other signature here, and the downstream
    dedup is the standard content-keyed groupBy on the chunk hash."""
    w, base, mod, div = CDC_WINDOW, CDC_BASE, CDC_MOD, CDC_DIVISOR
    assert w == 4, "the unrolled shift register below is written for W=4"
    # ONE O(n) fold per document. The naive formulation (separate columns
    # for per-position rolling hashes / boundary positions, consumed
    # through element_at inside later lambdas) is O(n^3): CollapseProject
    # substitutes single-use aliases INTO lambda bodies, so each position
    # re-derived every upstream array — measured 92 s for 500 sf0.1 docs.
    # Instead the whole chunker is a single aggregate() over the token
    # array: the accumulator carries the last W-1 token hashes (a shift
    # register), the growing current chunk, and the finished chunk list;
    # each token is hashed exactly once and there is nothing for the
    # optimizer to inline. Window shorter than W at the start is handled
    # by zero-filled slots (leading zeros do not change the polynomial's
    # value), and "no boundary at the last token" falls out of the flush
    # logic: a boundary firing exactly at the end leaves an empty current
    # chunk, which the finish step does not append.
    #
    # The per-step accumulator copy makes one fold O(n * avg_chunk_len);
    # pathological single-document inputs (millions of tokens) would want
    # the mapInPandas escape hatch instead — the corpus contract here is
    # document-sized rows.
    # The new token's hash is needed three times in the merge lambda, so
    # it is bound ONCE via a one-element transform (md5 evaluated once).
    b2, b3 = base * base, base * base * base
    fold = f"""
    aggregate(
        split({text_col}, ' '),
        named_struct(
            'w2', 0L, 'w3', 0L, 'w4', 0L,
            'n', 0L,
            'cur', cast('' as string),
            'chunks', cast(array() as array<string>)
        ),
        (acc, x) -> element_at(transform(
            array(cast(conv(substring(md5(x), 1, 4), 16, 10) as bigint)),
            nh -> named_struct(
                'w2', acc.w3, 'w3', acc.w4, 'w4', nh,
                'n', CASE WHEN (acc.w2 * {b3} + acc.w3 * {b2}
                                + acc.w4 * {base} + nh) % {mod} % {div} = 0
                          THEN 0L ELSE acc.n + 1L END,
                'cur', CASE WHEN (acc.w2 * {b3} + acc.w3 * {b2}
                                  + acc.w4 * {base} + nh) % {mod} % {div} = 0
                            THEN ''
                            ELSE CASE WHEN acc.n = 0L THEN x
                                      ELSE concat(acc.cur, ' ', x) END END,
                'chunks', CASE WHEN (acc.w2 * {b3} + acc.w3 * {b2}
                                     + acc.w4 * {base} + nh) % {mod} % {div} = 0
                               THEN array_append(acc.chunks,
                                        CASE WHEN acc.n = 0L THEN x
                                             ELSE concat(acc.cur, ' ', x) END)
                               ELSE acc.chunks END
            )), 1),
        acc -> CASE WHEN acc.n = 0L THEN acc.chunks
                    ELSE array_append(acc.chunks, acc.cur) END
    )"""
    from retail_aws_etl_pipeline_spark.session import spread_for_compute

    return (
        spread_for_compute(df.select(F.col(id_col), F.col(text_col)), keys=[id_col])
        .withColumn("__chunks", F.expr(fold))
        .select(
            F.col(id_col),
            F.posexplode(F.col("__chunks")).alias("chunk_idx", "chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# Token-interval union + cross-corpus duplicated-span extraction
# (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better" — the ExactSubstr discipline re-expressed over stride-1 token
# windows; the interval-union kernel is shared with the Gopher repetition
# battery's duplicate-n-gram character accounting.)
# ---------------------------------------------------------------------------

#: Stride-1 window length for duplicated-span detection. Lee et al. use a
#: 50-token threshold on byte-level suffixes; the operator contract here is
#: token windows (the corpus's unit everywhere else), length fixed so the
#: oracle can unroll the identical windows.
EXSUB_WINDOW = 8


def merge_token_intervals(ivs_col: str) -> str:
    """SQL expression merging a SORTED array<struct<a:int,b:int>> of token
    intervals into its overlap-union (adjacent-but-disjoint intervals stay
    separate: interval [a1,b1] merges with [a2,b2] iff a2 <= b1, i.e. they
    SHARE a token — in character space two token-adjacent spans exclude the
    single joining space, so their char spans are disjoint and must not
    fuse). One aggregate() fold, O(n) per row."""
    return f"""aggregate(
        {ivs_col},
        cast(array() as array<struct<a: int, b: int>>),
        (acc, x) -> CASE
            WHEN size(acc) = 0 THEN array(x)
            WHEN x.a <= element_at(acc, -1).b THEN concat(
                slice(acc, 1, size(acc) - 1),
                array(named_struct(
                    'a', element_at(acc, -1).a,
                    'b', greatest(element_at(acc, -1).b, x.b))))
            ELSE concat(acc, array(x))
        END)"""


def _covered_chars(toks_col: str, merged_col: str) -> str:
    """SQL expression: total characters covered by merged token intervals —
    per interval, the substring from its first token's first char to its
    last token's last char (token chars + internal joining spaces)."""
    return (
        f"aggregate(transform({merged_col}, iv ->"
        f" length(concat_ws(' ', slice({toks_col}, iv.a, iv.b - iv.a + 1)))),"
        " 0L, (s, x) -> s + x)"
    )


def duplicated_span_stats(
    df: DataFrame,
    window_tokens: int = EXSUB_WINDOW,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document maximal duplicated-span statistics over the WHOLE
    corpus: every stride-1 ``window_tokens``-token window whose exact text
    occurs >= 2 times anywhere in the corpus (cross-doc or within-doc)
    marks its token interval; overlapping marked intervals merge into
    maximal spans (the ExactSubstr output shape — a second occurrence of
    any long passage is detected at EVERY alignment because windows
    overlap, unlike the stride-w chunk dedup whose matches need aligned
    boundaries).

    Returns (id, n_windows, n_dup_windows, n_dup_spans, dup_tokens,
    dup_chars, longest_span_tokens) — the per-doc evidence a curation
    pipeline thresholds on (Lee et al. drop or trim spans past ~50
    tokens).

    Scale shape: the stride-1 explode is |tokens| rows per doc (the same
    order as the shingle family); ONE content-keyed groupBy counts window
    occurrences corpus-wide (map-side combined); duplicated windows join
    back to their positions and the interval union is a per-doc O(n)
    aggregate() fold after one per-doc sort_array — no windows, no
    driver collects, the canonical content-hash-partitioned dedup shape
    plus a bounded per-doc reduce. ``max_gram_freq``-style hot caps are
    unnecessary: the join returns to the OWNING doc only.
    """
    from retail_aws_etl_pipeline_spark.session import spread_for_compute

    w = window_tokens
    base = (
        spread_for_compute(df.select(F.col(id_col), F.col(text_col)))  # round-robin: keyed A/B'd worse here (r17)
        .withColumn("__toks", F.split(F.col(text_col), " "))
        .select(F.col(id_col), F.col("__toks"))
    )
    wins = base.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"CASE WHEN size(__toks) >= {w} THEN"
                f" transform(sequence(1, size(__toks) - {w} + 1),"
                f" i -> struct(i AS pos, concat_ws(' ', slice(__toks, i, {w})) AS win))"
                " ELSE array() END"
            )
        ).alias("s"),
    ).select(id_col, "s.pos", "s.win")
    counts = wins.groupBy("win").agg(F.count(F.lit(1)).alias("cnt"))
    dup_pos = (
        wins.join(counts.filter(F.col("cnt") >= 2), "win")
        .select(id_col, "pos")
    )
    per_doc = (
        dup_pos.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.sort_array(
                F.collect_list(F.expr(f"struct(pos AS a, pos + {w} - 1 AS b)"))
            ).alias("__ivs"),
        )
        .withColumn("__merged", F.expr(merge_token_intervals("__ivs")))
    )
    stats = base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.expr(f"greatest(size(__toks) - {w} + 1, 0)").cast("long").alias("n_windows"),
        F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long").alias("n_dup_windows"),
        F.coalesce(F.expr("size(__merged)"), F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce(
            F.expr("aggregate(__merged, 0L, (s, x) -> s + (x.b - x.a + 1))"),
            F.lit(0),
        ).cast("long").alias("dup_tokens"),
        F.coalesce(F.expr(_covered_chars("__toks", "__merged")), F.lit(0))
        .cast("long")
        .alias("dup_chars"),
        F.coalesce(
            F.expr("aggregate(__merged, 0L, (s, x) -> greatest(s, cast(x.b - x.a + 1 as bigint)))"),
            F.lit(0),
        ).cast("long").alias("longest_span_tokens"),
    )
    return stats


def quality_survivors(
    comp: DataFrame,
    scored: DataFrame,
    score_col: str = "quality",
    id_col: str = "doc_id",
) -> DataFrame:
    """One survivor per connected component: the argmax-``score_col``
    member, ties broken by smallest id.

    ``comp`` is the (node, label) frame from ``connected_components``;
    ``scored`` carries (``id_col``, ``score_col``) with a non-negative
    integer score. Production dedup keeps the BEST document of each
    duplicate cluster — longest, highest quality, most recent — not an
    arbitrary one; the min-id survivor ``dedup_retained_corpus`` emits is a
    label artifact that discards a better-written duplicate whenever it
    carries the larger id.

    The argmax is ONE groupBy(label) over a ``min(struct(-score, id))``
    aggregation buffer — no window, no rank join-back — so the shuffle
    carries cluster-count rows, never corpus-wide rank state. Scores
    negate inside int64 (they are bounded by construction: quality keys
    here are <= QUALITY_SCALE).

    Returns (label, ``id_col``, ``score_col``, cluster_size).
    """
    member = comp.join(
        scored.select(F.col(id_col).alias("node"), F.col(score_col)),
        "node",
    )
    agg = member.groupBy("label").agg(
        F.min(
            F.struct(
                (-F.col(score_col)).alias("ns"),
                F.col("node").alias("id"),
            )
        ).alias("__w"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return agg.select(
        "label",
        F.col("__w.id").alias(id_col),
        (-F.col("__w.ns")).cast("long").alias(score_col),
        "cluster_size",
    )


# --- Bloom membership prefilter -------------------------------------------

#: Bloom geometry: m = 1024 bits stored as 32 x 32-bit words (32-bit words
#: keep every shifted bit value positive on BOTH engines — DuckDB raises
#: on BIGINT 1<<63 where Spark silently wraps to the sign bit), k = 4
#: probes consuming the full 32-hex md5 digest (4 x 8 hex chars).
BLOOM_BITS = 1024
BLOOM_WORD_BITS = 32
BLOOM_HASHES = 4


def bloom_positions(text_col: str = "text") -> Column:
    """The k deterministic bit positions of a document's content key:
    position_i = int(md5(text)[8i : 8i+8], 16) mod BLOOM_BITS — the same
    engine-portable md5 hash family as ``dsir_bucket``/``split_bucket``
    (DuckDB mirror: ``CAST('0x' || substr(md5(text), 8i+1, 8) AS BIGINT)``).
    """
    return F.array(
        *[
            F.conv(F.substring(F.md5(F.col(text_col)), 1 + 8 * i, 8), 16, 10)
            .cast("long")
            % BLOOM_BITS
            for i in range(BLOOM_HASHES)
        ]
    )


def bloom_build_words(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Build the corpus Bloom filter as a word table ``(word_idx, word)``
    of at most BLOOM_BITS / BLOOM_WORD_BITS rows — the distributable form
    of the bitset: each document contributes k single-bit words and
    ``bit_or`` merges them, an associative partial aggregate (map-side
    combined like any SUM), so the filter build is ONE exchange of at most
    that many rows per partition regardless of corpus size. The word table broadcasts to
    probes — the whole standing filter is 128 bytes of payload."""
    pos = df.select(F.explode(bloom_positions(text_col)).alias("pos"))
    return (
        pos.select(
            F.expr(f"pos div {BLOOM_WORD_BITS}").alias("word_idx"),
            F.expr(
                f"shiftleft(1L, CAST(pos % {BLOOM_WORD_BITS} AS INT))"
            ).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_prefilter_census(
    hist: DataFrame,
    probes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom membership prefilter census — the sub-linear gate an
    incremental exact-dedup cadence runs BEFORE the anti-join: build the
    filter from the standing corpus, probe each ingest document, and
    report the one-row census that tells the operator whether the
    prefilter is worth its 128 bytes: probe count, Bloom positives, true
    duplicates, false positives, the false-positive rate over the
    genuinely-new documents (ppm), the set-bit count, and the
    saturation-model FPR estimate ``(s/m)^k`` in exact integer ppm
    (``s^4 * 1e6 div 1024^4`` — s <= 1024 keeps s^4 * 1e6 < 2^63).

    The no-false-negative invariant rides the same row:
    ``n_missed_dups`` (true duplicate, Bloom negative) is structurally 0
    and sits under the hash gate, so a broken hash family fails the
    oracle compare instead of silently letting duplicates through.

    Plan shape: filter build = one <= 32-row exchange; the word table
    and the distinct historical content-hash set join broadcast-side
    onto one pass over the probes. At 100 TB the filter answers "seen
    before?" without touching the standing corpus; only Bloom-positive
    documents proceed to the exact anti-join.
    """
    words = bloom_build_words(hist, text_col)
    probe_bits = (
        probes.select(
            F.col(id_col),
            F.md5(F.col(text_col)).alias("__h"),
            F.explode(bloom_positions(text_col)).alias("pos"),
        )
        .select(
            id_col,
            "__h",
            F.expr(f"pos div {BLOOM_WORD_BITS}").alias("word_idx"),
            F.expr(
                f"shiftleft(1L, CAST(pos % {BLOOM_WORD_BITS} AS INT))"
            ).alias("bit"),
        )
        .join(F.broadcast(words), "word_idx", "left")
        .withColumn(
            "hit",
            F.coalesce(
                (F.col("word").bitwiseAND(F.col("bit")) != 0).cast("int"),
                F.lit(0),
            ),
        )
        .groupBy(id_col, "__h")
        .agg(F.min("hit").alias("bloom_pos"))
    )
    # The truth join is NOT broadcast-hinted: the distinct historical
    # hash set grows with the standing corpus (unbounded at 100 TB) — a
    # forced broadcast would OOM the driver exactly when the prefilter
    # matters most. AQE picks broadcast when it happens to fit; the
    # 128-byte word table above is the only always-broadcast side.
    hist_hashes = hist.select(F.md5(F.col(text_col)).alias("__h")).distinct()
    flagged = probe_bits.join(
        hist_hashes.withColumn("__dup", F.lit(1)), "__h", "left"
    ).select(
        "bloom_pos", F.coalesce("__dup", F.lit(0)).alias("is_dup")
    )
    set_bits = words.agg(
        F.sum(F.bit_count("word")).cast("long").alias("s")
    )
    return (
        flagged.agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.sum("bloom_pos").cast("long").alias("n_bloom_pos"),
            F.sum("is_dup").cast("long").alias("n_true_dups"),
            F.sum(
                F.when((F.col("bloom_pos") == 1) & (F.col("is_dup") == 0), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_pos"),
            F.sum(
                F.when((F.col("bloom_pos") == 0) & (F.col("is_dup") == 1), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_missed_dups"),
        )
        .crossJoin(F.broadcast(set_bits))
        .select(
            "n_probes",
            "n_bloom_pos",
            "n_true_dups",
            "n_false_pos",
            "n_missed_dups",
            F.expr(
                "n_false_pos * 1000000L div greatest(n_probes - n_true_dups, 1L)"
            ).alias("fpr_ppm"),
            F.col("s").alias("bits_set"),
            F.expr(
                f"s * s * s * s * 1000000L div "
                f"(CAST({BLOOM_BITS} AS BIGINT) * {BLOOM_BITS} * {BLOOM_BITS} * {BLOOM_BITS})"
            ).alias("model_fpr_ppm"),
        )
    )


def minhash_estimate_pairs(gram_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """MinHash PRECISION audit: banded candidate pairs scored by the
    signature-estimated AND the exact Jaccard, side by side — the
    complement of the recall audits (``lsh_dedup_recall`` asks "which
    true near-dups does banding find?"; this asks "how far off is the
    k-slot estimate on the candidates it surfaces?", the number that
    decides whether a pipeline can SKIP the exact-verify join and trust
    signatures alone at some threshold).

    Per candidate pair (shares >= 1 full band): ``est_ppm`` = matching
    signature slots * 1e6 div k, ``exact_ppm`` = |A ∩ B| * 1e6 div
    |A ∪ B| (floor — engine-exact), and ``abs_err_ppm``. Candidates
    necessarily share a gram (equal min-hash string => same minimizing
    gram), so the exact leg is an inner join against the verify kernel.

    Plan shape: ONE gram exchange feeds both leg (the fused
    ``per_doc_signatures`` pass provides signatures; the exact leg is
    the standard posting-list join restricted to candidate docs). The
    signature frame is vocab... doc-scale (k+2 columns per doc); the
    estimate itself adds no exchange beyond the candidate join.

    PERSIST CONTRACT (ADVICE r16): the candidate-pair frame is persisted
    unconditionally (it feeds four consumers) and the returned plan still
    reads it, so its executor storage blocks stay until the caller's
    ``spark.catalog.clearCache()``.
    """
    sig = per_doc_signatures(gram_df, id_col=id_col)
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat(
                        *[
                            F.col(f"mh{b * ROWS_PER_BAND + r}")
                            for r in range(ROWS_PER_BAND)
                        ]
                    ).alias("band_key"),
                )
                for b in range(NUM_BANDS)
            ]
        )
    ).alias("bp")
    band_df = sig.select(F.col(id_col), bands).select(
        id_col, F.col("bp.band").alias("band"), F.col("bp.band_key").alias("band_key")
    )
    # The candidate frame feeds FOUR consumers (the est join, the verify
    # kernel's cand_ids union twice, and its final left-semi); unpersisted,
    # each re-derives the banded self-join + distinct from the signature
    # aggregation. Persisting just this pair-scale frame measured 6.2 →
    # 4.0 s at sf0.1 (persisting the wide signature frame as well LOSES —
    # materializing k+1 columns per doc costs more than the re-aggregation
    # saves: 5.2 s).
    cand = candidate_pairs(band_df, id_col=id_col).persist()
    a_sig = sig.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(NUM_HASHES)],
    )
    b_sig = sig.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(NUM_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in range(NUM_HASHES)
    )
    est = (
        cand.join(a_sig, "id_a")
        .join(b_sig, "id_b")
        .withColumn("__m", matches.cast("long"))
        .select(
            "id_a",
            "id_b",
            # integer floor division (never float-divide-then-cast: the
            # truncated double can disagree with the oracle's div at a
            # repeating-quotient boundary)
            F.expr(f"__m * 1000000L div {NUM_HASHES}").alias("est_ppm"),
        )
    )
    exact = jaccard_counts(gram_df, pairs=cand, id_col=id_col).select(
        "id_a",
        "id_b",
        F.expr("common * 1000000L div (n_a + n_b - common)").alias("exact_ppm"),
    )

    return est.join(exact, ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        "est_ppm",
        "exact_ppm",
        F.expr("abs(est_ppm - exact_ppm)").alias("abs_err_ppm"),
    )
