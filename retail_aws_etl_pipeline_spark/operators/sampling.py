"""Deterministic dataset-split / sampling operators for training pipelines.

Train/validation/test assignment must be a pure function of a stable row
identity — never ``rand()`` — so that (a) re-runs, backfills, and engine
changes preserve the split, and (b) an ANSI-SQL oracle can reproduce it
bit-for-bit. The bucket is the first 16 bits of ``md5(id)`` (hex chars 1-4)
taken mod ``SPLIT_BUCKETS``: uniform, deterministic, and computable in any
engine with md5 + string ops.

At 100 TB this is a scan-side projection: no shuffle, no state, prunes to
the id column; the split column can also serve as a partition key for
writing per-split datasets in one pass (``partitionBy("split")``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.operators.validate import _is_pruned_observation

#: Number of hash buckets the id space is divided into.
SPLIT_BUCKETS = 100

#: Default split fractions in buckets (train=80%, valid=10%, test=10%).
TRAIN_BUCKETS = 80
VALID_BUCKETS = 10


def split_bucket(id_col: str = "doc_id") -> Column:
    """Deterministic bucket 0..SPLIT_BUCKETS-1 from the first 16 md5 bits."""
    hx = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
    return (hx.cast("long") % SPLIT_BUCKETS).alias("bucket")


def with_split_assignment(
    df: DataFrame,
    id_col: str = "doc_id",
    train_buckets: int = TRAIN_BUCKETS,
    valid_buckets: int = VALID_BUCKETS,
) -> DataFrame:
    """Add ``bucket`` (long) and ``split`` ('train'|'valid'|'test')."""
    bucket = split_bucket(id_col)
    split = (
        F.when(F.col("bucket") < train_buckets, F.lit("train"))
        .when(F.col("bucket") < train_buckets + valid_buckets, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("bucket", bucket).withColumn("split", split)


#: Token capacity of one packed training sequence.
PACK_CAPACITY = 2048


def with_pack_assignment(
    df: DataFrame,
    shard_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = PACK_CAPACITY,
) -> DataFrame:
    """Sequential sequence packing: adds ``n_toks``, ``start``, ``pack_id``.

    Documents are laid into a contiguous token stream in ``id_col`` order
    within each shard; a document's pack is the ``capacity``-token chunk
    containing its FIRST token (``pack_id = start_offset div capacity``).
    Deterministic, integer-exact, and order-stable across engines.

    The window is partitioned by ``shard_col`` — at 100 TB a global-order
    running sum is a single-task bottleneck, so packing always runs within
    shards (language, split bucket, source); shards are independent
    training streams anyway.
    """
    from pyspark.sql import Window as W

    n_toks = F.size(F.split(F.col(text_col), " ")).cast("long")
    w = (
        W.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        df.withColumn("n_toks", n_toks)
        .withColumn("start", F.sum("n_toks").over(w) - F.col("n_toks"))
        .withColumn("pack_id", F.expr(f"start div {capacity}"))
    )


#: Target corpus mixture in integer parts-per-100 (integer weights keep
#: every quota computation exact — floor(w*N/100) in int64 — so Spark and
#: any SQL oracle agree bit-for-bit; doubles would put 0.3*300 on a
#: rounding knife-edge).
MIXTURE_WEIGHTS: dict[str, int] = {"en": 30, "zh": 25, "es": 20, "de": 15, "fr": 10}


def mixture_sample(
    df: DataFrame,
    weights: dict[str, int] | None = None,
    group_col: str = "lang",
    id_col: str = "doc_id",
    strict: bool = False,
) -> DataFrame:
    """Deterministic corpus-mixture resampling (data mixing): downsample
    each group so the kept corpus matches the target proportions exactly,
    keeping the LARGEST total the per-group supplies allow.

    A weighted group ABSENT from the input is, by default, silently
    dropped from the mixture: ``N`` is the min over groups present, so the
    output keeps the target ratios among the remaining groups — not the
    configured mixture. That is the usual data-mixing convenience (configs
    list more languages than any one corpus has), but it can mask an
    upstream loss of a whole group; pass ``strict=True`` to raise
    ``ValueError`` naming the missing groups instead (one tiny
    count-distinct action over the already-aggregated quota frame).

    ``N = min_g floor(count_g * 100 / w_g)`` is the maximal kept size every
    group can serve at its target share; group g keeps its
    ``floor(w_g * N / 100)`` first documents ranked by
    ``(md5(id), id)`` — a deterministic shuffle-free "random" order, the
    same identity-hash idiom as :func:`split_bucket`, so re-runs,
    backfills and engines all select the identical subset.

    Plan shape: quotas are a tiny per-group agg joined back by broadcast;
    the rank is ONE window per group. At 100 TB a full per-group sort is
    the honest cost of exact quotas; where bucket-granular shares suffice,
    use a scan-side hash threshold instead (``split_bucket(id) <
    rate_buckets``) and skip the window entirely — same selection family,
    zero shuffle.
    """
    from pyspark.sql import Window as W

    w = weights if weights is not None else MIXTURE_WEIGHTS
    wmap = F.create_map(*[F.lit(x) for kv in w.items() for x in kv])
    counts = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_g"))
        .withColumn("w", wmap[F.col(group_col)].cast("long"))
        .filter(F.col("w").isNotNull())
    )
    if strict:
        present = {r[group_col] for r in counts.select(group_col).collect()}
        missing = sorted(set(w) - present)
        if missing:
            raise ValueError(
                f"mixture_sample(strict=True): weighted groups absent "
                f"from input: {missing}"
            )
    n_total = counts.agg(
        F.min(F.expr("n_g * 100 div w")).alias("n_mix")
    )
    quota = (
        counts.crossJoin(F.broadcast(n_total))
        .withColumn("keep_n", F.expr("w * n_mix div 100"))
        .select(group_col, "keep_n")
    )
    rk = F.row_number().over(
        W.partitionBy(group_col).orderBy(
            F.md5(F.col(id_col).cast("string")), F.col(id_col)
        )
    )
    return (
        df.withColumn("rk", rk)
        .join(F.broadcast(quota), group_col)
        .filter(F.col("rk") <= F.col("keep_n"))
        .drop("rk", "keep_n")
    )


#: token_budget_select defaults: keep the top-quality docs filling 60% of
#: the corpus token count; quality = scaled integer lexical diversity.
BUDGET_NUM = 6
BUDGET_DEN = 10
QUALITY_SCALE = 1_000_000


def token_budget_select(
    df: DataFrame,
    budget_num: int = BUDGET_NUM,
    budget_den: int = BUDGET_DEN,
    id_col: str = "doc_id",
    text_col: str = "text",
    partitions: int = 16,
) -> DataFrame:
    """Data selection under a token budget: greedy by quality.

    Docs sort by an integer quality key (scaled lexical diversity,
    ``distinct_tokens * SCALE div tokens`` — floor division on positives is
    engine-exact), and the selection keeps docs in quality order while the
    RUNNING token total stays within ``budget_num/budget_den`` of the
    corpus token count. The first doc that would cross the budget (and
    everything after) is excluded — the greedy knapsack every
    "train on the best N tokens" curation recipe uses.

    The global cumulative sum never builds a global window: range-partition
    on the sort key, per-partition running sum (window partitioned by
    ``spark_partition_id``), then per-partition token totals prefix-summed
    through a broadcast triangular self-join — the same distributed-rank
    discipline as customer_spend_deciles, extended from ranks to sums.
    Returns (doc_id, n_tokens, quality, cum_tokens) for the selected docs.
    """
    from pyspark.sql import Window as W

    base = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
        F.expr(
            # cast BEFORE multiplying: size() is INT, and INT * 1e6 wraps
            # at >2147 distinct tokens while the DuckDB oracle multiplies
            # in BIGINT — a wrapped (negative) quality silently reorders
            # the budget selection (ADVICE r11).
            f"CAST(size(array_distinct(split({text_col}, ' '))) AS BIGINT)"
            f" * {QUALITY_SCALE} div CAST(size(split({text_col}, ' ')) AS BIGINT)"
        ).alias("quality"),
    )
    sort_cols = [F.desc("quality"), F.asc(id_col)]
    # PERSISTED — the _distributed_ntile pin: the running-sum branch and
    # the counts branch both consume the ranged frame, and
    # RangePartitioner samples at execution time, so unpinned the two
    # executions can draw different boundaries and the offsets stop
    # describing the window's partitions (shard_assignment hit exactly
    # this at sf0.1: 767/5000 rows wrong; this twin passed on
    # coincidental exchange reuse).
    ranged = (
        base.repartitionByRange(partitions, *sort_cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    local = ranged.withColumn(
        "__lcum",
        F.sum("n_tokens").over(W.partitionBy("__pid").orderBy(*sort_cols)),
    )
    counts = ranged.groupBy("__pid").agg(F.sum("n_tokens").alias("__ptoks"))
    offsets = (
        counts.alias("a")
        .join(F.broadcast(counts.alias("b")), F.col("b.__pid") < F.col("a.__pid"), "left")
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(F.coalesce(F.sum("b.__ptoks"), F.lit(0)).alias("__offset"))
    )
    total = counts.agg(F.sum("__ptoks").alias("__t"))
    out = (
        local.join(F.broadcast(offsets), "__pid")
        .crossJoin(F.broadcast(total))
        .withColumn("cum_tokens", (F.col("__offset") + F.col("__lcum")).cast("long"))
        .filter(F.col("cum_tokens") * budget_den <= F.col("__t") * budget_num)
        .select(id_col, "n_tokens", "quality", "cum_tokens")
    )
    return out


# ---------------------------------------------------------------------------
# DSIR-style importance selection (hashed n-gram importance resampling)
# ---------------------------------------------------------------------------

#: Hashed feature space for the DSIR bag-of-words models. 256 buckets keeps
#: the fitted model a bounded driver artifact (collect of <=256 rows, then a
#: 256-literal broadcast array) while remaining faithful to the published
#: technique (DSIR hashes into a fixed bucket count; the bucket count is a
#: quality knob, not a correctness one).
DSIR_BUCKETS = 256

#: Fixed-point scale for the per-bucket log-ratio. Quantizing
#: ln(p_target/p_raw) to an integer at fit time makes every downstream
#: score an exact int64 sum — Spark and any SQL oracle agree bit-for-bit,
#: where float log-sums would diverge in the 9th significant digit under
#: different summation orders.
DSIR_LOG_SCALE = 1_000_000

#: Documents selected by dsir_selected_docs (top-N by importance score).
DSIR_TOP_N = 100


def dsir_bucket(word_col: Column) -> Column:
    """Deterministic feature bucket 0..DSIR_BUCKETS-1 from the first 16
    md5 bits of the word — the same engine-portable hash family as
    :func:`split_bucket`."""
    hx = F.conv(F.substring(F.md5(word_col), 1, 4), 16, 10)
    return hx.cast("long") % DSIR_BUCKETS


def dsir_fit(
    docs: DataFrame, target: Column, text_col: str = "text"
) -> list[int]:
    """Fit the DSIR importance model: per-bucket quantized log-ratio
    ``round(SCALE * (ln p_target(b) - ln p_raw(b)))`` as a dense list of
    ``DSIR_BUCKETS`` ints (add-1 smoothing over hashed word unigrams).

    One exploded-word pass computes BOTH models' bucket counts (the raw
    model is the full corpus, the target model the rows matching
    ``target``); the collect is bounded at ``DSIR_BUCKETS`` rows — the
    fit is a tiny model extraction, the same discipline as the IVF
    centroid fit. At 100 TB, fit on a deterministic sample (the model
    saturates long before the corpus does) and reuse the fitted literals
    across every scoring run."""
    # NULL target predicate (e.g. a NULL lang under ``lang == 'en'``)
    # counts as NON-target — the same semantics as the oracle's
    # CASE WHEN; without the coalesce a bucket whose rows are all
    # NULL-target sums to NULL and dsir_logratio raises on None + 1.
    words = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
        F.coalesce(target.cast("long"), F.lit(0)).alias("is_t"),
    )
    rows = (
        words.groupBy(dsir_bucket(F.col("w")).alias("b"))
        .agg(
            F.sum("is_t").alias("ct"),
            F.count(F.lit(1)).alias("cr"),
        )
        .collect()
    )
    ct = {r.b: r.ct for r in rows}
    cr = {r.b: r.cr for r in rows}
    return dsir_logratio(ct, cr)


def dsir_logratio(ct: dict[int, int], cr: dict[int, int]) -> list[int]:
    """Quantized per-bucket log-ratio from integer bucket counts.

    Pure-Python so the DuckDB oracle's independently-counted fit runs
    through the IDENTICAL quantization: equal integer counts give equal
    int64 literals, and every downstream score is exact."""
    import math

    tt = sum(ct.values()) + DSIR_BUCKETS
    tr = sum(cr.values()) + DSIR_BUCKETS
    out = []
    for b in range(DSIR_BUCKETS):
        lt = math.log((ct.get(b, 0) + 1) / tt)
        lr = math.log((cr.get(b, 0) + 1) / tr)
        out.append(round(DSIR_LOG_SCALE * (lt - lr)))
    return out


def dsir_scores(
    docs: DataFrame,
    logratio: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document DSIR importance score: ``sum over word instances of
    logratio[bucket(word)]`` — (id, dsir_score) with an exact int64 score.

    The fitted model rides the plan as a 256-literal array lookup
    (``element_at``) — no join, no broadcast variable, pure scan-side
    arithmetic — so scoring is ONE explode + ONE groupBy(doc) exchange,
    the same shape as every other per-doc text aggregate here. This is
    the 100 TB path: the model is O(buckets), the scan is
    embarrassingly parallel, and the exchange is keyed on the doc id.
    """
    lut = F.array(*[F.lit(int(v)).cast("long") for v in logratio])
    score = F.element_at(lut, (dsir_bucket(F.col("w")) + 1).cast("int"))
    from retail_aws_etl_pipeline_spark.session import spread_for_compute

    # doc-keyed spread (r17): the explode otherwise fuses into a near-
    # single-task scan, and hash(id) makes the per-doc sum exchange-free
    return (
        spread_for_compute(docs.select(F.col(id_col), F.col(text_col)), keys=[id_col])
        .select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .groupBy(id_col)
        .agg(F.sum(score).alias("dsir_score"))
    )


# ---------------------------------------------------------------------------
# Token-budget output sharding (the training-data writer's last mile)
# ---------------------------------------------------------------------------

#: Tokens per output shard. A knob, not a correctness constant — real
#: exports target ~100M-token files; the test corpora use a value that
#: yields a two-digit shard count at sf0.01 so the manifest is non-trivial.
SHARD_CAPACITY = 2048

#: Epoch salt for the writer's deterministic shuffle order (same contract
#: as corpus_shuffle_batches: same salt -> same order, new salt -> fresh
#: epoch order; replay-idempotent across retries).
SHARD_SALT = "shard1"


def shard_assignment(
    df: DataFrame,
    capacity: int = SHARD_CAPACITY,
    salt: str = SHARD_SALT,
    id_col: str = "doc_id",
    text_col: str = "text",
    partitions: int = 16,
) -> DataFrame:
    """Deterministic token-budget shard assignment — the step that turns
    a curated corpus into the fixed-size training files a dataloader
    streams (WebDataset/Arrow shard exports).

    Documents are laid into one global token stream in epoch-shuffle
    order (``md5(doc_id || ':' || salt)``, then id — the exact key
    corpus_shuffle_batches uses, so the writer emits the training order)
    and a document belongs to the shard containing its FIRST token:
    ``shard_id = exclusive-prefix-tokens div capacity``. Deterministic,
    integer-exact, replay-idempotent — a retried writer reproduces the
    identical shard layout, so shard files are safe to overwrite.

    The global running sum never builds a global window: range-partition
    on the sort key, per-partition window sum, broadcast triangular
    offsets — the distributed-cumsum discipline token_budget_select and
    customer_spend_deciles use. ``partitions`` defaults to a constant 16
    for plan-stable tests; production callers pass the session shuffle
    partitions (the sorted-neighborhood r8 lesson).

    Returns (``id_col``, lang, source, n_toks, shard_id).
    """
    from pyspark.sql import Window as W

    base = df.select(
        F.col(id_col),
        F.col("lang"),
        F.col("source"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_toks"),
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{salt}"))).alias(
            "__k"
        ),
    )
    sort_cols = [F.asc("__k"), F.asc(id_col)]
    # The ranged frame is PERSISTED — the _distributed_ntile pin: both the
    # running-sum branch and the counts branch consume it, and
    # RangePartitioner SAMPLES at execution time, so without the pin the
    # two executions can draw different partition boundaries and the
    # triangular offsets no longer describe the window's partitions
    # (found REAL at sf0.1 by the 10x oracle sweep: 767/5000 docs
    # mis-sharded; sf0.01 passed on coincidental exchange reuse). Once
    # materialized, __pid is a stored column.
    ranged = (
        base.repartitionByRange(partitions, *sort_cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    local = ranged.withColumn(
        "__lcum",
        F.sum("n_toks").over(W.partitionBy("__pid").orderBy(*sort_cols)),
    )
    counts = ranged.groupBy("__pid").agg(F.sum("n_toks").alias("__ptoks"))
    offsets = (
        counts.alias("a")
        .join(
            F.broadcast(counts.alias("b")),
            F.col("b.__pid") < F.col("a.__pid"),
            "left",
        )
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(F.coalesce(F.sum("b.__ptoks"), F.lit(0)).alias("__offset"))
    )
    out = (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(
            "shard_id",
            F.expr(f"(__offset + __lcum - n_toks) div {capacity}").cast("long"),
        )
        .select(id_col, "lang", "source", "n_toks", "shard_id")
    )
    return out


# ---------------------------------------------------------------------------
# Batch-perceptron quality classifier (the GPT-3 / FineWeb-Edu filter step)
# ---------------------------------------------------------------------------

#: Fixed training schedule. Like the kmeans/BPE unrolls, a FIXED round
#: count is what lets a SQL oracle replay training bit-for-bit; the knob
#: trades fit quality, not correctness.
PCTRON_ROUNDS = 3

#: The bias rides the same weight vector as one extra always-on feature.
PCTRON_BIAS = DSIR_BUCKETS


def perceptron_features(
    docs: DataFrame, target: Column, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Hashed bag-of-words training features: (id, y, b, cnt).

    y ∈ {+1, −1} from ``target`` (NULL counts as negative — the dsir_fit
    convention); b is the shared md5 feature bucket (dsir_bucket) plus
    one bias bucket with cnt=1 per document. One explode + one
    (id, bucket) groupBy — the corpus-scale exchange happens HERE, once;
    every training round then works on this (persisted) frame.
    """
    y = F.when(F.coalesce(target, F.lit(False)), F.lit(1)).otherwise(F.lit(-1))
    from retail_aws_etl_pipeline_spark.session import spread_for_compute

    base = docs.select(F.col(id_col), y.cast("long").alias("y"), F.col(text_col))
    # doc-keyed spread (r17): parallelizes the explode off a single-task
    # scan AND makes the (id, y, bucket) groupBy exchange-free — only the
    # post-aggregate rows reach the final hash(id) repartition
    words = spread_for_compute(base, keys=[id_col]).select(
        id_col, "y", F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    feats = words.groupBy(
        F.col(id_col), F.col("y"), dsir_bucket(F.col("w")).alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    bias = base.select(
        id_col, "y", F.lit(PCTRON_BIAS).cast("long").alias("b"),
        F.lit(1).cast("long").alias("cnt"),
    )
    # Hash-partition the training frame by doc id BEFORE the caller
    # persists it (r16 optimization): every fit round needs a
    # groupBy(id, y) margins pass AND an (id)-keyed misclassified-docs
    # join back onto this frame — HashPartitioning(id) satisfies both
    # required distributions (id ⊆ {id, y}), and the cached plan's
    # partitioning survives InMemoryTableScan, so all PCTRON_ROUNDS
    # rounds run with ZERO corpus-scale exchanges instead of two each.
    # One exchange here replaces 2 x rounds downstream.
    return feats.unionByName(bias).repartition(F.col(id_col))


def _perceptron_margins(feats: DataFrame, w: list[int], id_col: str) -> DataFrame:
    """(id, y, margin) under weight vector ``w`` (inlined as literals —
    the kmeans centroid-literal discipline: the model rides the scan,
    no join)."""
    lut = F.array(*[F.lit(int(v)).cast("long") for v in w])
    return (
        feats.groupBy(id_col, "y")
        .agg(
            F.sum(
                F.col("cnt") * F.element_at(lut, (F.col("b") + 1).cast("int"))
            ).alias("score")
        )
        .withColumn("margin", F.col("y") * F.col("score"))
    )


def perceptron_fit_trace(
    feats: DataFrame, rounds: int = PCTRON_ROUNDS, id_col: str = "doc_id"
) -> tuple[list[list[int]], list[tuple[int, int, int]]]:
    """Batch ("parallel") perceptron: per round, every currently
    misclassified document (margin y·(w·x) <= 0; w starts at 0, so round
    1 updates on the whole corpus) contributes y·x to the weight update
    in ONE aggregate — deterministic by construction, unlike the
    sequential perceptron, and every weight stays exact int64 (counts
    in, counts out; no learning-rate floats). This is the distributed
    form of the linear quality-classifier step (GPT-3's LR filter,
    FineWeb-Edu's classifier): Spark computes corpus-scale passes, the
    model itself is a bounded <=DSIR_BUCKETS+1-row collect per round —
    the kmeans/IVF fit discipline. Weights grow with corpus token mass ×
    rounds, so margins approach the int64 envelope only near ~1e15
    tokens; at that scale fit on a deterministic sample (the documented
    dsir_fit path) — scoring under fixed literal weights has no such
    bound (SCALING.md watchlist row).

    Returns ``(weights, census)``: the weight vector AFTER each round
    (len = ``rounds``) and the per-round error census (n_mis, n_mis_pos,
    n_mis_neg) under each round's INCOMING weights.

    The census rides the SAME job as the update aggregate: an
    ``Observation`` on the margins frame fires during the delta collect
    (the graph operators' _truncate_lineage_observed discipline), so each
    round is ONE corpus pass instead of two — the r16 plan paid a census
    collect (which also materialized a persisted margins frame) plus the
    delta collect per round. Round 1 is further shortcut: w = 0 puts
    every margin at 0, so every document is misclassified by
    construction — the update is the FULL feature aggregate and the
    census reads off the per-doc bias rows (perceptron_features emits
    exactly one b = PCTRON_BIAS row per document), no margins pass at
    all. Both forms are value-identical to the generic round."""
    from pyspark.sql import Observation

    n_w = DSIR_BUCKETS + 1
    w = [0] * n_w
    out: list[list[int]] = []
    trace: list[tuple[int, int, int]] = []
    mis = F.col("margin") <= 0

    def _census_aggs(mis_col):
        return [
            F.coalesce(F.sum(mis_col.cast("long")), F.lit(0)).alias("n_mis"),
            F.coalesce(
                F.sum((mis_col & (F.col("y") == 1)).cast("long")), F.lit(0)
            ).alias("n_mis_pos"),
            F.coalesce(
                F.sum((mis_col & (F.col("y") == -1)).cast("long")), F.lit(0)
            ).alias("n_mis_neg"),
        ]

    for _ in range(rounds):
        obs = Observation()
        if not any(w):
            # zero weights: margin = y·(0·x) = 0 <= 0 for every doc
            bias_row = F.col("b") == PCTRON_BIAS
            src = feats.observe(obs, *_census_aggs(bias_row))
            cen_frame, cen_aggs = feats, _census_aggs(bias_row)
            delta = (
                src.groupBy("b")
                .agg(F.sum(F.col("y") * F.col("cnt")).alias("dw"))
                .collect()
            )
        else:
            m = _perceptron_margins(feats, w, id_col).observe(
                obs, *_census_aggs(mis)
            )
            cen_frame, cen_aggs = (
                _perceptron_margins(feats, w, id_col),
                _census_aggs(mis),
            )
            delta = (
                m.filter(mis)
                .select(id_col)
                .join(feats, id_col)
                .groupBy("b")
                .agg(F.sum(F.col("y") * F.col("cnt")).alias("dw"))
                .collect()
            )
        try:
            cen = obs.get
        except Exception as exc:
            # empty-at-runtime frame: AQE's empty-relation propagation can
            # prune the Observation node (the validate-module fallback) —
            # re-aggregate the (empty) lineage explicitly. Any other
            # failure is real and propagates.
            if not _is_pruned_observation(exc):
                raise
            cen = cen_frame.agg(*cen_aggs).first().asDict()
        w = list(w)
        for r in delta:
            w[int(r.b)] += int(r.dw)
        out.append(w)
        trace.append(
            (int(cen["n_mis"]), int(cen["n_mis_pos"]), int(cen["n_mis_neg"]))
        )
    return out, trace


def temperature_quota(
    df: DataFrame, group_col: str = "lang", id_col: str = "doc_id"
) -> DataFrame:
    """Temperature-sampling mixture report (the mT5 / XLM-R multilingual
    rebalancing rule): group weight w_g = floor(sqrt(n_g)) — tau=2
    flattens the natural distribution so low-resource groups are
    up-weighted — and the per-group quota out of a same-size resampled
    corpus is floor(w_g * N / sum_w).

    Where :func:`mixture_sample` and the rebalanced-sample family CONSUME
    configured weights, this DERIVES them from the corpus itself — the
    step a multilingual pretraining pipeline runs to produce the mixing
    config. Emits, per non-NULL group (NULL metadata is excluded from
    mixing, the shard-manifest discipline): doc count, sqrt weight,
    natural corpus share (ppm), temperature share (ppm), the same-N
    quota, and the resulting sampling rate (ppm of the group's own docs;
    > 1e6 means the group is UP-sampled, i.e. repeated epochs).

    tau is fixed at 2 on purpose: floor(sqrt(n)) is integer-exact on
    both engines (IEEE-754 sqrt is correctly rounded and counts below
    2^52 are exactly representable), where a general n^(1/tau) via
    pow/exp/log is libm-dependent and can hash-mismatch across engines.

    Everything is integer floor arithmetic. Envelope: w_g*1e6 and
    w_g*N stay within int64 for N up to ~4.4e12 docs (N^1.5 < 2^63);
    beyond that, pre-divide N before the multiply.

    Plan shape: one groupBy(group) count + a single-row broadcast of the
    totals — no window, no second corpus pass.
    """
    counts = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn("w_sqrt", F.floor(F.sqrt(F.col("n_docs"))).cast("long"))
    )
    totals = counts.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.sum("w_sqrt").cast("long").alias("w_total"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            group_col,
            "n_docs",
            "w_sqrt",
            F.expr("n_docs * 1000000L div n_total").alias("natural_ppm"),
            F.expr("w_sqrt * 1000000L div w_total").alias("temp_share_ppm"),
            F.expr("w_sqrt * n_total div w_total").alias("quota_docs"),
            F.expr("(w_sqrt * n_total div w_total) * 1000000L div n_docs").alias(
                "rate_ppm"
            ),
        )
        .orderBy(group_col)
    )
