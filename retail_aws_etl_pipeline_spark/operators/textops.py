"""Text-analysis operators for training-data pipelines.

All pure native Column expressions (no UDFs): language-ID heuristic,
quality scoring, token counting, document fingerprinting. Each is designed
so an identical ANSI-SQL formulation exists (DuckDB oracle) — integer
counts and fixed-order double arithmetic only.

At 100 TB these are embarrassingly parallel scan-side expressions — no
shuffle, whole-stage codegen, column-pruned to ``text``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language marker vocabularies for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "los", "las", "una", "es", "y"],
}

#: CJK unicode range as literal characters (portable across regex engines).
CJK_RANGE = "一-鿿"

#: BPE-ish word tokenizer: letter runs, digit runs, single other non-space.
WORD_TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

EN_STOPWORDS = LANG_MARKERS["en"]

#: Bad-words blocklist for the C4-style document gate (Raffel et al. 2020
#: §2.2 filter pages containing blocklisted words; the public pipeline
#: used the "List of Dirty, Naughty, Obscene..." list). A small
#: representative stand-in of spam/adult block tokens — the OPERATOR is
#: the deliverable (exact lowercase token membership, per-language block
#: census); swap the list for a production one at deploy time.
BADWORDS = [
    "casino",
    "jackpot",
    "viagra",
    "xxx",
    "porn",
    "lottery",
    "pills",
    "escort",
]


def whitespace_tokens(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count(text: Column | str = "text") -> Column:
    return F.size(whitespace_tokens(text)).cast("long")


def word_token_count(text: Column | str = "text") -> Column:
    """Regex token count (the BPE-ish approximation)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.expr(f"regexp_extract_all({_name(c)}, '{WORD_TOKEN_PATTERN}', 0)"))


def _name(c: Column) -> str:
    # Column expressions built via F.expr need the raw column name; all
    # callers pass simple column refs.
    return c._jc.toString() if hasattr(c, "_jc") else str(c)


def marker_score(lang: str, toks: Column) -> Column:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return F.expr(f"size(filter(tokens, t -> t IN ({markers})))").cast("long")


def with_lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add per-language marker scores + cjk char count + predicted language.

    Precedence on ties: zh (any CJK) > en > de > fr > es > 'und' (unknown).
    """
    out = df.withColumn("tokens", whitespace_tokens(text_col))
    for lang in LANG_MARKERS:
        out = out.withColumn(f"score_{lang}", marker_score(lang, F.col("tokens")))
    out = out.withColumn(
        "cjk_chars",
        F.length(F.regexp_replace(F.col(text_col), f"[^{CJK_RANGE}]", "")).cast("long"),
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    pred = (
        F.when(F.col("cjk_chars") > 0, F.lit("zh"))
        .when(best == 0, F.lit("und"))
        .when(F.col("score_en") == best, F.lit("en"))
        .when(F.col("score_de") == best, F.lit("de"))
        .when(F.col("score_fr") == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return out.withColumn("lang_pred", pred).drop("tokens")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword features + a composite quality score.

    The score formula uses only integer counts and a fixed-order double
    expression, so it is bit-reproducible across engines.
    """
    n_chars = F.length(F.col(text_col)).cast("long")
    n_tokens = F.size(F.col("__toks")).cast("long")
    n_punct = F.length(F.regexp_replace(F.col(text_col), "[A-Za-z0-9 ]", "")).cast("long")
    stop = ", ".join(f"'{m}'" for m in EN_STOPWORDS)
    n_stop = F.expr(f"size(filter(__toks, t -> t IN ({stop})))").cast("long")
    mean_tok_len = (n_chars - (n_tokens - 1)).cast("double") / n_tokens
    punct_ratio = n_punct.cast("double") / n_chars
    stop_ratio = n_stop.cast("double") / n_tokens
    score = (
        F.when(n_tokens < 5, 0.0)
        .otherwise(
            (1.0 - punct_ratio) * 0.5
            + F.least(stop_ratio * 4.0, F.lit(1.0)) * 0.3
            + F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) * 0.2
        )
    )
    return (
        df.withColumn("__toks", whitespace_tokens(text_col))
        .withColumn("n_chars_m", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("n_punct", n_punct)
        .withColumn("n_stopwords", n_stop)
        .withColumn("mean_token_len", mean_tok_len)
        .withColumn("quality_score", score)
        .drop("__toks")
    )


# ---------------------------------------------------------------------------
# PII detection + redaction — the standard pre-training scrub pass.
# Pure native regexp Column expressions (scan-side, zero shuffle, codegen);
# the patterns are deliberately restricted to syntax with identical
# semantics in Java regex (Spark) and RE2 (DuckDB oracle): character
# classes, bounded repetition, \b word boundaries — no lookaround.
# ---------------------------------------------------------------------------

#: Detection patterns, applied (and redacted) in THIS order — email first
#: (its local part may contain digits/dots a later pattern would chew on),
#: then SSN before phone (disjoint shapes, order still fixed for
#: reproducibility), IPv4 last.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def with_pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``n_<kind>`` long columns counting matches of each PII pattern
    (on the ORIGINAL text — counts first, then redact)."""
    out = df
    for kind, pat, _repl in PII_PATTERNS:
        # function API, not F.expr: a '\b' inside a SQL string literal
        # would be parsed as backspace by Spark's escape handling
        out = out.withColumn(
            f"n_{kind}",
            F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
            ).cast("long"),
        )
    return out


def scrub_pii(df: DataFrame, text_col: str = "text", out_col: str = "clean_text") -> DataFrame:
    """Redact every PII pattern with its typed placeholder, in the fixed
    ``PII_PATTERNS`` order (sequential redaction is order-sensitive where
    patterns could overlap; pinning the order makes the output — and any
    downstream dedup hash of it — engine-reproducible)."""
    cleaned = F.col(text_col)
    for _kind, pat, repl in PII_PATTERNS:
        cleaned = F.regexp_replace(cleaned, pat, repl)
    return df.withColumn(out_col, cleaned)


#: BM25 shape parameters, scaled to integers: K(d) = k1*((1-b) + b*dl/avgdl)
#: with k1=1.2, b=0.75 becomes tf/(tf+K) = 10*tf*T / (10*tf*T + 3*T + 9*dl*N)
#: for corpus token total T and doc count N — every operand integer, the
#: single fractional step is one double division per term.
BM25_IDF_SCALE = 1_000_000


def bm25_scores_multi(
    df: DataFrame,
    term_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multi-query BM25: score every document against every query in
    ``term_df`` (columns ``query_id``, ``term``) — the many-queries form
    of BM25, for when per-query scan-side columns stop scaling
    (hundreds of queries).

    Shape: explode tokens ONCE, broadcast-join the tiny term table
    (selectivity applied at the join — non-matching tokens never reach
    the aggregation), per-(doc, query, term) tf in one groupBy, df_t from
    the same frame, corpus stats from one tiny agg. Per-(doc, query)
    scores use the same rational idf / integer saturation as the
    single-query form; the cross-term sum goes through an exact
    DECIMAL(28,6) accumulator (``dec_sum`` discipline) because a
    groupBy's double-summation order is not deterministic.
    """
    from pyspark.sql import Window as W

    dl = df.select(
        F.col(id_col), F.size(whitespace_tokens(text_col)).cast("long").alias("dl")
    )
    toks = df.select(
        F.col(id_col), F.explode(whitespace_tokens(text_col)).alias("term")
    )
    hits = (
        toks.join(F.broadcast(term_df), "term")
        .groupBy(id_col, "query_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = hits.groupBy("query_id", "term").agg(
        F.count(F.lit(1)).alias("df_t")
    )
    stats = dl.agg(F.count(F.lit(1)).alias("N"), F.sum("dl").alias("T"))
    contrib = (
        "((N * {scale}) div (df_t + 1))"
        " * (CAST(10 * tf * T AS DOUBLE) / (10 * tf * T + 3 * T + 9 * dl * N))"
    ).format(scale=BM25_IDF_SCALE)
    scored = (
        hits.join(F.broadcast(df_t), ["query_id", "term"])
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("__c", F.expr(contrib).cast("decimal(28,6)"))
        .groupBy("query_id", id_col)
        .agg(F.sum("__c").cast("double").alias("score"))
    )
    return scored


def bm25_multi_topk(scored: DataFrame, k: int, id_col: str = "doc_id") -> DataFrame:
    """Top-k per query with a deterministic tiebreak — rank-limit pushes
    into WindowGroupLimit (partial per-partition top-k pre-shuffle)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", F.col("rank").cast("long").alias("rank"))
    )


def normalize_text(col) -> Column:
    """Canonical text normalization (the curation stage run before exact
    dedup so byte-trivial variants collide): control characters AND
    Unicode White_Space (NBSP, en/em/thin spaces, NEL, LS/PS, ideographic
    space — the full Python ``str.strip`` set) become spaces, whitespace
    runs collapse to one space, ends trim, case folds to lower. All scan-side regexp/casefold Column algebra — Java/RE2
    shared syntax (plain char classes, no lookaround), so a DuckDB
    oracle applies the same program verbatim. Idempotent by
    construction (property-tested): applying it twice is the identity
    on its own output.
    """
    c = col if not isinstance(col, str) else F.col(col)
    # control chars AND Unicode White_Space (NBSP, en/em spaces, NEL,
    # ideographic space...) -> ASCII space: Java and RE2 both accept the
    # \\x{hhhh} class syntax, so the oracle applies the identical program
    c = F.regexp_replace(
        c,
        "[\\x00-\\x1f\\x7f\\x{85}\\x{a0}\\x{1680}\\x{2000}-\\x{200a}\\x{2028}\\x{2029}\\x{202f}\\x{205f}\\x{3000}]",
        " ",
    )
    c = F.regexp_replace(c, " +", " ")
    return F.lower(F.trim(c))


def strip_host_boilerplate(
    docs: DataFrame,
    host_col: str = "host",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_ratio_ppm: int = 500_000,
    min_host_docs: int = 2,
) -> DataFrame:
    """CCNet/Onion-style boilerplate removal: drop LINES whose
    within-host document frequency exceeds ``max_ratio_ppm`` (parts per
    million — integer-exact, oracle-comparable). Site chrome (nav bars,
    cookie banners, license footers) appears on most pages of ITS OWN
    site while real content is page-unique, so the per-host line-DF
    ratio separates them without any trained model — the classic
    paragraph/line-level cleanup run before corpus-wide dedup.

    Shape at scale: lines explode once; line document-frequency is one
    groupBy keyed on (host, line) with map-side combine (duplicate lines
    within one doc count once via the distinct doc set being the group);
    the per-host doc totals are a |hosts|-row broadcast; the verdict
    joins back keyed on (host, line). Reassembly is the span-dedup
    pattern: order-pinned array_sort over the kept (line_idx, line)
    structs per doc — bounded by doc length, never a global sort.
    ``min_host_docs`` guards single-page hosts (ratio would be 1.0 by
    definition; nothing is stripped there).

    Returns one row per input doc: (id, host, text with boilerplate
    lines removed, n_lines, n_lines_kept). Empty-after-strip docs come
    back with empty text rather than disappearing (row count preserved).
    """
    lines = docs.select(
        F.col(id_col),
        F.col(host_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_idx", "line"),
    )
    host_docs = docs.groupBy(host_col).agg(
        F.count(F.lit(1)).alias("__host_docs")
    )
    line_df = (
        lines.select(host_col, "line", id_col)
        .distinct()
        .groupBy(host_col, "line")
        .agg(F.count(F.lit(1)).alias("__line_docs"))
    )
    verdict = line_df.join(F.broadcast(host_docs), host_col).select(
        host_col,
        "line",
        (
            (F.col("__host_docs") >= min_host_docs)
            & (
                F.col("__line_docs") * 1_000_000
                > F.lit(max_ratio_ppm) * F.col("__host_docs")
            )
        ).alias("__boiler"),
    )
    kept = lines.join(verdict, [host_col, "line"]).filter(~F.col("__boiler"))
    rebuilt = kept.groupBy(id_col).agg(
        F.first(host_col).alias(host_col),
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(line_idx, line))), s -> s.line)"),
            "\n",
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        docs.select(id_col, F.col(host_col).alias("__h"))
        .join(totals, id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.col("__h").alias(host_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            "n_lines",
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).cast("long").alias("n_lines_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher quality-rule battery (Rae et al. 2021, appendix A1.1)
# ---------------------------------------------------------------------------

#: Gopher document-level bounds. The published battery is THE standard
#: pre-training quality filter set (reused by MassiveText descendants,
#: RedPajama, Dolma); every rule below is integer/boolean Column algebra —
#: ratio thresholds are cross-multiplied so no rule ever computes a float,
#: which is what makes the whole battery oracle-exact across engines.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000

#: Gopher's "must contain >= 2 of these" stop words.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher rule flags + the composite ``gopher_pass``.

    Rules (each an exact integer comparison; ratios cross-multiplied).
    Boundary semantics follow the paper: Rae et al. remove only
    STRICTLY-greater violations, so a document sitting exactly on a
    ratio threshold (symbol ratio exactly 0.1, exactly 90% bullet
    lines, exactly 80% alpha words) is KEPT — hence the ``<=`` / ``>=``
    comparisons below; the oracle and the Python fuzz mirror use the
    identical boundaries.

    - ``word_count_ok``: GOPHER_MIN_WORDS <= words <= GOPHER_MAX_WORDS
    - ``mean_word_len_ok``: mean word length in [3, 10]
      (``3*n <= sum_len <= 10*n``)
    - ``symbol_ratio_ok``: (# '#' + # '...') / words <= 0.1
    - ``bullet_lines_ok``: lines starting with a bullet <= 90%
    - ``ellipsis_lines_ok``: lines ending with '...' or '…' <= 30%
    - ``alpha_word_ok``: words containing an alphabetic char >= 80%
    - ``stopword_ok``: >= 2 distinct GOPHER_STOPWORDS present

    Scan-side projection — no shuffle, no UDF; at 100 TB this is a free
    rider on whatever scan feeds the curation funnel, same as
    :func:`quality_features`.
    """
    # Token/line arrays are materialized ONCE in a projection (lambda
    # expressions defeat Catalyst CSE — the tokenize-once lesson from the
    # shingle family), then every rule reads the shared columns.
    t = F.col(text_col)
    staged = df.withColumn("__toks", whitespace_tokens(text_col)).withColumn(
        "__lines", F.split(t, "\n")
    )
    n_words = F.size(F.col("__toks")).cast("long")
    sum_len = F.expr("aggregate(__toks, 0L, (a, x) -> a + length(x))")
    n_hash = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))).cast("long")
    n_ellipsis = (
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    n_lines = F.size(F.col("__lines")).cast("long")
    n_bullet = F.expr(
        "size(filter(__lines, l -> startswith(l, '- ') OR startswith(l, '•')))"
    ).cast("long")
    n_ell_lines = F.expr(
        "size(filter(__lines, l -> endswith(l, '...') OR endswith(l, '…')))"
    ).cast("long")
    n_alpha = F.expr("size(filter(__toks, x -> x rlike '[A-Za-z]'))").cast("long")
    n_stop_kinds = sum(
        F.array_contains(F.col("__toks"), w).cast("long") for w in GOPHER_STOPWORDS
    )
    flags = {
        "word_count_ok": (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS),
        "mean_word_len_ok": (sum_len >= 3 * n_words) & (sum_len <= 10 * n_words),
        "symbol_ratio_ok": (n_hash + n_ellipsis) * 10 <= n_words,
        "bullet_lines_ok": n_bullet * 10 <= n_lines * 9,
        "ellipsis_lines_ok": n_ell_lines * 10 <= n_lines * 3,
        "alpha_word_ok": n_alpha * 5 >= n_words * 4,
        "stopword_ok": n_stop_kinds >= 2,
    }
    out = staged.withColumn("n_words", n_words)
    gopher_pass = None
    for name, c in flags.items():
        out = out.withColumn(name, c)
        gopher_pass = c if gopher_pass is None else (gopher_pass & c)
    return out.withColumn("gopher_pass", gopher_pass).drop("__toks", "__lines")


# ---------------------------------------------------------------------------
# BPE tokenizer training (iterative merge loop)
# ---------------------------------------------------------------------------

#: End-of-word marker (multi-char, so it can never collide with the
#: single-character base symbols).
BPE_EOW = "</w>"

#: Default number of merge rounds for the registry query (the oracle
#: unrolls the same fixed schedule — part of the operator contract, like
#: kcore_peel's round budget).
BPE_MERGE_ROUNDS = 3


def bpe_train_merges(
    docs: DataFrame, rounds: int = BPE_MERGE_ROUNDS, text_col: str = "text"
) -> DataFrame:
    """Train ``rounds`` BPE merges on the corpus: (round, left_sym,
    right_sym, pair_count) — the actual tokenizer-training loop, not just
    one pair census (round 1 is the census; this iterates it).

    The standard trainer construction (Sennrich et al. 2016): collapse
    the corpus to a WORD-FREQUENCY table first — pair statistics are a
    sum over distinct words weighted by frequency, so the iterative part
    runs on |vocab| rows, not |corpus| rows. That one groupBy is the only
    corpus-scale exchange; at 100 TB the loop then iterates on a
    many-orders-smaller frame (exactly how production BPE trainers do it).

    Each word is a symbol string with TWO-SPACE separators and single-
    space pads (``' h  i  </w> '``). Per round: adjacent symbol pairs
    exploded and summed by frequency; the argmax pair (count desc, then
    lexicographic — deterministic) is taken with ``limit(1)`` and
    CROSS-JOINED back as a broadcast literal row — no driver collect
    anywhere; the merge is applied with ONE ``replace`` of
    ``' a  b '`` → ``' ab '``. Double separators make this EXACTLY
    greedy left-to-right BPE: each occurrence consumes one space from
    its flanking two-space separators, so adjacent occurrences share no
    characters and non-overlapping left-to-right replace IS the greedy
    schedule. (A single-space draft needed two passes and still diverged
    on odd same-symbol runs — ``b b b b b`` merged (1,2),(4,5) instead
    of greedy's (1,2),(3,4); a hypothesis fuzz vs the canonical mirror
    caught it.) Both frames are lineage-truncated per round (the
    connected-components discipline).
    """
    words = (
        docs.select(F.explode(whitespace_tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
    )
    sym0 = F.concat(
        F.lit(" "),
        F.array_join(F.split(F.col("w"), ""), "  "),
        F.lit("  " + BPE_EOW + " "),
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(sym0.alias("sym"), "freq")
        .localCheckpoint(eager=True)
    )
    # size guard: sequence(1, 0) is DESCENDING [1, 0] in Spark, so the
    # greatest(...) idiom still indexes element 2 of a 1-element array —
    # which happens as soon as any word merges down to a single symbol.
    pairs_arr = (
        "CASE WHEN size(__t) >= 2 THEN transform(sequence(1, size(__t) - 1),"
        " i -> struct(element_at(__t, i) AS a, element_at(__t, i + 1) AS b))"
        " ELSE array() END"
    )
    merges = None
    for r in range(1, rounds + 1):
        counts = (
            vocab.withColumn("__t", F.split(F.trim(F.col("sym")), "  "))
            .select(F.explode(F.expr(pairs_arr)).alias("p"), "freq")
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        best = (
            counts.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .select(
                F.lit(r).cast("long").alias("round"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.col("cnt").alias("pair_count"),
            )
            .localCheckpoint(eager=True)
        )
        merges = best if merges is None else merges.unionByName(best)
        pat = F.concat(
            F.lit(" "), F.col("left_sym"), F.lit("  "), F.col("right_sym"), F.lit(" ")
        )
        rep = F.concat(F.lit(" "), F.col("left_sym"), F.col("right_sym"), F.lit(" "))
        vocab = (
            vocab.crossJoin(F.broadcast(best))
            .select(F.replace(F.col("sym"), pat, rep).alias("sym"), "freq")
            .localCheckpoint(eager=True)
        )
    return merges


def bpe_encode_stats(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Apply trained BPE merges to every document: (id cols…, n_base_symbols,
    n_bpe_tokens) — the ENCODE step completing the tokenizer lifecycle
    (pair census → bpe_train_merges training → this).

    Each document becomes one symbol string in the trainer's two-space-
    separator representation (per word: characters + ``BPE_EOW``), then
    the learned merges apply in training order via the same single
    ``replace`` — exactly greedy left-to-right, see
    :func:`bpe_train_merges`. Encoding whole documents in one string is
    safe: a learned merge's pair was observed WITHIN a word, so its
    pattern can never straddle the ``</w>`` separator between words.

    The merge list is a bounded fit artifact (R rows — the centroid
    discipline); it rides the plan as literal patterns, so encoding is a
    pure scan-side projection: no join, no UDF, no shuffle. At 100 TB
    this is the per-document tokenize pass of a training-data pipeline.
    """
    from retail_aws_etl_pipeline_spark.session import spread_for_compute

    t = F.col(text_col)
    sym = F.concat(
        F.lit(" "),
        F.expr(
            f"array_join(transform(split({text_col}, ' '), "
            f"w -> concat(array_join(split(w, ''), '  '), '  {BPE_EOW}')), '  ')"
        ),
        F.lit(" "),
    )
    # the per-document symbol string + R merge replaces are heavy per-row
    # string work — spread off a single-task scan (no-op at scale)
    out = spread_for_compute(docs).withColumn("__sym", sym)
    enc = F.col("__sym")
    for a, b in merges:
        enc = F.replace(enc, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    n_words = F.size(F.split(t, " ")).cast("long")
    n_spaces = n_words - 1
    # base symbols = every character of every word + one EOW per word:
    # (chars excl. the separating spaces) + n_words.
    n_base = (F.length(t) - n_spaces + n_words).cast("long")
    return (
        out.withColumn("__enc", enc)
        .withColumn("n_base_symbols", n_base)
        .withColumn(
            "n_bpe_tokens", F.size(F.split(F.trim(F.col("__enc")), "  ")).cast("long")
        )
        .drop("__sym", "__enc")
    )


# ---------------------------------------------------------------------------
# Gopher REPETITION battery (Rae et al. 2021, appendix A1.1 — the
# repetition-removal half; gopher_quality_flags is the quality half)
# ---------------------------------------------------------------------------

#: keep iff fraction <= threshold (paper removes strictly-greater
#: violations, same boundary convention as the quality battery). Ratio
#: thresholds as exact integer (num, den) pairs: frac <= num/den.
GOPHER_REP_DUP_LINE = (3, 10)  # duplicate line fraction <= 0.30
GOPHER_REP_DUP_PARA = (3, 10)  # duplicate paragraph fraction <= 0.30
GOPHER_REP_DUP_LINE_CHAR = (1, 5)  # duplicate-line char fraction <= 0.20
GOPHER_REP_DUP_PARA_CHAR = (1, 5)  # duplicate-paragraph char fraction <= 0.20
#: top n-gram char fraction: {n: (num, den)} — 0.20 / 0.18 / 0.16
GOPHER_REP_TOP_NGRAM = {2: (1, 5), 3: (9, 50), 4: (4, 25)}
#: duplicate n-gram char fraction: {n: (num, den)} — 0.15 .. 0.10
GOPHER_REP_DUP_NGRAM = {
    5: (3, 20), 6: (7, 50), 7: (13, 100), 8: (3, 25), 9: (11, 100), 10: (1, 10),
}

#: kind tags inside the shared (id, kind, item, pos) explode.
_REP_KIND_LINE = 0
_REP_KIND_PARA = 1
_REP_KIND_NGRAM_BASE = 10  # kind = 10 + n for n-grams


def gopher_repetition_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_ngrams: bool = False,
) -> DataFrame:
    """Per-document Gopher repetition rules + the composite
    ``repetition_pass`` (Rae et al. 2021 A1.1, repetition half).

    Evidence columns (all exact integers):

    - ``dup_line_extra`` / ``dup_para_extra``: occurrences BEYOND the
      first of any repeated line / paragraph (empty elements excluded —
      blank lines are layout, not content); fractions over
      n_lines / n_paras.
    - ``dup_line_chars`` / ``dup_para_chars``: characters of those extra
      occurrences; fractions over length(text).
    - ``top{2,3,4}_chars``: occurrence-count x char-length of the most
      frequent word n-gram (count desc, lexicographically smallest on
      ties; ZERO when nothing repeats — a unique n-gram is not
      repetition).
    - ``dup{5..10}_chars``: characters covered by the token-interval
      UNION of every n-gram occurring >= 2 times within the doc — each
      character counted once (the paper's "take care not to count
      characters twice"; see :func:`dedup.merge_token_intervals` for the
      overlap-only merge that keeps token-adjacent spans' disjoint char
      spans separate).

    Flags keep iff fraction <= threshold (exact cross-multiplied
    integers, paper boundary convention).

    Scale shape: ONE explode builds (kind, item, pos) rows for lines,
    paragraphs and all nine n sizes together (~(2 + 9·len) rows per
    doc — shingle-family order); one (id, kind, item) groupBy counts
    everything (positions ride the aggregation buffers ONLY for the six
    dup-n kinds — collect_list skips the NULLs the when() emits
    elsewhere); per-doc reduces are keyed aggregates; the dup-n-gram
    interval union is an O(n) fold per (doc, n). No windows, no driver
    collects, nothing quadratic in doc length.

    ``hash_ngrams=True`` is the 100 TB exchange knob (the
    ``jaccard_counts(hash_grams=)`` discipline): the six dup-n kinds —
    whose 5..10-token strings are ~70% of the exchange bytes and whose
    STRING CONTENT is never read downstream (only counts, positions and
    interval chars) — group on xxhash64 of the gram instead. Exact
    except within-doc 64-bit collisions (~G²/2⁶⁴ per doc — negligible at
    any real document size); the default stays exact-string on the
    oracle-parity surface, and a test pins flag-on == flag-off on the
    real corpus. Line/paragraph/top kinds always keep strings (length
    and lexicographic tiebreaks read the content).
    """
    from retail_aws_etl_pipeline_spark.operators.dedup import (
        _covered_chars,
        merge_token_intervals,
    )
    from retail_aws_etl_pipeline_spark.session import spread_for_compute

    # the 9-size n-gram explode below is the package's single heaviest
    # per-row computation — spread it off a single-task scan (guide §2.5;
    # no-op on production layouts). ROUND-ROBIN deliberately: the r17
    # keyed-spread A/B measured hash(doc) 4.7 s vs round-robin 3.1 s here
    # — doc-length skew concentrates the 9-size explode of the heaviest
    # docs, and the (id, kind, item) aggregate's map-side partial combine
    # already collapses the within-doc duplicates the keyed layout would
    # have saved an exchange on.
    df = spread_for_compute(df.select(F.col(id_col), F.col(text_col)))
    t = F.col(text_col)
    base = df.select(
        F.col(id_col),
        F.split(t, " ").alias("__toks"),
        F.length(t).cast("long").alias("n_chars"),
        F.expr(f"size(filter(split({text_col}, '\\n'), x -> x != ''))")
        .cast("long")
        .alias("n_lines"),
        F.expr(f"size(filter(split({text_col}, '\\n\\n'), x -> x != ''))")
        .cast("long")
        .alias("n_paras"),
        F.split(t, "\n").alias("__lines"),
        F.split(t, "\n\n").alias("__paras"),
    )

    line_items = (
        "transform(filter(__lines, x -> x != ''),"
        f" x -> struct({_REP_KIND_LINE} AS kind, x AS item, 0 AS pos))"
    )
    para_items = (
        "transform(filter(__paras, x -> x != ''),"
        f" x -> struct({_REP_KIND_PARA} AS kind, x AS item, 0 AS pos))"
    )
    def gram_expr(n: int) -> str:
        g = f"concat_ws(' ', slice(__toks, i, {n}))"
        if hash_ngrams and n in GOPHER_REP_DUP_NGRAM:
            g = f"cast(xxhash64({g}) as string)"
        return g

    ngram_items = ", ".join(
        f"CASE WHEN size(__toks) >= {n} THEN"
        f" transform(sequence(1, size(__toks) - {n} + 1),"
        f" i -> struct({_REP_KIND_NGRAM_BASE + n} AS kind,"
        f" {gram_expr(n)} AS item, i AS pos))"
        " ELSE array() END"
        for n in (*GOPHER_REP_TOP_NGRAM, *GOPHER_REP_DUP_NGRAM)
    )
    items = base.select(
        F.col(id_col),
        F.explode(
            F.expr(f"concat({line_items}, {para_items}, {ngram_items})")
        ).alias("s"),
    ).select(id_col, "s.kind", "s.item", "s.pos")

    dup_kind_min = _REP_KIND_NGRAM_BASE + min(GOPHER_REP_DUP_NGRAM)
    grp = items.groupBy(id_col, "kind", "item").agg(
        F.count(F.lit(1)).alias("cnt"),
        # positions are only read for the dup-n kinds; collect_list drops
        # the NULLs, so every other group's buffer stays scalar.
        F.collect_list(
            F.when(F.col("kind") >= dup_kind_min, F.col("pos"))
        ).alias("positions"),
    )

    # ALL evidence in ONE groupBy(id) over grp (r16 optimization — guide
    # §2.4: the lines/paras sums, the top-n-gram argmin and the dup-n
    # interval collection were three separate grp consumers, each with
    # its own downstream exchanges, re-joined per doc at the end: ~10
    # exchanges + 3 sort-merge joins. Every branch's FIRST reduce is
    # per-doc expressible as a conditional aggregate, so one exchange
    # keyed on id replaces all of it; values are identical:
    # - lines/paras: the same SUM(when(kind, ...)) terms, cnt >= 2 moved
    #   into the when-condition instead of a pre-filter;
    # - top-n: min(struct(-cnt, item)) over a SINGLE kind equals the old
    #   per-(id, kind) min then max-over-kinds pick;
    # - dup-n: sort_array(flatten(collect_list(transform(positions)))) is
    #   the same interval multiset the old explode + collect_list built,
    #   sorted by the same (a, b) struct order.
    # The per-kind interval merge + covered-chars fold then run as
    # projections AFTER the single join back to the doc scan (one join
    # instead of three, and positions cross the wire once as arrays
    # instead of re-exploded rows).
    agg_cols = [
        agg.alias(name)
        for kind, tag in ((_REP_KIND_LINE, "line"), (_REP_KIND_PARA, "para"))
        for name, agg in (
            (
                f"dup_{tag}_extra",
                F.sum(
                    F.when(
                        (F.col("kind") == kind) & (F.col("cnt") >= 2),
                        F.col("cnt") - 1,
                    )
                ),
            ),
            (
                f"dup_{tag}_chars",
                F.sum(
                    F.when(
                        (F.col("kind") == kind) & (F.col("cnt") >= 2),
                        (F.col("cnt") - 1) * F.length("item"),
                    )
                ),
            ),
        )
    ]
    agg_cols += [
        F.min(
            F.when(
                (F.col("kind") == _REP_KIND_NGRAM_BASE + n) & (F.col("cnt") >= 2),
                F.struct((-F.col("cnt")).alias("nc"), F.col("item")),
            )
        ).alias(f"__top{n}")
        for n in GOPHER_REP_TOP_NGRAM
    ]
    agg_cols += [
        F.sort_array(
            F.flatten(
                F.collect_list(
                    F.when(
                        (F.col("kind") == _REP_KIND_NGRAM_BASE + n)
                        & (F.col("cnt") >= 2),
                        F.expr(
                            f"transform(positions, p -> struct(p AS a, p + {n} - 1 AS b))"
                        ),
                    )
                )
            )
        ).alias(f"__ivs{n}")
        for n in GOPHER_REP_DUP_NGRAM
    ]
    per_doc = grp.groupBy(id_col).agg(*agg_cols)

    out = base.select(id_col, "n_chars", "n_lines", "n_paras", "__toks").join(
        per_doc, id_col, "left"
    )
    for n in GOPHER_REP_TOP_NGRAM:
        out = out.withColumn(
            f"top{n}_chars",
            (-F.col(f"__top{n}.nc")) * F.length(f"__top{n}.item"),
        )
    for n in GOPHER_REP_DUP_NGRAM:
        out = out.withColumn(
            f"__merged{n}", F.expr(merge_token_intervals(f"__ivs{n}"))
        ).withColumn(
            f"dup{n}_chars",
            # empty interval array (no repeats) folds to 0; NULL (doc had
            # no items at all) is coalesced with the rest below
            F.expr(_covered_chars("__toks", f"__merged{n}")),
        )
    out = out.drop(
        "__toks",
        *[f"__top{n}" for n in GOPHER_REP_TOP_NGRAM],
        *[f"__ivs{n}" for n in GOPHER_REP_DUP_NGRAM],
        *[f"__merged{n}" for n in GOPHER_REP_DUP_NGRAM],
    )
    ev_cols = (
        ["dup_line_extra", "dup_line_chars", "dup_para_extra", "dup_para_chars"]
        + [f"top{n}_chars" for n in GOPHER_REP_TOP_NGRAM]
        + [f"dup{n}_chars" for n in GOPHER_REP_DUP_NGRAM]
    )
    for c in ev_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)).cast("long"))

    flags = {
        "dup_line_ok": F.col("dup_line_extra") * GOPHER_REP_DUP_LINE[1]
        <= F.col("n_lines") * GOPHER_REP_DUP_LINE[0],
        "dup_para_ok": F.col("dup_para_extra") * GOPHER_REP_DUP_PARA[1]
        <= F.col("n_paras") * GOPHER_REP_DUP_PARA[0],
        "dup_line_char_ok": F.col("dup_line_chars") * GOPHER_REP_DUP_LINE_CHAR[1]
        <= F.col("n_chars") * GOPHER_REP_DUP_LINE_CHAR[0],
        "dup_para_char_ok": F.col("dup_para_chars") * GOPHER_REP_DUP_PARA_CHAR[1]
        <= F.col("n_chars") * GOPHER_REP_DUP_PARA_CHAR[0],
        **{
            f"top{n}_ok": F.col(f"top{n}_chars") * den <= F.col("n_chars") * num
            for n, (num, den) in GOPHER_REP_TOP_NGRAM.items()
        },
        **{
            f"dup{n}_ok": F.col(f"dup{n}_chars") * den <= F.col("n_chars") * num
            for n, (num, den) in GOPHER_REP_DUP_NGRAM.items()
        },
    }
    rep_pass = None
    for name, c in flags.items():
        out = out.withColumn(name, c)
        rep_pass = c if rep_pass is None else (rep_pass & c)
    return out.withColumn("repetition_pass", rep_pass)


# ---------------------------------------------------------------------------
# C4 cleanup battery (Raffel et al. 2020, §2.2 — the canonical crawl
# cleanup: line-level retention rules + page-level gates)
# ---------------------------------------------------------------------------

#: A kept line must end in terminal punctuation (C4 keeps "lines that end
#: in a terminal punctuation mark"; the closing quote after one counts).
C4_TERMINALS = (".", "!", "?", '."', '!"', '?"')
#: ... and contain at least this many whitespace words.
C4_MIN_LINE_WORDS = 5
#: Page gate: at least this many kept sentences (terminal-punctuation
#: segments across kept lines — the repo's documented approximation).
C4_MIN_SENTENCES = 3


def c4_clean_flags(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document C4 cleanup: line retention counts, the cleaned text,
    and the page gate (Raffel et al. 2020 §2.2).

    Line rules (a line survives iff ALL hold):

    - ends in terminal punctuation (optionally followed by a closing
      double quote);
    - has >= C4_MIN_LINE_WORDS whitespace words;
    - does not contain the word "javascript" (any case).

    Page rules:

    - drop if "lorem ipsum" appears (any case);
    - drop if '{' appears (code);
    - drop if kept SENTENCES (terminal-punctuation segments within kept
      lines) < C4_MIN_SENTENCES.

    Outputs exact integers + ``clean_text`` (kept lines joined with \\n,
    original order) + ``page_kept``. Scan-side projection — no shuffle,
    no UDF; the same free-rider shape as the Gopher quality battery, so
    at 100 TB it rides the curation scan. (The remaining C4 steps —
    badword list and three-sentence-span dedup — are corpus policy and
    span dedup respectively; span dedup is the registered chunk/CDC/span
    family.)
    """
    t = F.col(text_col)
    term_checks = " OR ".join(
        f"endswith(l, '{e}')" for e in C4_TERMINALS
    )
    keep_lambda = (
        f"l -> ({term_checks})"
        f" AND size(split(l, ' ')) >= {C4_MIN_LINE_WORDS}"
        " AND NOT contains(lower(l), 'javascript')"
    )
    staged = (
        df.withColumn("__lines", F.split(t, "\n"))
        .withColumn("__kept", F.expr(f"filter(__lines, {keep_lambda})"))
    )
    n_lines = F.size("__lines").cast("long")
    n_kept = F.size("__kept").cast("long")
    # sentences: terminal-punct occurrences across kept lines — count
    # '.', '!', '?' characters (C4's sentence unit approximated by its
    # own terminal markers; exact integer, engine-portable).
    joined = F.array_join(F.col("__kept"), "\n")
    n_sentences = (
        F.length(joined)
        - F.length(F.translate(joined, ".!?", ""))
    ).cast("long")
    has_lorem = F.expr(f"contains(lower({text_col}), 'lorem ipsum')")
    has_brace = F.expr(f"contains({text_col}, '{{')")
    page_kept = (
        (~has_lorem) & (~has_brace) & (n_sentences >= C4_MIN_SENTENCES)
    )
    return (
        staged.withColumn("n_lines", n_lines)
        .withColumn("n_kept_lines", n_kept)
        .withColumn("n_sentences", n_sentences)
        .withColumn("has_lorem", has_lorem)
        .withColumn("has_brace", has_brace)
        .withColumn("clean_text", joined)
        .withColumn("page_kept", page_kept)
        .drop("__lines", "__kept")
    )


# ---------------------------------------------------------------------------
# Kneser-Ney bigram table (the KenLM / SRILM count pass)
# ---------------------------------------------------------------------------

#: Fixed-point scale for every smoothed probability. Quantizing the
#: absolute discount AND each probability to ppm keeps the whole table in
#: int64 floor-division arithmetic — Spark and any SQL oracle agree
#: bit-for-bit, where the float form diverges in final ulps across
#: engines (same discipline as DSIR_LOG_SCALE / the BM25 rational idf).
KN_SCALE = 1_000_000


def kn_bigram_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Interpolated Kneser-Ney bigram statistics over the corpus — the
    distributed COUNT PASS of n-gram language-model training (the KenLM
    / SRILM step classic data pipelines run for perplexity filtering).

    Kneser-Ney (Ney/Essen/Kneser 1994; Chen & Goodman 1999) needs four
    count layers, all computed here:

    - ``c``            — bigram count c(w1, w2)
    - ``c_prefix``     — left-marginal c(w1, •) (sum over followers)
    - ``n_followers``  — N1+(w1, •): distinct followers of w1 (the
      backoff-weight numerator)
    - ``n_left``       — N1+(•, w2): distinct predecessors of w2 (the
      CONTINUATION count — KN's insight: "Francisco" is frequent but
      only ever follows "San", so its unigram backoff mass is tiny)

    plus the global count-of-counts N1/N2 (bigram types seen once /
    twice) that set the absolute discount D = N1 / (N1 + 2*N2).
    Everything downstream is integer fixed-point:

    - ``d_ppm``      = N1 * KN_SCALE div (N1 + 2*N2)
    - ``p1_ppm``     = max(c*KN_SCALE - d_ppm, 0) div c_prefix
    - ``lambda_ppm`` = d_ppm * n_followers div c_prefix
    - ``pcont_ppm``  = n_left * KN_SCALE div n_bigram_types
    - ``p_kn_ppm``   = p1_ppm + lambda_ppm * pcont_ppm div KN_SCALE

    Scale shape: ONE corpus-wide exchange (the (w1, w2) groupBy); the
    marginal/continuation layers aggregate and join on the VOCAB-scale
    count frame, and the count-of-counts row is a single-row broadcast.
    Mass invariant (pinned in tests): per w1,
    sum(p1_ppm) + lambda_ppm <= KN_SCALE, within n_followers+1 floor
    slack — the discounted mass plus the backoff weight is exactly the
    prefix's probability budget.
    """
    base = df.select(F.split(F.col(text_col), " ").alias("__toks"))
    pairs = base.select(
        F.explode(
            F.expr(
                "CASE WHEN size(__toks) < 2 THEN "
                "array() "
                "ELSE transform(sequence(1, size(__toks) - 1), "
                "i -> struct(__toks[i - 1] AS tok_a, __toks[i] AS tok_b)) END"
            )
        ).alias("p")
    ).select("p.tok_a", "p.tok_b")
    # The count frame feeds four consumers (marginals, continuation
    # counts, count-of-counts, the final join); persist it so the
    # corpus-scale pair exchange runs once.
    bg = pairs.groupBy("tok_a", "tok_b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    bg = bg.persist()
    pre = bg.groupBy("tok_a").agg(
        F.sum("c").cast("long").alias("c_prefix"),
        F.count(F.lit(1)).cast("long").alias("n_followers"),
    )
    lft = bg.groupBy("tok_b").agg(F.count(F.lit(1)).cast("long").alias("n_left"))
    glob = bg.agg(
        F.count(F.lit(1)).cast("long").alias("n_bigram_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("n2"),
    ).withColumn(
        "d_ppm",
        F.expr(
            f"CASE WHEN n1 + 2 * n2 = 0 THEN 0 "
            f"ELSE n1 * {KN_SCALE} div (n1 + 2 * n2) END"
        ).cast("long"),
    )
    return (
        bg.join(pre, "tok_a")
        .join(lft, "tok_b")
        .crossJoin(F.broadcast(glob.select("n_bigram_types", "d_ppm")))
        .withColumn(
            "p1_ppm",
            F.expr(f"greatest(c * {KN_SCALE} - d_ppm, 0L) div c_prefix").cast("long"),
        )
        .withColumn(
            "lambda_ppm", F.expr("d_ppm * n_followers div c_prefix").cast("long")
        )
        .withColumn(
            "pcont_ppm",
            F.expr(f"n_left * {KN_SCALE} div n_bigram_types").cast("long"),
        )
        .withColumn(
            "p_kn_ppm",
            F.expr(f"p1_ppm + (lambda_ppm * pcont_ppm) div {KN_SCALE}").cast("long"),
        )
        .select(
            "tok_a", "tok_b", "c", "c_prefix", "n_followers", "n_left",
            "d_ppm", "p1_ppm", "lambda_ppm", "pcont_ppm", "p_kn_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer trainer (SentencePiece's other algorithm)
# ---------------------------------------------------------------------------

#: Longest candidate piece. Bounds the Viterbi fan-in (each DP step
#: considers UNI_MAX_PIECE_LEN candidates) and the seed-substring blowup.
UNI_MAX_PIECE_LEN = 4

#: Multi-character pieces kept in the vocabulary beyond the single-char
#: floor (every observed character stays — the SentencePiece coverage
#: guarantee that keeps every word segmentable in every round).
UNI_EXTRA_PIECES = 48

#: Fixed EM schedule (hard-EM / Viterbi variant). Like BPE_MERGE_ROUNDS
#: and the kmeans unrolls, a fixed round count is what lets the oracle
#: replay training exactly; the knob trades fit quality, not correctness.
UNI_EM_ROUNDS = 2

#: Fixed-point scale for the quantized piece log-probabilities.
UNI_LOG_SCALE = 1_000_000

_UNI_BIG_NEG = -(1 << 40)


def unigram_quantized_scores(
    counts: dict[str, int], vocab: list[str]
) -> dict[str, int]:
    """Quantized add-1-smoothed log-probs over a FIXED vocab:
    ``round(UNI_LOG_SCALE * ln((count + 1) / total))`` — the dsir_logratio
    discipline: equal integer counts give equal int64 literals on every
    engine, so Viterbi sums (and therefore segmentations) are exact."""
    import math

    total = sum(counts.get(p, 0) + 1 for p in vocab)
    return {
        p: round(UNI_LOG_SCALE * math.log((counts.get(p, 0) + 1) / total))
        for p in vocab
    }


def unigram_word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — the ONE corpus-scale exchange of
    unigram training (the bpe_train_merges discipline: everything after
    this groupBy iterates on the word-type frame)."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def unigram_seed_vocab(words: DataFrame) -> list[str]:
    """Seed vocabulary: every observed character (coverage floor) plus
    the top-``UNI_EXTRA_PIECES`` multi-char substrings (length <=
    UNI_MAX_PIECE_LEN) by frequency-weighted occurrence count,
    count-desc / piece-lex deterministic. Both collects are BOUNDED —
    the alphabet, and an orderBy+limit top-K — never the full substring
    table (at 100 TB the substring counts stay distributed; only the
    chosen vocabulary rows come back)."""
    subs = words.select(
        F.col("freq"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(word)), i -> "
                f"transform(sequence(1, least({UNI_MAX_PIECE_LEN}, "
                "length(word) - i + 1)), l -> substring(word, i, l))))"
            )
        ).alias("piece"),
    )
    counts = subs.groupBy("piece").agg(F.sum("freq").alias("cnt"))
    singles = [
        r.piece for r in counts.filter(F.length("piece") == 1).collect()
    ]
    multis = [
        r.piece
        for r in counts.filter(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(UNI_EXTRA_PIECES)
        .collect()
    ]
    return sorted(singles) + sorted(multis)


def unigram_seed_counts(words: DataFrame, vocab: list[str]) -> dict[str, int]:
    """Frequency-weighted substring occurrence counts for the vocab
    pieces (the round-0 model counts) — bounded |vocab|-row collect."""
    # isin(), not an F.expr IN-list: pieces come from corpus words, and a
    # quote/backslash in one would break a hand-built SQL string literal.
    subs = words.select(
        F.col("freq"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(word)), i -> "
                f"transform(sequence(1, least({UNI_MAX_PIECE_LEN}, "
                "length(word) - i + 1)), l -> substring(word, i, l))))"
            )
        ).alias("piece"),
    ).filter(F.col("piece").isin(vocab))
    return {
        r.piece: int(r.cnt)
        for r in subs.groupBy("piece").agg(F.sum("freq").alias("cnt")).collect()
    }


def _uni_score_map(scores: dict[str, int]):
    return F.create_map(
        *[
            x
            for p in sorted(scores)
            for x in (F.lit(p), F.lit(int(scores[p])).cast("long"))
        ]
    )


def unigram_viterbi_pieces(
    words: DataFrame, scores: dict[str, int], word_col: str = "word"
) -> DataFrame:
    """Adds ``pieces`` (array<string>): the max-score segmentation of
    each word under the quantized piece scores — ties to the LONGEST
    piece (struct (score, len) comparison, engine-portable).

    Pure Column algebra, O(len * UNI_MAX_PIECE_LEN) per word: one
    aggregate() fold builds the DP table (best score + best piece length
    per prefix), a second fold walks the back-pointers. No UDF, no
    explode of the DP state, embarrassingly parallel over word types —
    the tokenizer-application shape at 100 TB."""
    L = UNI_MAX_PIECE_LEN
    m = _uni_score_map(scores)

    def cand(acc, j, back):
        prev = F.element_at(acc["s"], (j - back + 1).cast("int"))
        pc = F.col(word_col).substr((j - back + 1).cast("int"), F.lit(back))
        sc = F.coalesce(F.element_at(m, pc), F.lit(_UNI_BIG_NEG).cast("long"))
        return F.when(
            j >= back,
            F.struct((prev + sc).alias("s"), F.lit(back).cast("int").alias("l")),
        ).otherwise(
            F.struct(
                F.lit(2 * _UNI_BIG_NEG).cast("long").alias("s"),
                F.lit(0).alias("l"),
            )
        )

    dp = F.aggregate(
        F.sequence(F.lit(1), F.length(word_col)),
        F.struct(F.expr("array(0L)").alias("s"), F.expr("array(0)").alias("l")),
        lambda acc, j: (
            lambda best: F.struct(
                F.concat(acc["s"], F.array(best["s"])).alias("s"),
                F.concat(acc["l"], F.array(best["l"])).alias("l"),
            )
        )(F.greatest(*[cand(acc, j, b) for b in range(1, L + 1)])),
    )
    with_dp = words.withColumn("__dp", dp)
    lens = F.col("__dp")["l"]

    def step(st, _):
        lj = F.element_at(lens, (st["j"] + 1).cast("int"))
        return F.when(
            st["j"] > 0,
            F.struct(
                (st["j"] - lj).cast("int").alias("j"),
                F.concat(
                    st["p"],
                    F.array(F.col(word_col).substr(st["j"] - lj + 1, lj)),
                ).alias("p"),
            ),
        ).otherwise(st)

    walk = F.aggregate(
        F.sequence(F.lit(1), F.length(word_col)),
        F.struct(
            F.length(word_col).cast("int").alias("j"),
            F.expr("cast(array() as array<string>)").alias("p"),
        ),
        step,
    )
    return with_dp.withColumn("pieces", walk["p"]).drop("__dp")


def unigram_segment_counts(
    words: DataFrame, scores: dict[str, int]
) -> DataFrame:
    """(piece, n_tokens): frequency-weighted token counts of the Viterbi
    segmentation under ``scores`` — the M-step count table. Bounded by
    the vocab size (only vocab pieces can win the DP)."""
    seg = unigram_viterbi_pieces(words, scores)
    return (
        seg.select("freq", F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("n_tokens"))
    )


def unigram_fit(
    words: DataFrame, rounds: int = UNI_EM_ROUNDS
) -> tuple[list[str], list[dict[str, int]]]:
    """Hard-EM (Viterbi) unigram-LM training (Kudo 2018's estimation
    step, deterministic integer variant): seed vocab + substring counts
    -> quantized scores -> [Viterbi segment -> recount -> refit] per
    round. Returns (vocab, scores-per-round: scores[0] is the seed fit,
    scores[r] the fit after round r's recount). Every collect is bounded
    at |vocab| rows (the DSIR/IVF fit discipline); the corpus never
    leaves the cluster."""
    vocab = unigram_seed_vocab(words)
    scores = [unigram_quantized_scores(unigram_seed_counts(words, vocab), vocab)]
    for _ in range(rounds - 1):
        cnt = {
            r.piece: int(r.n_tokens)
            for r in unigram_segment_counts(words, scores[-1]).collect()
        }
        scores.append(unigram_quantized_scores(cnt, vocab))
    return vocab, scores


def unigram_python_mirror(
    word_freqs: dict[str, int], rounds: int = UNI_EM_ROUNDS
) -> tuple[list[str], list[dict[str, int]], dict[str, int]]:
    """Pure-Python reference implementation (no Spark, no SQL): returns
    (vocab, scores-per-round, final segmentation counts). Used by the
    tests as an independent mirror AND by the oracle builder to fit the
    final-round score literals from independently-counted words — the
    _dsir_oracle discipline."""
    L = UNI_MAX_PIECE_LEN
    sub: dict[str, int] = {}
    for w, f in word_freqs.items():
        for i in range(len(w)):
            for l in range(1, min(L, len(w) - i) + 1):
                p = w[i : i + l]
                sub[p] = sub.get(p, 0) + f
    singles = sorted(p for p in sub if len(p) == 1)
    multis = [
        p
        for p, _ in sorted(
            ((p, c) for p, c in sub.items() if len(p) > 1),
            key=lambda t: (-t[1], t[0]),
        )[:UNI_EXTRA_PIECES]
    ]
    vocab = singles + sorted(multis)
    scores = [unigram_quantized_scores({p: sub.get(p, 0) for p in vocab}, vocab)]

    def viterbi(w: str, sc: dict[str, int]) -> list[str]:
        n = len(w)
        dp = [(0, 0)] + [(2 * _UNI_BIG_NEG, 0)] * n
        for j in range(1, n + 1):
            best = (2 * _UNI_BIG_NEG, 0)
            for back in range(1, min(L, j) + 1):
                s = dp[j - back][0] + sc.get(w[j - back : j], _UNI_BIG_NEG)
                if (s, back) > best:
                    best = (s, back)
            dp[j] = best
        out, j = [], n
        while j > 0:
            l = dp[j][1]
            out.append(w[j - l : j])
            j -= l
        return out

    def recount(sc: dict[str, int]) -> dict[str, int]:
        cnt: dict[str, int] = {}
        for w, f in word_freqs.items():
            for p in viterbi(w, sc):
                cnt[p] = cnt.get(p, 0) + f
        return cnt

    for _ in range(rounds - 1):
        scores.append(unigram_quantized_scores(recount(scores[-1]), vocab))
    return vocab, scores, recount(scores[-1])


# ---------------------------------------------------------------------------
# KN-model document scoring (the CCNet perplexity-filter apply step)
# ---------------------------------------------------------------------------


def _floor_log2_sq_thresholds() -> list[int]:
    """Thresholds t -> smallest x with floor(log2(x^2)) == t, for x in
    [1, KN_SCALE]. floor(log2(x^2)) >= t iff x >= ceil(2^(t/2)) =
    isqrt(2^t - 1) + 1 — pure integer arithmetic, so the CASE ladder
    built from these is bit-identical however either engine rounds its
    libm log."""
    import math

    out = []
    t = 0
    while (1 << t) <= KN_SCALE * KN_SCALE:
        out.append(math.isqrt((1 << t) - 1) + 1)
        t += 1
    return out


def floor_log2_sq_sql(x_expr: str) -> str:
    """SQL CASE ladder: floor(log2({x}^2)) for integer 1 <= x <= KN_SCALE
    — the quantized log both engines compute EXACTLY (never a libm log:
    correctly-rounded log2 is not guaranteed across engines, and one ulp
    at an integer boundary flips the floor). Shared verbatim by the
    Spark plan and the DuckDB oracle."""
    thr = _floor_log2_sq_thresholds()
    whens = " ".join(
        f"WHEN {x_expr} >= {thr[t]} THEN {t}" for t in range(len(thr) - 1, 0, -1)
    )
    return f"(CASE {whens} ELSE 0 END)"


def kn_doc_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quantized KN log-likelihood — the APPLY step of the
    perplexity-filter pipeline (CCNet, Wenzek et al. 2020): train an
    n-gram LM, score every document, keep by perplexity bucket. The
    model is :func:`kn_bigram_table` fitted on the same corpus (the
    deterministic in-repo stand-in for CCNet's external Wikipedia LM);
    each document's adjacent token pairs look up their interpolated KN
    probability and contribute the EXACT integer ``floor(log2(p^2))``
    (p in ppm; the squared form doubles the resolution to half-bit) via
    a threshold CASE ladder — no libm log anywhere, so the score is
    engine-reproducible and hash-gateable.

    Returns (id, n_pairs, ll_q, mean_llq_ppm): ll_q = sum of per-pair
    quantized logs (HIGHER = more probable = lower perplexity),
    mean_llq_ppm = ll_q * 1e6 div n_pairs. Documents with fewer than 2
    tokens have no pairs and are absent (unscorable — CCNet drops them
    too). Every pair hits the table by construction (same corpus);
    p_kn_ppm floors of 0 clamp to 1 so the log stays defined.

    Envelope: per-pair log <= 39, ll_q <= 39 * n_pairs < 2^63 for any
    real document; ll_q * 1e6 needs n_pairs * 39 < 9.2e12 — fine to
    ~2.4e11 tokens per document.

    Plan shape: the model build is the kernel's ONE corpus-scale
    exchange (persisted bigram frame); scoring joins the doc-pair
    stream against the vocab-scale table and folds per doc — the
    standard apply shape at 100 TB (the table broadcasts when the vocab
    fits, else it is a hash join on tok pairs).
    """
    table = kn_bigram_table(df, text_col=text_col)
    base = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    pairs = base.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "CASE WHEN size(__toks) < 2 THEN array() "
                "ELSE transform(sequence(1, size(__toks) - 1), "
                "i -> struct(__toks[i - 1] AS tok_a, __toks[i] AS tok_b)) END"
            )
        ).alias("p"),
    ).select(id_col, "p.tok_a", "p.tok_b")
    scored = pairs.join(
        table.select("tok_a", "tok_b", "p_kn_ppm"), ["tok_a", "tok_b"]
    ).withColumn(
        "llq",
        F.expr(floor_log2_sq_sql("greatest(p_kn_ppm, 1L)")).cast("long"),
    )

    out = (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("llq").cast("long").alias("ll_q"),
        )
        .withColumn("mean_llq_ppm", F.expr("ll_q * 1000000L div n_pairs"))
    )
    return out
