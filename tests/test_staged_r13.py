"""STAGED r13+ tranche: quality-aware dedup retention, the Kneser-Ney
bigram table, and the token-budget shard manifest (plans/extensions.py
tail). The registry sits at its 150 cap and the r12 tranche is already
drafted, so these follow the standing staged pattern: module-level
oracle string + full local proof now (DuckDB compare at sf0.01, the
driver's gate scale; handcrafted semantics; structural invariants;
executed-plan gates; Python mirrors for the novel arithmetic),
registration rides a later rotation round per COVERAGE.md §rotation.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.operators import dedup as D
from retail_aws_etl_pipeline_spark.operators import sampling as SMP
from retail_aws_etl_pipeline_spark.operators import textops as TX
from retail_aws_etl_pipeline_spark.plans.extensions import (
    DEDUP_QUALITY_RETAINED_ORACLE,
    KN_BIGRAM_ORACLE,
    SHARD_MANIFEST_ORACLE,
    dedup_retained_by_quality,
    ngram_lm_report,
    training_shard_manifest,
)
from tests.conftest import SF_ORACLE
from tests.oracle import compare


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# Oracle compares (the driver's three-way gate, run locally)
# ---------------------------------------------------------------------------


def test_quality_retained_matches_oracle(spark):
    got = dedup_retained_by_quality(spark, SF_ORACLE)
    res = compare(got, DEDUP_QUALITY_RETAINED_ORACLE, SF_ORACLE)
    assert res["ok"], res


def test_ngram_lm_matches_oracle(spark):
    got = ngram_lm_report(spark, SF_ORACLE)
    res = compare(got, KN_BIGRAM_ORACLE, SF_ORACLE)
    assert res["ok"], res


def test_shard_manifest_matches_oracle(spark):
    got = training_shard_manifest(spark, SF_ORACLE)
    res = compare(got, SHARD_MANIFEST_ORACLE, SF_ORACLE)
    assert res["ok"], res


# ---------------------------------------------------------------------------
# Quality-aware survivor selection semantics
# ---------------------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_quality_survivor_beats_min_id(spark):
    """The argmax survivor is NOT the min-id member when a later doc is
    higher quality — the exact case dedup_retained_corpus gets wrong by
    construction (its survivor is the component label)."""
    low = "a b c d e a b c d e a b c d e"          # 5 distinct / 15 toks
    high = low + " x"                               # 6 distinct / 16 toks
    df = _docs(spark, [(0, low), (1, high), (7, "p q r s t u v w")])
    grams = D.shingles(df)
    counts = D.jaccard_counts(grams)
    pairs = counts.filter(
        F.col("common") * 5 >= (F.col("n_a") + F.col("n_b") - F.col("common"))
    ).select("id_a", "id_b")
    comp = D.connected_components(pairs, df.select("doc_id"))
    scored = df.select(
        "doc_id",
        F.expr(
            f"CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
            f" * {SMP.QUALITY_SCALE} div CAST(size(split(text, ' ')) AS BIGINT)"
        ).alias("quality"),
    )
    surv = {r.label: r for r in D.quality_survivors(comp, scored).collect()}
    # docs 0 and 1 form one component labeled 0; the survivor is doc 1.
    assert surv[0].doc_id == 1 and surv[0].cluster_size == 2
    assert surv[0].quality == 6 * SMP.QUALITY_SCALE // 16
    # the singleton survives as itself.
    assert surv[7].doc_id == 7 and surv[7].cluster_size == 1


def test_quality_survivor_tiebreak_is_min_id(spark):
    comp = spark.createDataFrame(
        [(10, 1), (20, 1), (30, 1)], "node long, label long"
    )
    scored = spark.createDataFrame(
        [(10, 500), (20, 900), (30, 900)], "doc_id long, quality long"
    )
    rows = D.quality_survivors(comp, scored).collect()
    assert len(rows) == 1
    assert rows[0].doc_id == 20 and rows[0].quality == 900
    assert rows[0].cluster_size == 3


def test_quality_retained_plan_has_no_window(spark):
    """Survivor selection is a groupBy argmax buffer, not a rank window —
    the plan property that keeps the shuffle at cluster-count rows."""
    plan = _plan(dedup_retained_by_quality(spark, SF_ORACLE))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Kneser-Ney bigram table: mirror + mass invariants
# ---------------------------------------------------------------------------


def _kn_mirror(texts: list[str]) -> dict[tuple[str, str], dict]:
    """Pure-Python interpolated-KN table with the identical ppm
    quantization — independent of both Spark and DuckDB."""
    from collections import Counter

    S = TX.KN_SCALE
    bg: Counter = Counter()
    for t in texts:
        toks = t.split(" ")
        for i in range(len(toks) - 1):
            bg[(toks[i], toks[i + 1])] += 1
    pre: Counter = Counter()
    nfoll: Counter = Counter()
    nleft: Counter = Counter()
    for (a, b), c in bg.items():
        pre[a] += c
        nfoll[a] += 1
        nleft[b] += 1
    n1 = sum(1 for c in bg.values() if c == 1)
    n2 = sum(1 for c in bg.values() if c == 2)
    d = 0 if n1 + 2 * n2 == 0 else n1 * S // (n1 + 2 * n2)
    bt = len(bg)
    out = {}
    for (a, b), c in bg.items():
        p1 = max(c * S - d, 0) // pre[a]
        lam = d * nfoll[a] // pre[a]
        pc = nleft[b] * S // bt
        out[(a, b)] = {
            "c": c, "c_prefix": pre[a], "n_followers": nfoll[a],
            "n_left": nleft[b], "d_ppm": d, "p1_ppm": p1,
            "lambda_ppm": lam, "pcont_ppm": pc,
            "p_kn_ppm": p1 + lam * pc // S,
        }
    return out


def test_kn_bigram_matches_python_mirror(spark):
    texts = [
        "san francisco is in california",
        "san diego is in california too",
        "francisco went to san francisco",
        "one",  # single-token doc: contributes no pairs
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {(r.tok_a, r.tok_b): r.asDict() for r in TX.kn_bigram_table(df).collect()}
    want = _kn_mirror(texts)
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        for col, v in w.items():
            assert g[col] == v, (k, col, g[col], v)


def test_kn_mass_invariant(spark):
    """Per prefix w1: discounted mass + backoff weight equals the
    probability budget, within floor slack — the identity KN smoothing
    is built on (exact without floors)."""
    from retail_aws_etl_pipeline_spark.session import load_tables

    docs = load_tables(spark, SF_ORACLE, ["documents"])["documents"]
    tab = TX.kn_bigram_table(docs)
    per_prefix = (
        tab.groupBy("tok_a")
        .agg(
            F.sum("p1_ppm").alias("p1_sum"),
            F.first("lambda_ppm").alias("lam"),
            F.count(F.lit(1)).alias("nf"),
        )
        .collect()
    )
    S = TX.KN_SCALE
    assert per_prefix
    for r in per_prefix:
        assert r.p1_sum + r.lam <= S, r
        assert r.p1_sum + r.lam >= S - (r.nf + 1), r
    # continuation counts tile the bigram-type space exactly.
    types = tab.count()
    left_sum = (
        tab.select("tok_b", "n_left").distinct().agg(F.sum("n_left")).collect()[0][0]
    )
    assert left_sum == types


def test_kn_plan_shape(spark):
    plan = _plan(ngram_lm_report(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan  # no Python UDF anywhere in the table


# ---------------------------------------------------------------------------
# Shard assignment: independent Python mirror + conservation + epoch knob
# ---------------------------------------------------------------------------


def test_shard_assignment_matches_python_mirror(spark):
    """Pin the md5 key format and the first-token shard rule against an
    independent hashlib implementation on a handcrafted corpus."""
    rows = [(i, " ".join(["w"] * n)) for i, n in
            [(0, 5), (1, 9), (2, 3), (3, 8), (4, 7), (5, 2), (6, 6)]]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", "text", F.lit("en").alias("lang"), F.lit("s").alias("source")
    )
    cap = 10
    got = {
        r.doc_id: r.shard_id
        for r in SMP.shard_assignment(df, capacity=cap, salt="tst").collect()
    }
    order = sorted(
        rows,
        key=lambda r: (hashlib.md5(f"{r[0]}:tst".encode()).hexdigest(), r[0]),
    )
    cum, want = 0, {}
    for doc_id, text in order:
        want[doc_id] = cum // cap
        cum += len(text.split(" "))
    assert got == want


def test_shard_manifest_conservation_and_determinism(spark):
    from retail_aws_etl_pipeline_spark.session import load_tables

    docs = load_tables(spark, SF_ORACLE, ["documents"])["documents"]
    man = training_shard_manifest(spark, SF_ORACLE).collect()
    n_docs = docs.count()
    n_toks = docs.select(
        F.sum(F.size(F.split("text", " ")))
    ).collect()[0][0]
    assert sum(r.n_docs for r in man) == n_docs
    assert sum(r.n_tokens for r in man) == n_toks
    assert min(r.shard_id for r in man) == 0
    assert all(r.n_docs >= 1 for r in man)
    # replay-idempotent: a second run reproduces the identical manifest.
    again = training_shard_manifest(spark, SF_ORACLE).collect()
    assert man == again
    # epoch knob: a different salt produces a different assignment for
    # at least one document (same capacity, same corpus).
    a = SMP.shard_assignment(docs, salt="e1").select("doc_id", "shard_id")
    b = SMP.shard_assignment(docs, salt="e2").select("doc_id", "shard_id")
    moved = a.join(b, "doc_id").filter(a.shard_id != b.shard_id).count()
    assert moved > 0


def test_shard_manifest_plan_shape(spark):
    import re

    plan = _plan(training_shard_manifest(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if re.search(r"\bWindow \[", ln):
            # the running sum must stay partitioned by __pid — a global
            # (unpartitioned) window is the single-task bottleneck the
            # distributed-cumsum discipline exists to avoid.
            assert len(re.findall(r"\], \[", ln)) >= 2, ln.strip()[:200]


# ---------------------------------------------------------------------------
# Batch-perceptron quality classifier: mirror + invariants + convergence
# ---------------------------------------------------------------------------


def _bucket(word: str) -> int:
    return int(hashlib.md5(word.encode()).hexdigest()[:4], 16) % SMP.DSIR_BUCKETS


def _pctron_mirror(rows: list[tuple[int, str, str]], rounds: int):
    """Pure-Python batch perceptron (docs = (id, text, lang)); returns
    (trace, weights-after-each-round) — independent of Spark and DuckDB."""
    feats = {}
    for doc_id, text, lang in rows:
        y = 1 if lang == "en" else -1
        cnt: dict[int, int] = {SMP.PCTRON_BIAS: 1}
        for w in text.split(" "):
            b = _bucket(w)
            cnt[b] = cnt.get(b, 0) + 1
        feats[doc_id] = (y, cnt)
    w = [0] * (SMP.DSIR_BUCKETS + 1)
    trace, ws = [], []
    for i in range(1, rounds + 1):
        mis = []
        for doc_id, (y, cnt) in feats.items():
            margin = y * sum(c * w[b] for b, c in cnt.items())
            if margin <= 0:
                mis.append(doc_id)
        n_pos = sum(1 for d in mis if feats[d][0] == 1)
        w = list(w)
        for d in mis:
            y, cnt = feats[d]
            for b, c in cnt.items():
                w[b] += y * c
        trace.append(
            {
                "iteration": i,
                "n_mis": len(mis),
                "n_mis_pos": n_pos,
                "n_mis_neg": len(mis) - n_pos,
                "w_l1": sum(abs(v) for v in w),
                "w_bias": w[SMP.PCTRON_BIAS],
            }
        )
        ws.append(w)
    return trace, ws


def test_quality_classifier_matches_oracle(spark):
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        QUALITY_CLASSIFIER_ORACLE,
        quality_classifier_report,
    )

    got = quality_classifier_report(spark, SF_ORACLE)
    res = compare(got, QUALITY_CLASSIFIER_ORACLE, SF_ORACLE)
    assert res["ok"], res


def test_perceptron_matches_python_mirror(spark):
    rows = [
        (0, "good clean prose with words", "en"),
        (1, "more good clean text here now", "en"),
        (2, "bueno texto limpio aqui", "es"),
        (3, "mehr guter sauberer text", "de"),
        (4, "good bueno mixed text words", "en"),
        (5, "texto words mixed clean", "es"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    feats = SMP.perceptron_features(df, F.col("lang") == "en")
    got_ws = SMP.perceptron_fit_trace(feats)[0]
    _, want_ws = _pctron_mirror(rows, SMP.PCTRON_ROUNDS)
    assert got_ws == want_ws


def test_perceptron_round1_updates_on_every_doc(spark):
    """w0 = 0 puts every margin at 0, and 0 counts as misclassified —
    round 1's update is the whole-corpus y·x sum (pinned so the <= vs <
    boundary can never silently flip)."""
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        quality_classifier_report,
    )
    from retail_aws_etl_pipeline_spark.session import load_tables

    docs = load_tables(spark, SF_ORACLE, ["documents"])["documents"]
    n_docs = docs.count()
    n_en = docs.filter(F.col("lang") == "en").count()
    trace = quality_classifier_report(spark, SF_ORACLE).collect()
    assert trace[0].iteration == 1
    assert trace[0].n_mis == n_docs
    assert trace[0].n_mis_pos == n_en
    assert trace[0].n_mis_neg == n_docs - n_en
    for r in trace:
        assert r.n_mis == r.n_mis_pos + r.n_mis_neg
    # bias after round 1 = n_pos - n_neg, exactly.
    assert trace[0].w_bias == n_en - (n_docs - n_en)


def test_perceptron_separable_corpus_converges(spark):
    """On a linearly separable corpus with disjoint vocabularies the
    batch perceptron reaches zero errors by round 2."""
    rows = [
        (0, "alpha alpha beta", "en"),
        (1, "beta alpha beta", "en"),
        (2, "gamma delta gamma", "es"),
        (3, "delta delta gamma", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    feats = SMP.perceptron_features(df, F.col("lang") == "en")
    ws = SMP.perceptron_fit_trace(feats)[0]
    m = SMP._perceptron_margins(feats, ws[0], "doc_id").collect()
    assert all(r.margin > 0 for r in m), m
    # and the weights stop moving once nothing is misclassified.
    assert ws[1] == ws[0] and ws[2] == ws[0]


def test_quality_classifier_plan_shape(spark):
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        quality_classifier_report,
    )

    plan = _plan(quality_classifier_report(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer trainer: mirror + tiebreak + conservation
# ---------------------------------------------------------------------------


def test_unigram_lm_matches_oracle(spark):
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        UNIGRAM_LM_ORACLE,
        unigram_lm_report,
    )

    got = unigram_lm_report(spark, SF_ORACLE)
    res = compare(got, UNIGRAM_LM_ORACLE, SF_ORACLE)
    assert res["ok"], res


def test_unigram_fit_matches_python_mirror(spark):
    texts = [
        "the cat sat on the mat",
        "the cats sat",
        "a mat on a cat",
        "banana bandana",
        "the the the",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    words = TX.unigram_word_freqs(df)
    wf = {r.word: int(r.freq) for r in words.collect()}
    vocab_s, scores_s = TX.unigram_fit(words)
    vocab_p, scores_p, final_p = TX.unigram_python_mirror(wf)
    assert vocab_s == vocab_p
    assert scores_s == scores_p
    final_s = {
        r.piece: int(r.n_tokens)
        for r in TX.unigram_segment_counts(words, scores_s[-1]).collect()
    }
    assert final_s == final_p


def test_unigram_viterbi_tiebreak_prefers_longest(spark):
    """Equal-score segmentations resolve to the LONGEST piece (struct
    (score, len) comparison) — 'aa' at -20 ties a|a at -10-10 and must
    win; pinned in both the kernel and the Python mirror's key."""
    words = spark.createDataFrame([("aa", 1)], "word string, freq long")
    seg = TX.unigram_viterbi_pieces(words, {"a": -10, "aa": -20}).collect()
    assert seg[0].pieces == ["aa"]
    # and when splitting scores strictly better, the split wins.
    seg2 = TX.unigram_viterbi_pieces(words, {"a": -9, "aa": -20}).collect()
    assert seg2[0].pieces == ["a", "a"]


def test_unigram_segmentation_tiles_every_word(spark):
    """Coverage + conservation: the single-char vocab floor keeps every
    word segmentable, the walk tiles it exactly (pieces reversed concat
    == word), and token mass conserves corpus char mass."""
    from retail_aws_etl_pipeline_spark.session import load_tables

    docs = load_tables(spark, SF_ORACLE, ["documents"])["documents"]
    words = TX.unigram_word_freqs(docs).persist()
    _, scores = TX.unigram_fit(words)
    seg = TX.unigram_viterbi_pieces(words, scores[-1])
    bad = seg.filter(
        F.expr("concat_ws('', reverse(pieces)) != word")
    ).count()
    assert bad == 0
    piece_mass = (
        TX.unigram_segment_counts(words, scores[-1])
        .select(F.sum(F.col("n_tokens") * F.length("piece")))
        .collect()[0][0]
    )
    char_mass = words.select(
        F.sum(F.col("freq") * F.length("word"))
    ).collect()[0][0]
    assert piece_mass == char_mass
    words.unpersist()


def test_unigram_report_plan_shape(spark):
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        unigram_lm_report,
    )

    plan = _plan(unigram_lm_report(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


# ---------------------------------------------------------------------------
# Hypothesis fuzz: every new kernel vs its pure-Python mirror
# ---------------------------------------------------------------------------


def test_kn_bigram_mirror_fuzz(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.sampled_from(["a", "b", "ab", "ba", "aa", "c"])
    doc = st.lists(word, min_size=1, max_size=8).map(" ".join)

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(texts=st.lists(doc, min_size=1, max_size=4))
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            (r.tok_a, r.tok_b): r.asDict()
            for r in TX.kn_bigram_table(df).collect()
        }
        want = _kn_mirror(texts)
        assert set(got) == set(want)
        for k, w in want.items():
            for col, v in w.items():
                assert got[k][col] == v, (k, col, got[k][col], v)

    check()


def test_unigram_mirror_fuzz(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="abc", min_size=1, max_size=7)
    doc = st.lists(word, min_size=1, max_size=5).map(" ".join)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(texts=st.lists(doc, min_size=1, max_size=3))
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        words = TX.unigram_word_freqs(df)
        wf = {r.word: int(r.freq) for r in words.collect()}
        vocab_s, scores_s = TX.unigram_fit(words)
        vocab_p, scores_p, final_p = TX.unigram_python_mirror(wf)
        assert vocab_s == vocab_p and scores_s == scores_p
        final_s = {
            r.piece: int(r.n_tokens)
            for r in TX.unigram_segment_counts(words, scores_s[-1]).collect()
        }
        assert final_s == final_p, (texts, final_s, final_p)

    check()


def test_shard_assignment_mirror_fuzz(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        toks=st.lists(st.integers(min_value=1, max_value=12), min_size=1, max_size=16),
        cap=st.integers(min_value=1, max_value=20),
    )
    def check(toks, cap):
        rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(toks)]
        df = spark.createDataFrame(rows, "doc_id long, text string").select(
            "doc_id", "text", F.lit("en").alias("lang"), F.lit("s").alias("source")
        )
        got = {
            r.doc_id: r.shard_id
            for r in SMP.shard_assignment(df, capacity=cap, salt="fz").collect()
        }
        order = sorted(
            range(len(toks)),
            key=lambda i: (hashlib.md5(f"{i}:fz".encode()).hexdigest(), i),
        )
        cum, want = 0, {}
        for i in order:
            want[i] = cum // cap
            cum += toks[i]
        assert got == want, (toks, cap, got, want)

    check()


def test_perceptron_mirror_fuzz(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
    doc = st.lists(word, min_size=1, max_size=6).map(" ".join)
    lang = st.sampled_from(["en", "es", "de"])

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(rows=st.lists(st.tuples(doc, lang), min_size=1, max_size=5))
    def check(rows):
        triples = [(i, t, lg) for i, (t, lg) in enumerate(rows)]
        df = spark.createDataFrame(
            triples, "doc_id long, text string, lang string"
        )
        feats = SMP.perceptron_features(df, F.col("lang") == "en")
        got = SMP.perceptron_fit_trace(feats)[0]
        _, want = _pctron_mirror(triples, SMP.PCTRON_ROUNDS)
        assert got == want, (triples, got[-1][:8], want[-1][:8])

    check()


def test_quality_survivors_vs_bruteforce_fuzz(spark):
    """quality_survivors vs a brute-force argmax over random component
    assignments and scores."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        data=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=30),   # node
                st.integers(min_value=0, max_value=3),    # label
                st.integers(min_value=0, max_value=50),   # quality
            ),
            min_size=1,
            max_size=12,
            unique_by=lambda t: t[0],
        )
    )
    def check(data):
        comp = spark.createDataFrame(
            [(n, lb) for n, lb, _ in data], "node long, label long"
        )
        scored = spark.createDataFrame(
            [(n, q) for n, _, q in data], "doc_id long, quality long"
        )
        got = {
            r.label: (r.doc_id, r.quality, r.cluster_size)
            for r in D.quality_survivors(comp, scored).collect()
        }
        want = {}
        for n, lb, q in data:
            size = sum(1 for x in data if x[1] == lb)
            cur = want.get(lb)
            if cur is None or (q, -n) > (cur[1], -cur[0]):
                want[lb] = (n, q, size)
        assert got == want, (data, got, want)

    check()
