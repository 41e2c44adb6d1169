"""Proof battery for the STAGED r19-queue tranche built at r16:
char_entropy_report (char-level entropy quality signal on the shared
integer log ladder), ngram_novelty_report (held-out n-gram novelty),
topk_churn_report (heavy-hitter churn between halves),
k_anonymity_report (quasi-identifier risk census),
unimax_allocation_report (exact integer UniMax water-filling), and
streamed_bloom_filter_report (streamed membership sketch maintenance —
shares the registered batch oracle VERBATIM).
Same discipline as every staged predecessor: DuckDB oracle compares at
two gate scales, handcrafted semantics, hostile inputs, stream==batch +
verbatim-retry pins, and plan gates."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.plans import extensions as E
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle import compare

PAIRS = [
    ("char_entropy_report", E.char_entropy_report, E.CHAR_ENTROPY_ORACLE),
    ("ngram_novelty_report", E.ngram_novelty_report, E.NGRAM_NOVELTY_ORACLE),
    ("topk_churn_report", E.topk_churn_report, E.TOPK_CHURN_ORACLE),
    ("k_anonymity_report", E.k_anonymity_report, E.K_ANONYMITY_ORACLE),
    ("unimax_allocation_report", E.unimax_allocation_report, E.UNIMAX_ORACLE),
    (
        "streamed_bloom_filter_report",
        E.streamed_bloom_filter_report,
        E.STREAMED_BLOOM_ORACLE,
    ),
]


@pytest.mark.parametrize("name,fn,oracle", PAIRS, ids=[p[0] for p in PAIRS])
@pytest.mark.parametrize("sf", [SF_SMOKE, SF_ORACLE])
def test_staged_r19_matches_oracle(spark, sf, name, fn, oracle):
    r = compare(fn(spark, sf), oracle, sf)
    assert r["ok"], (name, sf, r)


def _docs(spark, rows):
    """(doc_id, text, lang, source, n_chars) frame for handcrafted
    corpora — n_chars derived so the k-anonymity QI is consistent."""
    return spark.createDataFrame(
        [(i, t, l, s, None if t is None else len(t)) for (i, t, l, s) in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def _write_docs(tmp_path, spark, rows):
    out = str(tmp_path)
    _docs(spark, rows).toPandas().to_parquet(
        os.path.join(out, "documents.parquet"), index=False
    )
    return out


# --- char_entropy_report -----------------------------------------------------


def test_char_entropy_extremes_handcrafted(tmp_path, spark):
    """A single-repeated-char doc scores the ladder maximum (p = 1e6
    exactly -> floor(log2(1e12)) = 39 per char) and lands in bucket 1
    (high score = low entropy = most repetitive); a max-entropy doc of
    distinct chars scores lower; empty/NULL docs are absent."""
    rows = [
        (1, "aaaaaaaa", "en", "web"),  # p=1e6: llq = 8 * 39
        (2, "abcdefgh", "en", "web"),  # p=125000 each: lower
        (3, "", "en", "web"),  # empty: excluded
        (4, None, "en", "web"),  # NULL: excluded
    ]
    out = _write_docs(tmp_path, spark, rows)
    got = {r["doc_id"]: r for r in E.char_entropy_report(spark, out).collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_chars"] == 8 and got[1]["ll_q"] == 8 * 39
    assert got[1]["mean_llq_ppm"] == 39 * 1_000_000
    # 8 distinct chars: p_ppm = 125000, floor(log2(125000^2)) = 33
    assert got[2]["ll_q"] == 8 * 33
    assert got[1]["mean_llq_ppm"] > got[2]["mean_llq_ppm"]
    assert got[1]["entropy_bucket"] == 1
    r = compare(E.char_entropy_report(spark, out), E.CHAR_ENTROPY_ORACLE, out)
    assert r["ok"], r


def test_char_entropy_unicode_chars_count_once(tmp_path, spark):
    """Multi-byte chars are ONE character on both engines (the split('')
    agreement the oracle relies on): a CJK-only doc behaves exactly like
    an ASCII doc with the same character histogram."""
    rows = [
        (1, "日日日日", "zh", "web"),
        (2, "xxxx", "en", "web"),
    ]
    out = _write_docs(tmp_path, spark, rows)
    got = {r["doc_id"]: r for r in E.char_entropy_report(spark, out).collect()}
    assert got[1]["n_chars"] == 4 == got[2]["n_chars"]
    assert got[1]["ll_q"] == got[2]["ll_q"] == 4 * 39
    r = compare(E.char_entropy_report(spark, out), E.CHAR_ENTROPY_ORACLE, out)
    assert r["ok"], r


def test_char_entropy_plan_gate(spark):
    """No Python eval; the only Window runs inside _distributed_ntile's
    partition-local rank (partitioned by spark_partition_id), never a
    global window over raw rows."""
    plan = (
        E.char_entropy_report(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan, plan[:2000]


# --- ngram_novelty_report ----------------------------------------------------


def test_ngram_novelty_handcrafted(tmp_path, spark):
    """Hand-counted novelty: train half (even ids) teaches 'a b c';
    test half (odd ids) replays it and adds novel material. Bigram
    accounting: test grams 'a b','b c','x y' -> 'x y' is the one novel
    distinct bigram."""
    rows = [
        (0, "a b c", "en", "web"),  # train
        (2, "a b", "en", "web"),  # train
        (1, "a b c", "en", "web"),  # test: fully seen
        (3, "x y a", "en", "web"),  # test: novel unigrams x,y; bigrams
    ]
    out = _write_docs(tmp_path, spark, rows)
    got = {r["n"]: r for r in E.ngram_novelty_report(spark, out).collect()}
    # unigrams in test: a,b,c,x,y,a -> 6 occ, 5 distinct; novel = x,y
    assert (got[1]["n_test_total"], got[1]["n_test_distinct"]) == (6, 5)
    assert (got[1]["n_novel_occurrences"], got[1]["n_novel_distinct"]) == (2, 2)
    assert got[1]["novelty_occ_ppm"] == 2 * 1_000_000 // 6
    # bigrams in test: 'a b','b c','x y','y a' -> novel = 'x y','y a'
    assert (got[2]["n_test_total"], got[2]["n_test_distinct"]) == (4, 4)
    assert (got[2]["n_novel_occurrences"], got[2]["n_novel_distinct"]) == (2, 2)
    # trigrams in test: 'a b c' (seen), 'x y a' (novel)
    assert (got[3]["n_novel_occurrences"], got[3]["n_novel_distinct"]) == (1, 1)
    r = compare(E.ngram_novelty_report(spark, out), E.NGRAM_NOVELTY_ORACLE, out)
    assert r["ok"], r


def test_ngram_novelty_zero_when_test_half_is_a_mirror(tmp_path, spark):
    """A test half that exactly mirrors the train half has zero novelty
    at every n — the memorization-risk floor."""
    rows = [
        (0, "one two three four", "en", "web"),
        (1, "one two three four", "en", "web"),
    ]
    out = _write_docs(tmp_path, spark, rows)
    for r in E.ngram_novelty_report(spark, out).collect():
        assert r["n_novel_occurrences"] == 0 == r["n_novel_distinct"]
        assert r["novelty_occ_ppm"] == 0
    r = compare(E.ngram_novelty_report(spark, out), E.NGRAM_NOVELTY_ORACLE, out)
    assert r["ok"], r


def test_ngram_novelty_is_one_explode(spark):
    """All three sizes and both halves ride ONE generator over one scan;
    no Window, no Python eval."""
    plan = (
        E.ngram_novelty_report(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Generate") == 1, plan[:2000]
    assert "Window" not in plan and "Python" not in plan, plan[:2000]


# --- topk_churn_report -------------------------------------------------------


def test_topk_churn_handcrafted(tmp_path, spark):
    """Handcrafted halves whose top sets are known: common tokens,
    entered/exited counts, Jaccard ppm, and the deterministic #1 token
    per half (ties resolve to the lexicographically smallest)."""
    # half A (even ids): alpha x3, beta x2, gamma x1
    # half B (odd ids): alpha x2, delta x2, beta x1
    rows = [
        (0, "alpha alpha alpha beta", "en", "web"),
        (2, "beta gamma", "en", "web"),
        (1, "alpha delta delta", "en", "web"),
        (3, "alpha beta", "en", "web"),
    ]
    out = _write_docs(tmp_path, spark, rows)
    got = E.topk_churn_report(spark, out).collect()
    assert len(got) == 1
    r0 = got[0]
    # K=32 >> vocab: top sets are the full vocabularies
    # A = {alpha, beta, gamma}, B = {alpha, delta, beta}
    assert r0["n_common"] == 2  # alpha, beta
    assert r0["n_entered"] == 1  # delta
    assert r0["n_exited"] == 1  # gamma
    assert r0["jaccard_ppm"] == 2 * 1_000_000 // 4
    assert r0["top_token_a"] == "alpha"
    # B: alpha x2 ties delta x2 -> lex smallest wins
    assert r0["top_token_b"] == "alpha"
    r = compare(E.topk_churn_report(spark, out), E.TOPK_CHURN_ORACLE, out)
    assert r["ok"], r


def test_topk_churn_plan_rides_take_ordered(spark):
    """Both top lists must plan TakeOrderedAndProject (never a full
    global sort of the token counts); no Window, no Python."""
    plan = (
        E.topk_churn_report(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("TakeOrderedAndProject") == 2, plan[:3000]
    assert "Window" not in plan and "Python" not in plan, plan[:2000]


# --- k_anonymity_report ------------------------------------------------------


def test_k_anonymity_handcrafted(tmp_path, spark):
    """Hand-built equivalence classes across every threshold, including
    a NULL-QI class (kept as a class — metadata absence is itself
    identifying) and the length-bucket generalization boundary at 256
    chars."""
    mk = lambda n: "x" * n  # noqa: E731
    rows = [
        # class (en, web, 0): 5 docs
        *[(i, mk(10 + i), "en", "web") for i in range(5)],
        # class (en, web, 1): 1 doc (singleton -> at risk for every k)
        (10, mk(300), "en", "web"),
        # class (de, web, 0): 2 docs
        (11, mk(7), "de", "web"),
        (12, mk(9), "de", "web"),
        # class (NULL, NULL, 0): 3 docs — NULLs group together
        (13, mk(5), None, None),
        (14, mk(6), None, None),
        (15, mk(8), None, None),
    ]
    out = _write_docs(tmp_path, spark, rows)
    got = {r["k"]: r for r in E.k_anonymity_report(spark, out).collect()}
    assert set(got) == {2, 5, 10, 20}
    assert got[2]["n_docs"] == 11 and got[2]["n_classes"] == 4
    assert got[2]["min_class_size"] == 1 and got[2]["max_class_size"] == 5
    # k=2: only the singleton is below
    assert (got[2]["n_classes_below_k"], got[2]["n_docs_at_risk"]) == (1, 1)
    # k=5: singleton + the 2-class + the 3-class
    assert (got[5]["n_classes_below_k"], got[5]["n_docs_at_risk"]) == (3, 6)
    # k=10: everything below
    assert (got[10]["n_classes_below_k"], got[10]["n_docs_at_risk"]) == (4, 11)
    assert got[10]["risk_ppm"] == 1_000_000
    r = compare(E.k_anonymity_report(spark, out), E.K_ANONYMITY_ORACLE, out)
    assert r["ok"], r


def test_k_anonymity_plan_gate(spark):
    """One QI-keyed exchange; the threshold sweep and totals ride the
    bounded class frame — no Window, no Python eval."""
    plan = (
        E.k_anonymity_report(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan and "Python" not in plan, plan[:2000]


# --- unimax_allocation_report ------------------------------------------------


def test_unimax_waterfilling_handcrafted(tmp_path, spark):
    """Two hand-solved water-fillings: (a) small languages saturate at
    their epoch cap and the big one absorbs the rest; (b) nothing
    saturates and the floor-division remainder lands on the LAST
    positions of the (cap asc, lang asc) order — the sequential-floor
    identity."""
    # (a) docs per lang: aa=1, bb=1, cc=8 -> budget 10, caps 2,2,16
    rows = [(0, "w", "aa", "s"), (1, "w", "bb", "s")] + [
        (2 + i, "w", "cc", "s") for i in range(8)
    ]
    out = _write_docs(tmp_path, spark, rows)
    got = {r["lang"]: r for r in E.unimax_allocation_report(spark, out).collect()}
    assert (got["aa"]["alloc"], got["aa"]["saturated"]) == (2, 1)
    assert (got["bb"]["alloc"], got["bb"]["saturated"]) == (2, 1)
    assert (got["cc"]["alloc"], got["cc"]["saturated"]) == (6, 0)
    assert got["cc"]["quota_ppm"] == 600_000
    assert sum(r["alloc"] for r in got.values()) == 10
    r = compare(E.unimax_allocation_report(spark, out), E.UNIMAX_ORACLE, out)
    assert r["ok"], r

    # (b) docs aa=1, bb=2, cc=2 -> budget 5, caps 2,4,4: none saturate
    # (2*3 = 6 > 5); sequential floors: 1, 2, 2 (remainder on the tail)
    rows_b = (
        [(0, "w", "aa", "s")]
        + [(1 + i, "w", "bb", "s") for i in range(2)]
        + [(3 + i, "w", "cc", "s") for i in range(2)]
    )
    out_b = str(tmp_path / "b")
    os.makedirs(out_b, exist_ok=True)
    _write_docs(out_b, spark, rows_b)
    got_b = {
        r["lang"]: r for r in E.unimax_allocation_report(spark, out_b).collect()
    }
    assert [got_b[x]["alloc"] for x in ("aa", "bb", "cc")] == [1, 2, 2]
    assert all(r["saturated"] == 0 for r in got_b.values())
    r = compare(E.unimax_allocation_report(spark, out_b), E.UNIMAX_ORACLE, out_b)
    assert r["ok"], r


def test_unimax_uniform_corpus_splits_evenly(tmp_path, spark):
    """On a perfectly uniform corpus the allocation is budget/L per
    language with zero remainder — the UniMax no-op point (the
    temperature report's τ->inf analogue)."""
    rows = [(i, "w", ["aa", "bb", "cc", "dd"][i % 4], "s") for i in range(20)]
    out = _write_docs(tmp_path, spark, rows)
    got = E.unimax_allocation_report(spark, out).collect()
    assert [r["alloc"] for r in got] == [5, 5, 5, 5]
    assert [r["quota_ppm"] for r in got] == [250_000] * 4
    r = compare(E.unimax_allocation_report(spark, out), E.UNIMAX_ORACLE, out)
    assert r["ok"], r


def test_unimax_windows_are_language_bounded(spark):
    """The only Window operators run over the groupBy(lang) aggregate
    (|langs| rows — design cardinality), never over raw document rows:
    the window input must sit ABOVE the aggregate in the plan tree, and
    no Python eval anywhere."""
    df = E.unimax_allocation_report(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan[:2000]
    # the printed tree lists every node ABOVE its children: each Window
    # must have the lang HashAggregate somewhere BELOW it (its input is
    # the aggregate frame, never the raw scan)
    first_window = plan.find("Window")
    assert first_window > 0 and "HashAggregate" in plan[first_window:], (
        plan[:3000]
    )


# --- streamed_bloom_filter_report --------------------------------------------


def test_streamed_bloom_is_the_verbatim_batch_twin(spark):
    """The streamed entry shares bloom_prefilter_stats' oracle string
    VERBATIM (the streamed_hourly_rollup precedent), and the two
    one-row frames are identical: OR-idempotent word folding makes the
    snapshot THE batch filter."""
    assert E.STREAMED_BLOOM_ORACLE is E.BLOOM_PREFILTER_ORACLE
    a = [tuple(r) for r in E.bloom_prefilter_stats(spark, SF_SMOKE).collect()]
    b = [
        tuple(r)
        for r in E.streamed_bloom_filter_report(spark, SF_SMOKE).collect()
    ]
    assert a == b and a


def test_streamed_bloom_snapshot_and_retry(spark, tmp_path):
    """Kernel-level stream==batch: three arrival waves through
    bloom_word_stream, snapshot == the one-shot word table
    bit-identically; then a VERBATIM replay of the last wave — bit_or
    is idempotent, so the retry must change NOTHING."""
    from retail_aws_etl_pipeline_spark.operators.dedup import bloom_build_words
    from retail_aws_etl_pipeline_spark.session import load_tables
    from retail_aws_etl_pipeline_spark.streaming.streams import (
        bloom_word_stream,
        make_bloom_batch_processor,
        read_bloom_snapshot,
    )

    docs = load_tables(spark, SF_SMOKE, ["documents"])["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "waves")
    for i in range(3):
        docs.filter(
            F.pmod(F.coalesce(F.col("doc_id"), F.lit(0)), F.lit(3)) == i
        ).coalesce(1).write.mode("append").parquet(src)

    delta = str(tmp_path / "bloom_delta")
    q = bloom_word_stream(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        "text",
        delta_dir=delta,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    def snap():
        return {
            (r["word_idx"], r["word"])
            for r in read_bloom_snapshot(spark, delta).collect()
        }

    want = {
        (r["word_idx"], r["word"])
        for r in bloom_build_words(docs, "text").collect()
    }
    got = snap()
    assert got == want and got

    # verbatim replay of wave 2 under the same batch id: idempotent
    last_wave = docs.filter(
        F.pmod(F.coalesce(F.col("doc_id"), F.lit(0)), F.lit(3)) == 2
    )
    make_bloom_batch_processor("text", delta)(last_wave, 2)
    assert snap() == want
