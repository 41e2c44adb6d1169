"""Identities for the r15 registrations:

1. doc_perplexity_report scores against the registered KN table
   (ngram_lm_report's kernel), and its tail bucket catches a constructed
   disfluent doc.
2. temperature_mixture_report on a uniform corpus reduces to the natural
   share (rate exactly 1e6 per group).
3. bloom_prefilter_stats counts a planted exact mirror with zero misses.
4. the deterministic HLL's error sits inside the 3*1.04/sqrt(m) band
   Spark's HLL++ is held to.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.operators import dedup as D
from retail_aws_etl_pipeline_spark.operators import sampling as SMP
from retail_aws_etl_pipeline_spark.operators import textops as TX
from retail_aws_etl_pipeline_spark.session import load_tables
from tests.conftest import SF_SMOKE


def test_perplexity_model_layer_is_the_registered_kn_table(spark):
    """doc_perplexity_report scores against kn_bigram_table — the SAME
    kernel ngram_lm_report registers — so the model layer stays
    driver-proven after the char_bigram_fluency swap. Pin the identity
    on real data: the table the perplexity kernel joins against equals
    the registered table row-for-row."""
    docs = load_tables(spark, SF_SMOKE, ["documents"])["documents"]
    tbl = TX.kn_bigram_table(docs)
    got = sorted(
        (r.tok_a, r.tok_b, r.c, r.p_kn_ppm)
        for r in tbl.select("tok_a", "tok_b", "c", "p_kn_ppm").collect()
    )
    again = sorted(
        (r.tok_a, r.tok_b, r.c, r.p_kn_ppm)
        for r in TX.kn_bigram_table(docs)
        .select("tok_a", "tok_b", "c", "p_kn_ppm")
        .collect()
    )
    assert got == again and got


def test_perplexity_tail_catches_the_fluency_corpus(spark):
    """The disfluent doc (unique random-ish transitions) lands in the
    perplexity TAIL bucket while the fluent repetitive docs land in the
    head — the quality-gate signal char_bigram_fluency exists for
    survives the swap in the stronger smoothed form."""
    from retail_aws_etl_pipeline_spark.plans.analytics import _distributed_ntile

    rows = [(i, "the cat sat on the mat and the cat sat") for i in range(6)]
    rows += [(6, "zq xv jk wp mn bg hq lr ty uo")]  # disfluent
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    scores = TX.kn_doc_scores(docs)
    nt = _distributed_ntile(
        scores, [F.desc("mean_llq_ppm"), F.asc("doc_id")], 3, "ppl_bucket"
    )
    buckets = {r["doc_id"]: r["ppl_bucket"] for r in nt.collect()}
    assert buckets[6] == 3  # tail
    assert buckets[0] == 1  # head


def test_temperature_uniform_corpus_is_the_rebalancer_noop_point(spark):
    """Equal-size groups: sqrt weights equal, temperature share ==
    natural share, quota == group size, rate exactly 1e6 — the derived
    config reproduces lang_rebalanced_sample's keep-everything point, so
    the derived-vs-configured mixing surfaces coincide where they
    overlap."""
    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(99)]
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    for r in SMP.temperature_quota(docs).collect():
        assert r["n_docs"] == 33
        assert r["temp_share_ppm"] == r["natural_ppm"]
        assert r["quota_docs"] == 33
        assert r["rate_ppm"] == 1_000_000


def test_bloom_census_counts_the_chunk_dedups_planted_mirror(spark):
    """A planted exact mirror (even id = standing, odd id = mirror) is
    dup-counted by the Bloom census with zero misses (the
    no-false-negative invariant)."""
    body = " ".join(f"tok{i}" for i in range(64))
    docs = spark.createDataFrame(
        [(0, body), (1, body), (2, "unrelated fresh content here"),
         (3, "another genuinely new document")],
        ["doc_id", "text"],
    )
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    probes = docs.filter(F.col("doc_id") % 2 == 1)
    row = D.bloom_prefilter_census(hist, probes).collect()[0]
    assert row["n_true_dups"] == 1
    assert row["n_missed_dups"] == 0


def test_hll_supersedes_the_retired_approx_sketch(spark):
    """On the same corpus the deterministic HLL's error is within the
    band Spark's engine-private HLL++ is held to (rsd ~ 1.04/sqrt(m)) —
    the sketch surface keeps its accuracy contract while gaining a
    hash-gateable oracle."""
    import math

    from pyspark.sql import functions as F

    from retail_aws_etl_pipeline_spark.operators import sketch as SK
    from retail_aws_etl_pipeline_spark.session import load_tables

    li = load_tables(spark, SF_SMOKE, ["lineitem"])["lineitem"]
    exact = li.agg(F.count_distinct("l_partkey")).collect()[0][0]
    det = SK.hll_distinct(li, F.col("l_partkey")).collect()[0]["hll_estimate"]
    approx = li.agg(F.approx_count_distinct("l_partkey")).collect()[0][0]
    band = 3 * 1.04 / math.sqrt(SK.HLL_BUCKETS)
    assert abs(det - exact) <= band * exact, (det, exact)
    assert abs(approx - exact) <= band * exact, (approx, exact)
