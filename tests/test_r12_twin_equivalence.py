"""Dedup identities for registered kernels:

1. cdc_chunk_dedup keeps detecting a mirrored passage after the one-token
   prefix shift that blinds a fixed-window chunker.
2. incremental_jaccard_counts == the batch self-join restricted to
   batch-crossing pairs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.operators import dedup as D
from retail_aws_etl_pipeline_spark.session import load_tables
from tests.conftest import SF_ORACLE


def test_cdc_supersedes_fixed_window_chunk_dedup(spark):
    """On an UNSHIFTED mirrored passage both chunkers report cross-doc
    duplicate chunks; after a one-token prefix insertion only CDC does —
    the claim that makes cdc_chunk_dedup the registered successor of
    token_chunk_dedup at the r12 swap."""
    # 64 deterministic tokens so both CDC and the w-token window place
    # interior boundaries; doc 1 mirrors doc 0 exactly.
    passage = " ".join(f"tok{i * 7 % 29}x{i}" for i in range(64))
    base = spark.createDataFrame(
        [(0, passage), (1, passage)], "doc_id long, text string"
    )

    def cross_doc_dups(chunks):
        return (
            chunks.groupBy("chunk_text")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") >= 2)
            .count()
        )

    fixed = D.token_chunks(base).withColumnRenamed("chunk", "chunk_text")
    cdc = D.content_defined_chunks(base)
    assert cross_doc_dups(fixed) > 0, "fixed window must match unshifted mirror"
    n_cdc_unshifted = cross_doc_dups(cdc)
    assert n_cdc_unshifted > 0, "CDC must match unshifted mirror"

    shifted = spark.createDataFrame(
        [(0, passage), (1, "inserted " + passage)], "doc_id long, text string"
    )
    fixed_s = D.token_chunks(shifted).withColumnRenamed("chunk", "chunk_text")
    cdc_s = D.content_defined_chunks(shifted)
    assert cross_doc_dups(fixed_s) == 0, (
        "a one-token shift should blind the fixed window on this corpus"
    )
    assert cross_doc_dups(cdc_s) > 0, "CDC must keep matching after the shift"


def test_incremental_jaccard_is_the_restricted_self_join(spark):
    """incremental_jaccard_counts(batch, corpus) == the full self-join's
    pairs restricted to batch x corpus — the incremental form is a
    partition of the batch-pair space, not a different semantics."""
    docs = load_tables(spark, SF_ORACLE, ["documents"])["documents"]
    batch_docs = docs.filter(F.col("doc_id") % 5 == 0)
    corpus_docs = docs.filter(F.col("doc_id") % 5 != 0)
    bg = D.shingles(batch_docs)
    cg = D.shingles(corpus_docs)
    inc = {
        (r.batch_id, r.corpus_id): (r.n_batch, r.n_corpus, r.common)
        for r in D.incremental_jaccard_counts(bg, cg).collect()
    }
    full = D.jaccard_counts(D.shingles(docs))
    batch_ids = {r.doc_id for r in batch_docs.select("doc_id").collect()}
    want = {}
    for r in full.collect():
        a_in = r.id_a in batch_ids
        b_in = r.id_b in batch_ids
        if a_in == b_in:
            continue  # within-batch / within-corpus pairs: jaccard_counts' job
        if a_in:
            want[(r.id_a, r.id_b)] = (r.n_a, r.n_b, r.common)
        else:
            want[(r.id_b, r.id_a)] = (r.n_b, r.n_a, r.common)
    assert inc == want and inc, (len(inc), len(want))
