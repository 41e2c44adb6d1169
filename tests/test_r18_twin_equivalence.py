"""Recount pins for registered queries:

1. corpus_snapshot_diff's status census == independent set algebra
   (anti/semi/inner joins) instead of its FULL OUTER CASE.
2. term_drift_report's smoothed-ratio top-k == exact Fraction arithmetic
   over the (term, half) document-frequency frame.
3. sketch_accuracy_stats' percentile_disc closed form == the discrete
   definition recomputed from the raw value histogram.
4. exif_orientation_probe's embedded TIFF block parses to the same dims
   through probe_image_dims (both endians, byte-level pin).
5. normalized_dedup_gain's raw md5-distinct leg == a recount of the
   md5(text) group frame.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.session import load_tables
from tests.conftest import SF_ORACLE


def test_corpus_snapshot_diff_census_via_set_algebra(spark):
    """Pairing #1's victim: the FULL-OUTER status CASE == independent
    anti/semi/inner-join set algebra on the same two snapshot frames
    (counts and min/max ids per status)."""
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        corpus_snapshot_diff,
    )

    want = {
        r["status"]: (r["n_docs"], r["min_doc_id"], r["max_doc_id"])
        for r in corpus_snapshot_diff(spark, SF_ORACLE).collect()
    }

    docs = load_tables(spark, SF_ORACLE, ["documents"])["documents"]
    new_snap = docs.select("doc_id", F.md5("text").alias("h"))
    old_main = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" OLD")))
            .otherwise(F.col("text"))
        ).alias("h"),
    )
    old_extra = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), F.md5("text").alias("h")
    )
    old_snap = old_main.unionByName(old_extra)

    def census(frame):
        r = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        ).collect()[0]
        return (r["n"], r["lo"], r["hi"])

    added = new_snap.join(old_snap.select("doc_id"), "doc_id", "left_anti")
    removed = old_snap.join(new_snap.select("doc_id"), "doc_id", "left_anti")
    both = new_snap.alias("n").join(
        old_snap.alias("o"), F.col("n.doc_id") == F.col("o.doc_id")
    )
    changed = both.filter(F.col("n.h") != F.col("o.h")).select(F.col("n.doc_id"))
    unchanged = both.filter(F.col("n.h") == F.col("o.h")).select(F.col("n.doc_id"))

    got = {
        "added": census(added),
        "removed": census(removed),
        "changed": census(changed),
        "unchanged": census(unchanged),
    }
    got = {k: v for k, v in got.items() if v[0] > 0}
    assert got == want and "changed" in got


def test_term_drift_topk_is_the_exact_fraction_recount(spark):
    """Pairing #2's victim: the smoothed-ratio top-50 == an exact
    Fraction recount over the (term, half) df frame — greatest of the
    two smoothed direction ratios, ties to the lexicographically
    smallest term."""
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        _DRIFT_TOP_K,
        term_drift_report,
    )

    want = [
        (r["term"], r["df_a"], r["df_b"])
        for r in term_drift_report(spark, SF_ORACLE).collect()
    ]

    docs = load_tables(spark, SF_ORACLE, ["documents"])["documents"]
    df_rows = (
        docs.select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("df_a"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("df_b"),
        )
        .collect()
    )
    n = docs.agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0)).alias("n_b"),
    ).collect()[0]
    na, nb = n["n_a"], n["n_b"]
    scored = []
    for r in df_rows:
        ab = Fraction((r["df_a"] + 1) * (nb + 1), (r["df_b"] + 1) * (na + 1))
        ba = 1 / ab
        scored.append((max(ab, ba), r["term"], r["df_a"], r["df_b"]))
    scored.sort(key=lambda x: (-x[0], x[1]))
    got = [(t, a, b) for _, t, a, b in scored[:_DRIFT_TOP_K]]
    # sf0.01 yields fewer distinct terms than the top-k cap — the pin is
    # the full ranked list, not the cap
    assert got == want and got


def test_sketch_accuracy_percentiles_are_the_discrete_definition(spark):
    """Pairing #3's victim: p50/p90/p99 == the percentile_disc
    definition (smallest value whose cumulative count covers q*n)
    recomputed from the raw value histogram in Python."""
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        sketch_accuracy_stats,
    )

    want = {
        r["l_returnflag"]: (r["p50"], r["p90"], r["p99"], r["n"])
        for r in sketch_accuracy_stats(spark, SF_ORACLE).collect()
    }

    li = load_tables(spark, SF_ORACLE, ["lineitem"])["lineitem"]
    hist = (
        li.groupBy("l_returnflag", "l_extendedprice")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    by_flag: dict[str, list] = {}
    for r in hist:
        by_flag.setdefault(r["l_returnflag"], []).append(
            (r["l_extendedprice"], r["c"])
        )
    got = {}
    for flag, vals in by_flag.items():
        vals.sort()
        n = sum(c for _, c in vals)

        def disc(num: int, den: int) -> object:
            cum = 0
            for v, c in vals:
                cum += c
                if cum * den >= num * n:
                    return v
            raise AssertionError("quantile fell off the histogram")

        got[flag] = (disc(1, 2), disc(9, 10), disc(99, 100), n)
    assert got == want and set(got) == {"A", "N", "R"}


def test_exif_embedded_tiff_parses_identically_in_both_probes(spark):
    """Pairing #4's victim, byte-level: the EXIF payload's embedded TIFF
    block (payload[12:] — SOI + APP1 marker + length + 'Exif\\0\\0')
    walks to the SAME dims through probe_image_dims as the EXIF probe's
    own IFD scan reports, under BOTH byte orders, and the orientation
    follows the id formula. Both probes rest on the same dual-endian
    IFD walk: probe_image_dims' TIFF branch."""
    from retail_aws_etl_pipeline_spark.operators import multimodal as MM

    ids = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    payloads = {
        r["media_id"]: bytes(r["payload"])
        for r in MM.synth_exif_media(ids, "doc_id").collect()
    }
    probed = {
        r["media_id"]: (r["byte_order"], r["orientation"], r["width"], r["height"])
        for r in MM.probe_exif_meta(MM.synth_exif_media(ids, "doc_id")).collect()
    }
    assert set(payloads) == set(range(8))
    for mid, payload in payloads.items():
        order, orient, w, h = probed[mid]
        assert order == ("II" if mid % 2 == 0 else "MM")
        assert orient == 1 + mid % 8
        kind, tw, th = MM.probe_image_dims(payload[12:])
        assert (kind, tw, th) == ("tiff", w, h), mid


def test_normalized_dedup_gain_is_the_md5_group_recount(spark):
    """Pairing #5's victim: both distinct legs == group-frame size
    recounts — the raw leg over the SAME md5(text) group frame the
    source-priority census argmins over, the normalized leg over
    md5(normalize_text(text))."""
    from retail_aws_etl_pipeline_spark.operators.textops import normalize_text
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        normalized_dedup_gain,
    )

    r = normalized_dedup_gain(spark, SF_ORACLE).collect()[0]
    docs = load_tables(spark, SF_ORACLE, ["documents"])["documents"]
    raw_groups = docs.groupBy(F.md5("text").alias("h")).count()
    norm_groups = docs.groupBy(F.md5(normalize_text("text")).alias("h")).count()
    assert r["n_docs"] == docs.count()
    assert r["n_distinct_raw"] == raw_groups.count()
    assert r["n_distinct_normalized"] == norm_groups.count()
    assert r["n_distinct_normalized"] <= r["n_distinct_raw"]
