"""Proof battery for the r15 tranche (ROADMAP "r15 schedule", staged r13,
REGISTERED r15): doc_perplexity_report, minhash_estimate_error,
temperature_mixture_report, bloom_prefilter_stats, join_key_skew_report.
Same discipline as every staged predecessor: DuckDB oracle compares at two
gate scales, handcrafted semantics tests per operator, pure-Python mirrors
for the novel kernels, and plan gates. Kept after registration — these are
the operators' standing local batteries."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.operators import dedup as D
from retail_aws_etl_pipeline_spark.operators import sampling as SMP
from retail_aws_etl_pipeline_spark.operators import textops as TX
from retail_aws_etl_pipeline_spark.operators.skew import key_skew_census
from retail_aws_etl_pipeline_spark.plans import extensions as E
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle import compare

PAIRS = [
    ("doc_perplexity_report", E.doc_perplexity_report, E.KN_DOC_PERPLEXITY_ORACLE),
    ("minhash_estimate_error", E.minhash_estimate_error, E.MINHASH_ESTIMATE_ORACLE),
    (
        "temperature_mixture_report",
        E.temperature_mixture_report,
        E.TEMPERATURE_MIXTURE_ORACLE,
    ),
    ("bloom_prefilter_stats", E.bloom_prefilter_stats, E.BLOOM_PREFILTER_ORACLE),
    ("join_key_skew_report", E.join_key_skew_report, E.KEY_SKEW_ORACLE),
    ("hll_distinct_report", E.hll_distinct_report, E.HLL_DISTINCT_ORACLE),
    ("hll_overlap_report", E.hll_overlap_report, E.HLL_OVERLAP_ORACLE),
]


@pytest.mark.parametrize("name,fn,oracle", PAIRS, ids=[p[0] for p in PAIRS])
@pytest.mark.parametrize("sf", [SF_SMOKE, SF_ORACLE])
def test_staged_r15_matches_oracle(spark, sf, name, fn, oracle):
    r = compare(fn(spark, sf), oracle, sf)
    assert r["ok"], (name, sf, r)


# --- doc_perplexity_report -------------------------------------------------


def test_log2_ladder_is_exact():
    """The CASE-ladder thresholds reproduce floor(log2(x^2)) for every
    boundary and a dense sweep — pure integer check against math.log2
    on exact powers (log2 of an int is exact when the int is a power
    of two; elsewhere compare against integer bit-length arithmetic)."""
    thr = TX._floor_log2_sq_thresholds()

    def ladder(x: int) -> int:
        return max(t for t, v in enumerate(thr) if x >= v)

    for x in list(range(1, 3000)) + [10**6 - 1, 10**6] + [
        v + d for v in thr for d in (-1, 0, 1) if 1 <= v + d <= 10**6
    ]:
        want = (x * x).bit_length() - 1  # floor(log2(y)) for y >= 1
        assert ladder(x) == want, (x, ladder(x), want)


def test_perplexity_buckets_order_and_unscorable_docs(spark):
    """head (bucket 1) mean log-prob >= tail (bucket 3); documents with
    fewer than 2 tokens are absent (unscorable, the CCNet drop rule)."""
    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),     # repetitive = high-prob pairs
            (2, "a b a b a b c d"),
            (3, "q w e r t y u i"),     # all-singleton transitions
            (4, "one"),                 # unscorable: no pairs
            (5, ""),                    # unscorable
        ],
        ["doc_id", "text"],
    )
    scores = TX.kn_doc_scores(docs)
    rows = {r["doc_id"]: r for r in scores.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["mean_llq_ppm"] >= rows[3]["mean_llq_ppm"]
    assert rows[1]["n_pairs"] == 7


def test_perplexity_plan_has_no_python_and_no_global_window(spark):
    from retail_aws_etl_pipeline_spark.session import load_tables

    docs = load_tables(spark, SF_SMOKE, ["documents"])["documents"]
    plan = TX.kn_doc_scores(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]


# --- minhash_estimate_error -------------------------------------------------


def test_minhash_estimate_exact_on_identical_docs(spark):
    """Identical documents: every signature slot matches (est = 1e6) and
    exact Jaccard = 1e6 — zero error; near-identical docs keep
    est within the k-slot quantization grid."""
    n = 24
    base = " ".join(f"w{i}" for i in range(n))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " extra tail token")],
        ["doc_id", "text"],
    )
    grams = D.shingles(docs)
    rows = {(r.id_a, r.id_b): r for r in D.minhash_estimate_pairs(grams).collect()}
    assert rows[(1, 2)]["est_ppm"] == 1_000_000
    assert rows[(1, 2)]["exact_ppm"] == 1_000_000
    assert rows[(1, 2)]["abs_err_ppm"] == 0
    # est always lies on the k-slot quantization grid
    grid = {s * 1_000_000 // D.NUM_HASHES for s in range(D.NUM_HASHES + 1)}
    for r in rows.values():
        assert r["est_ppm"] in grid, r


def test_minhash_estimate_candidates_equal_banded_pairs(spark):
    """The report's pair set IS the banded candidate set — no pair is
    dropped by the est/exact joins (candidates share a gram by
    construction, so the exact leg is total over candidates)."""
    from retail_aws_etl_pipeline_spark.session import load_tables

    docs = load_tables(spark, SF_SMOKE, ["documents"])["documents"]
    grams = D.shingles(docs).persist()
    try:
        want = {
            (r.id_a, r.id_b)
            for r in D.candidate_pairs(D.lsh_bands(grams)).collect()
        }
        got = {
            (r.id_a, r.id_b) for r in D.minhash_estimate_pairs(grams).collect()
        }
        assert got == want and got
    finally:
        grams.unpersist()


# --- temperature_mixture_report ---------------------------------------------


def test_temperature_quota_arithmetic(spark):
    """Hand-checked tau=2 weights: n = {100, 25, 1} -> w = {10, 5, 1};
    quotas floor(w * 126 / 16); the smallest group is up-sampled
    (rate > 1e6) and the largest down-sampled (rate < 1e6)."""
    rows = [(i, "big") for i in range(100)]
    rows += [(100 + i, "mid") for i in range(25)]
    rows += [(125, "tiny"), (126, None)]  # NULL lang excluded
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = {r["lang"]: r for r in SMP.temperature_quota(docs).collect()}
    assert set(out) == {"big", "mid", "tiny"}
    assert out["big"]["w_sqrt"] == 10
    assert out["mid"]["w_sqrt"] == 5
    assert out["tiny"]["w_sqrt"] == 1
    n_total, w_total = 126, 16
    for lang, n in [("big", 100), ("mid", 25), ("tiny", 1)]:
        r = out[lang]
        assert r["n_docs"] == n
        assert r["quota_docs"] == r["w_sqrt"] * n_total // w_total
        assert r["rate_ppm"] == r["quota_docs"] * 1_000_000 // n
    assert out["tiny"]["rate_ppm"] > 1_000_000  # up-sampled
    assert out["big"]["rate_ppm"] < 1_000_000  # down-sampled
    # quotas never exceed the corpus: sum(floor) <= n_total
    assert sum(r["quota_docs"] for r in out.values()) <= n_total


def test_temperature_flattens_shares(spark):
    """tau=2 moves every group's share toward uniform: the dominant
    group's temperature share is below its natural share, minority
    groups' above — the mT5/XLM-R property this rule exists for."""
    from retail_aws_etl_pipeline_spark.session import load_tables

    docs = load_tables(spark, SF_ORACLE, ["documents"])["documents"]
    rows = SMP.temperature_quota(docs).collect()
    big = max(rows, key=lambda r: r["n_docs"])
    small = min(rows, key=lambda r: r["n_docs"])
    if big["n_docs"] > small["n_docs"]:
        assert big["temp_share_ppm"] <= big["natural_ppm"]
        assert small["temp_share_ppm"] >= small["natural_ppm"]


# --- bloom_prefilter_stats ---------------------------------------------------


def _bloom_mirror(hist_texts, probe_texts):
    """Pure-Python mirror of the Bloom build + probe census."""
    m, k, wb = D.BLOOM_BITS, D.BLOOM_HASHES, D.BLOOM_WORD_BITS
    words = {}
    hist_hashes = set()
    for t in hist_texts:
        h = hashlib.md5(t.encode()).hexdigest()
        hist_hashes.add(h)
        for i in range(k):
            pos = int(h[8 * i : 8 * i + 8], 16) % m
            words[pos // wb] = words.get(pos // wb, 0) | (1 << (pos % wb))
    n_bloom = n_dup = n_fp = n_miss = 0
    for t in probe_texts:
        h = hashlib.md5(t.encode()).hexdigest()
        pos_ok = all(
            words.get((int(h[8 * i : 8 * i + 8], 16) % m) // wb, 0)
            & (1 << ((int(h[8 * i : 8 * i + 8], 16) % m) % wb))
            for i in range(k)
        )
        dup = h in hist_hashes
        n_bloom += pos_ok
        n_dup += dup
        n_fp += pos_ok and not dup
        n_miss += dup and not pos_ok
    s = sum(bin(w).count("1") for w in words.values())
    return {
        "n_probes": len(probe_texts),
        "n_bloom_pos": n_bloom,
        "n_true_dups": n_dup,
        "n_false_pos": n_fp,
        "n_missed_dups": n_miss,
        "bits_set": s,
    }


def test_bloom_census_matches_python_mirror(spark):
    from retail_aws_etl_pipeline_spark.session import load_tables

    docs = load_tables(spark, SF_SMOKE, ["documents"])["documents"]
    texts = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]
    hist = [t for i, t in texts if i % 2 == 0]
    probes = [t for i, t in texts if i % 2 == 1]
    want = _bloom_mirror(hist, probes)
    got = E.bloom_prefilter_stats(spark, SF_SMOKE).collect()[0].asDict()
    for key, v in want.items():
        assert got[key] == v, (key, got, want)
    assert got["n_missed_dups"] == 0  # the structural no-false-negative claim


def test_bloom_detects_planted_duplicate(spark):
    docs = spark.createDataFrame(
        [(0, "the standing corpus doc"), (2, "another standing doc"),
         (1, "the standing corpus doc"), (3, "a genuinely new doc")],
        ["doc_id", "text"],
    )
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    probes = docs.filter(F.col("doc_id") % 2 == 1)
    row = D.bloom_prefilter_census(hist, probes).collect()[0]
    assert row["n_probes"] == 2
    assert row["n_true_dups"] == 1
    assert row["n_missed_dups"] == 0
    assert row["n_bloom_pos"] >= 1
    assert row["bits_set"] <= 2 * D.BLOOM_HASHES


# --- join_key_skew_report ----------------------------------------------------


def test_key_skew_census_on_constructed_skew(spark):
    """One hot key 50x the rest: the census names it, ties in the argmax
    break to the smallest key, NULL keys are excluded."""
    rows = [(7, 1) for _ in range(50)]  # hot key 7
    rows += [(k, 1) for k in range(10, 20)]  # 10 singleton keys
    rows += [(None, 1)] * 5
    df = spark.createDataFrame(rows, ["k1", "v"])
    out = {r["key_family"]: r for r in key_skew_census(df, ["k1"]).collect()}
    r = out["k1"]
    assert r["n_rows"] == 60 and r["n_keys"] == 11
    assert r["top_key"] == 7 and r["max_per_key"] == 50
    assert r["avg_per_key"] == 60 // 11
    assert r["skew_ppm"] == 50 * 1_000_000 // (60 // 11)
    # argmax tie -> smallest key
    tied = spark.createDataFrame(
        [(3, 1), (3, 1), (9, 1), (9, 1)], ["k1", "v"]
    )
    assert key_skew_census(tied, ["k1"]).collect()[0]["top_key"] == 3


def test_key_skew_plan_has_no_window(spark):
    from retail_aws_etl_pipeline_spark.session import load_tables

    li = load_tables(spark, SF_SMOKE, ["lineitem"])["lineitem"]
    plan = (
        key_skew_census(li, ["l_orderkey", "l_partkey"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan and "Python" not in plan, plan[:2000]


def test_bloom_census_plan_quality(spark):
    """The filter word table must reach the probes as a BROADCAST (it is
    <= 32 rows / 128 bytes by construction — a shuffle here would defeat
    the prefilter's point at 100 TB), and nothing in the census plans a
    Window or Python eval. The truth join is deliberately NOT
    broadcast-hinted (the historical hash set is unbounded; AQE decides)."""
    plan = (
        E.bloom_prefilter_stats(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "Window" not in plan and "Python" not in plan, plan[:2000]


# --- hll_distinct_report (deterministic HLL) ---------------------------------


def _hll_mirror(keys):
    """Pure-Python mirror of operators/sketch.py end to end."""
    from retail_aws_etl_pipeline_spark.operators.sketch import (
        HLL_ALPHA_PPM,
        HLL_BUCKETS,
        HLL_LC_TABLE,
        HLL_RHO_CAP,
        HLL_W_BITS,
    )

    regs = {}
    for k in keys:
        h = hashlib.md5(str(k).encode()).hexdigest()
        bucket = int(h[:2], 16)
        w = int(h[2:15], 16)
        rho = (HLL_W_BITS + 1) if w == 0 else HLL_W_BITS - (w.bit_length() - 1)
        rho = min(rho, HLL_RHO_CAP)
        regs[bucket] = max(regs.get(bucket, 0), rho)
    m = HLL_BUCKETS
    if not regs:
        return 0
    rc = max(regs.values())
    d = sum(1 << (rc - r) for r in regs.values()) + (m - len(regs)) * (1 << rc)
    n_big = m * m * (1 << rc)
    e_raw = ((n_big // d) * HLL_ALPHA_PPM + ((n_big % d) * HLL_ALPHA_PPM) // d) // 1_000_000
    v = m - len(regs)
    if v > 0 and 2 * e_raw <= 5 * m:
        return HLL_LC_TABLE[v - 1]
    return e_raw


def test_hll_matches_python_mirror_across_cardinalities(spark):
    """The Spark estimate equals the hashlib mirror bit-for-bit at small
    (LC branch), medium and larger cardinalities — every arithmetic step
    (slice, ladder, clamp, remainder-corrected divide, LC lookup) pinned."""
    from retail_aws_etl_pipeline_spark.operators import sketch as SK

    for n in (1, 7, 150, 2000, 20000):
        keys = [f"k{i}" for i in range(n)]
        df = spark.createDataFrame([(k,) for k in keys], ["k"])
        got = SK.hll_distinct(df, F.col("k")).collect()[0]["hll_estimate"]
        assert got == _hll_mirror(keys), (n, got, _hll_mirror(keys))


def test_hll_rho_ladder_boundaries(spark):
    """Clamped register values at the exact ladder boundaries, through
    the SQL expression itself."""
    from retail_aws_etl_pipeline_spark.operators.sketch import (
        HLL_RHO_CAP,
        HLL_W_BITS,
        hll_rho_sql,
    )

    cases = [
        (0, HLL_RHO_CAP),                # w = 0: 53, clamped
        (1, HLL_RHO_CAP),                # 52 leading zeros, clamped
        (1 << (HLL_W_BITS - 1), 1),      # top bit set: rho 1
        ((1 << HLL_W_BITS) - 1, 1),      # all ones: rho 1
        (1 << (HLL_W_BITS - HLL_RHO_CAP), HLL_RHO_CAP),
        (1 << (HLL_W_BITS - HLL_RHO_CAP + 1), HLL_RHO_CAP - 1),
    ]
    df = spark.createDataFrame([(w,) for w, _ in cases], ["w"])
    got = [
        r[0]
        for r in df.select(F.expr(hll_rho_sql("w")).alias("r")).collect()
    ]
    assert got == [want for _, want in cases], (got, cases)


def test_hll_accuracy_within_envelope(spark):
    """Measured error at the driver gate scale stays inside 3x the
    1.04/sqrt(m) standard error (~20%) on every audited target — the
    claim that makes the cheap path usable at 100 TB."""
    rows = E.hll_distinct_report(spark, SF_ORACLE).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["err_ppm"] <= 200_000, r


def test_hll_build_is_a_bounded_aggregate(spark):
    """The register table is <= 256 rows and the plan carries no Window
    and no Python eval — the sketch's whole point at scale."""
    from retail_aws_etl_pipeline_spark.operators import sketch as SK
    from retail_aws_etl_pipeline_spark.session import load_tables

    docs = load_tables(spark, SF_SMOKE, ["documents"])["documents"]
    regs = SK.hll_registers(docs, F.col("text"))
    assert regs.count() <= SK.HLL_BUCKETS
    plan = (
        E.hll_distinct_report(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan and "Python" not in plan, plan[:2000]


def test_hll_overlap_algebra_and_envelope(spark):
    """Inclusion-exclusion identity holds structurally; the two
    large-overlap targets land within 20% of the exact intersection;
    the deliberately-noisy small-overlap target stays within the
    stacked-error band (|err| bounded by ~3 sigma of the union size)."""
    rows = {r["metric"]: r for r in E.hll_overlap_report(spark, SF_ORACLE).collect()}
    assert len(rows) == 3
    for r in rows.values():
        assert r["est_overlap"] == r["est_a"] + r["est_b"] - r["est_union"]
    for m in ("events.user_id|event_id", "lineitem.l_partkey|l_orderkey"):
        r = rows[m]
        assert r["err_abs"] * 5 <= max(r["exact_overlap"], 1), r
    noisy = rows["documents.text|doc_id"]
    # three stacked estimates: allow 3 * 3 * 1.04/sqrt(m) of the union
    import math

    from retail_aws_etl_pipeline_spark.operators.sketch import HLL_BUCKETS

    band = 9 * 1.04 / math.sqrt(HLL_BUCKETS) * (noisy["exact_a"] + noisy["exact_b"])
    assert noisy["err_abs"] <= band, (noisy, band)


def test_hll_overlap_on_planted_sets(spark):
    """Constructed halves of one frame sharing exactly 60 of 300/240 keys:
    the estimate lands within the stacked envelope of 60; a
    fully-disjoint pair reports a near-zero estimate."""
    from retail_aws_etl_pipeline_spark.operators import sketch as SK

    def overlap(keys_a, keys_b):
        df = spark.createDataFrame(
            [(k, True) for k in keys_a] + [(k, False) for k in keys_b], ["k", "is_a"]
        )
        return SK.hll_overlap_split(df, F.col("k"), F.col("is_a")).collect()[0]

    r = overlap(
        [f"s{i}" for i in range(60)] + [f"a{i}" for i in range(240)],
        [f"s{i}" for i in range(60)] + [f"b{i}" for i in range(180)],
    )
    assert r["est_overlap"] == r["est_a"] + r["est_b"] - r["est_union"]
    assert abs(r["est_overlap"] - 60) <= 0.3 * 540  # stacked-error band
    r0 = overlap([f"x{i}" for i in range(200)], [f"y{i}" for i in range(200)])
    assert abs(r0["est_overlap"]) <= 0.3 * 400


def test_hll_registers_excludes_null_keys(spark):
    """The PUBLIC kernel filters NULL keys itself (ADVICE r13): md5(NULL)
    is NULL and the rho ladder's ELSE clamp would turn the NULL-bucket
    row into register 28, inflating n_present. Registers over a
    NULL-bearing column must equal registers over the pre-filtered
    column, with no NULL bucket row."""
    from retail_aws_etl_pipeline_spark.operators import sketch as SK

    vals = [(f"k{i}",) for i in range(300)] + [(None,)] * 40
    df = spark.createDataFrame(vals, ["k"])
    with_nulls = {
        (r.bucket, r.register)
        for r in SK.hll_registers(df, F.col("k")).collect()
    }
    clean = {
        (r.bucket, r.register)
        for r in SK.hll_registers(
            df.filter(F.col("k").isNotNull()), F.col("k")
        ).collect()
    }
    assert with_nulls == clean and clean
    assert all(b is not None for b, _ in with_nulls)
    # all-NULL input: an empty sketch, estimate 0 (V == m path)
    allnull = spark.createDataFrame([(None,)] * 5, "k string")
    est = SK.hll_distinct(allnull, F.col("k")).collect()[0]["hll_estimate"]
    assert est == 0


def _hll_regs_mirror(keys):
    """(bucket -> register) dict via hashlib — the mirror's front half."""
    from retail_aws_etl_pipeline_spark.operators.sketch import (
        HLL_RHO_CAP,
        HLL_W_BITS,
    )

    regs = {}
    for k in keys:
        h = hashlib.md5(str(k).encode()).hexdigest()
        bucket = int(h[:2], 16)
        w = int(h[2:15], 16)
        rho = (HLL_W_BITS + 1) if w == 0 else HLL_W_BITS - (w.bit_length() - 1)
        regs[bucket] = max(regs.get(bucket, 0), min(rho, HLL_RHO_CAP))
    return regs


def test_hll_est_chain_matches_metric_oracle_arithmetic():
    """ADVICE r13 regression: _hll_est_chain once floored the quotient
    and remainder halves by 1e6 SEPARATELY, drifting 1 low whenever the
    sub-remainders cross a 1e6 boundary (~35% of register states; live
    sf0.1 mismatches: documents.text B-half 2330 vs 2331). The chain now
    shares _hll_e_raw_sql with _hll_metric_oracle — prove it structurally
    (the literal fragment appears in both oracles) and semantically (the
    DuckDB chain equals the sum-first Python mirror at cardinalities
    where the buggy split provably differs)."""
    import duckdb

    from retail_aws_etl_pipeline_spark.operators.sketch import (
        HLL_ALPHA_PPM,
        HLL_BUCKETS,
        hll_rho_sql,
    )
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        _hll_e_raw_sql,
        _hll_est_chain,
    )

    frag = _hll_e_raw_sql(HLL_ALPHA_PPM)
    assert frag in E.HLL_DISTINCT_ORACLE
    assert frag in E.HLL_OVERLAP_ORACLE

    m = HLL_BUCKETS

    def e_raws(n):
        regs = _hll_regs_mirror([f"k{i}" for i in range(n)])
        rc = max(regs.values())
        d = sum(1 << (rc - r) for r in regs.values()) + (m - len(regs)) * (1 << rc)
        n_big = m * m * (1 << rc)
        q, r = divmod(n_big, d)
        correct = (q * HLL_ALPHA_PPM + (r * HLL_ALPHA_PPM) // d) // 1_000_000
        buggy = (q * HLL_ALPHA_PPM) // 1_000_000 + ((r * HLL_ALPHA_PPM) // d) // 1_000_000
        return correct, buggy

    # pick cardinalities (ELSE branch, no LC) where the old split drifts
    drifting = [n for n in range(1500, 2600, 100) if e_raws(n)[0] != e_raws(n)[1]]
    assert drifting, "no boundary-crossing cardinality in sweep — widen it"

    for n in drifting[:3]:
        sql = f"""
        WITH hx AS (
            SELECT md5('k' || CAST(i AS VARCHAR)) AS h
            FROM generate_series(0, {n - 1}) AS t(i)
        ),
        parts AS (
            SELECT CAST(('0x' || substr(h, 1, 2)) AS BIGINT) AS bucket,
                   CAST(('0x' || substr(h, 3, 13)) AS BIGINT) AS w
            FROM hx
        ),
        regs AS (
            SELECT bucket,
                   CAST(MAX({hll_rho_sql('w')}) AS BIGINT) AS register
            FROM parts GROUP BY bucket
        ),
        {_hll_est_chain('regs', 'x')}
        SELECT e FROM x_e
        """
        got = duckdb.connect().execute(sql).fetchone()[0]
        assert got == e_raws(n)[0], (n, got, e_raws(n))
