"""Unit tests: connected-components clustering + dataset curation operators."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.operators.dedup import connected_components
from retail_aws_etl_pipeline_spark.operators.sampling import (
    PACK_CAPACITY,
    SPLIT_BUCKETS,
    with_pack_assignment,
    with_split_assignment,
)


def _labels(spark, pair_list, node_list):
    pairs = spark.createDataFrame(pair_list, ["id_a", "id_b"])
    nodes = spark.createDataFrame([(n,) for n in node_list], ["doc_id"])
    rows = connected_components(pairs, nodes).collect()
    return {r["node"]: r["label"] for r in rows}

def test_cc_chain_converges_to_min(spark):
    # a chain needs multiple propagation rounds — the fixpoint loop matters
    got = _labels(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], [1, 2, 3, 4, 5])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_cc_components_and_singletons(spark):
    got = _labels(spark, [(10, 11), (20, 21), (21, 22)], [10, 11, 20, 21, 22, 30])
    assert got == {10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 30: 30}


def _union_find_labels(n_nodes, edges):
    """Reference: min node id per component via plain union-find."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in range(n_nodes)}


@given(
    n=st.integers(2, 25),
    raw_edges=st.lists(st.tuples(st.integers(0, 24), st.integers(0, 24)), max_size=30),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cc_matches_union_find(spark, n, raw_edges):
    """Pointer-jumped min-label propagation == union-find on random graphs
    (self-loops, duplicate edges, out-of-range refs clipped, singletons)."""
    edges = [(a % n, b % n) for a, b in raw_edges]
    got = _labels(spark, edges or [(0, 0)], list(range(n)))
    want = _union_find_labels(n, edges)
    assert got == want


def test_cc_chain_100_converges_within_log_rounds(spark):
    """A 100-node chain needs ~100 rounds under plain neighbor-min but
    O(log 100) ≈ 7 with the pointer jump — max_iter=25 would raise if the
    jump regressed."""
    chain = [(i, i + 1) for i in range(99)]
    got = _labels(spark, chain, list(range(100)))
    assert got == {i: 0 for i in range(100)}


def test_split_assignment_is_deterministic_and_partitions(spark):
    df = spark.range(500).withColumnRenamed("id", "doc_id")
    a = with_split_assignment(df).collect()
    b = with_split_assignment(df).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_split = {}
    for r in a:
        assert 0 <= r["bucket"] < SPLIT_BUCKETS
        by_split[r["split"]] = by_split.get(r["split"], 0) + 1
    # every split non-empty and ordered train > valid/test
    assert set(by_split) == {"train", "valid", "test"}
    assert by_split["train"] > by_split["valid"]
    assert by_split["train"] > by_split["test"]


def test_pack_assignment_chunks_token_stream(spark):
    # 10 docs of 600 tokens each in one shard: starts at 0,600,1200,...;
    # capacity 2048 → packs 0,0,0,0(1800 start),1(2400),...
    docs = [(i, "x", " ".join(["t"] * 600)) for i in range(10)]
    df = spark.createDataFrame(docs, ["doc_id", "lang", "text"])
    rows = {r["doc_id"]: r for r in with_pack_assignment(df).collect()}
    for i in range(10):
        start = i * 600
        assert rows[i]["start"] == start
        assert rows[i]["pack_id"] == start // PACK_CAPACITY
    # shards pack independently
    two = df.withColumn("lang", F.when(F.col("doc_id") < 5, "a").otherwise("b"))
    rows2 = with_pack_assignment(two).collect()
    assert {r["start"] for r in rows2 if r["lang"] == "b"} == {i * 600 for i in range(5)}


def test_cc_reliable_checkpoint_paths(spark, tmp_path):
    """VERDICT r1 #6: both lineage-truncation modes must produce the same
    labeling, and 'auto' must pick the reliable path once a checkpoint dir
    is configured (executor loss invalidates local checkpoint blocks on a
    real cluster — the reliable path is the long-job default)."""
    chain = [(i, i + 1) for i in range(10)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    nodes = spark.createDataFrame([(n,) for n in range(12)], ["doc_id"])
    expect = {n: (0 if n <= 10 else n) for n in range(12)}

    local = {
        r["node"]: r["label"]
        for r in connected_components(pairs, nodes, checkpoint="local").collect()
    }
    assert local == expect

    sc = spark.sparkContext
    had_dir = sc._jsc.sc().getCheckpointDir().isDefined()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        for mode in ("reliable", "auto"):
            got = {
                r["node"]: r["label"]
                for r in connected_components(pairs, nodes, checkpoint=mode).collect()
            }
            assert got == expect, mode
    finally:
        if not had_dir:
            # pyspark has no unset API; point it at a scratch dir so later
            # tests' "auto" still resolves somewhere writable
            sc.setCheckpointDir(str(tmp_path / "ckpt2"))


def test_mixture_sample_strict_flags_missing_groups(spark):
    """ADVICE r5: by default a weighted group absent from the input is
    dropped from the mixture (ratios hold among the present groups);
    strict=True must instead raise naming the missing groups."""
    import pytest

    from retail_aws_etl_pipeline_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "fr") for i in range(60)], ["doc_id", "lang"]
    )
    weights = {"en": 50, "fr": 40, "xx": 10}
    # default: xx silently dropped; en/fr keep the 50:40 target ratio
    kept = mixture_sample(df, weights=weights).groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in kept}
    assert set(by_lang) == {"en", "fr"}
    assert by_lang["en"] * 4 == by_lang["fr"] * 5  # exact 50:40
    with pytest.raises(ValueError, match=r"\['xx'\]"):
        mixture_sample(df, weights=weights, strict=True)


def test_containment_pairs_catches_asymmetric_quote(spark):
    """A short document embedded verbatim in a long one: containment ≈ 1.0
    must flag the pair even though Jaccard is far below any dedup
    threshold — the metric's reason to exist. Symmetric unrelated docs
    stay unflagged."""
    from retail_aws_etl_pipeline_spark.operators.dedup import (
        containment_pairs,
        jaccard_counts,
        shingles,
    )

    quote = " ".join(f"q{i}" for i in range(12))
    host = " ".join(f"h{i}" for i in range(80)) + " " + quote + " " + " ".join(
        f"t{i}" for i in range(80)
    )
    other = " ".join(f"z{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quote), (2, host), (3, other)], ["doc_id", "text"]
    )
    grams = shingles(df)
    got = containment_pairs(grams, threshold_pct=90).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]
    assert got[0]["containment"] == 1.0
    # the same pair is invisible to a Jaccard-0.2 gate
    jc = jaccard_counts(grams).filter(
        "common * 5 >= (n_a + n_b - common)"
    ).collect()
    assert jc == []


def test_incremental_dedup_partitions_the_pair_space(spark):
    """Cross (batch vs corpus) + within-batch + within-corpus pairs must
    reconstruct EXACTLY the full-corpus Jaccard pair set — incremental
    dedup loses nothing relative to re-running the batch self-join."""
    from retail_aws_etl_pipeline_spark.operators.dedup import (
        incremental_jaccard_counts,
        jaccard_counts,
        shingles,
    )
    from retail_aws_etl_pipeline_spark.plans.extensions import INCR_BATCH_MOD
    from retail_aws_etl_pipeline_spark.session import load_tables
    from tests.conftest import SF_SMOKE

    docs = load_tables(spark, SF_SMOKE, ["documents"])["documents"]
    grams = shingles(docs).persist()
    thr = lambda r, na, nb: r["common"] * 5 >= na + nb - r["common"]  # noqa: E731

    full = {
        (r["id_a"], r["id_b"])
        for r in jaccard_counts(grams).collect()
        if thr(r, r["n_a"], r["n_b"])
    }

    batch = grams.filter(F.col("doc_id") % INCR_BATCH_MOD == 0)
    corpus = grams.filter(F.col("doc_id") % INCR_BATCH_MOD != 0)
    cross = {
        tuple(sorted((r["batch_id"], r["corpus_id"])))
        for r in incremental_jaccard_counts(batch, corpus).collect()
        if thr(r, r["n_batch"], r["n_corpus"])
    }
    within = {
        (r["id_a"], r["id_b"])
        for part in (batch, corpus)
        for r in jaccard_counts(part).collect()
        if thr(r, r["n_a"], r["n_b"])
    }
    assert cross | within == full
    assert cross.isdisjoint(within)


# ---------------------------------------------------------------------------
# Containment prefix filter (PPJoin lemma) vs the exact inverted-index form
# ---------------------------------------------------------------------------


def test_containment_prefix_equals_brute_random(spark):
    """Property: the prefix-filtered containment join returns EXACTLY the
    brute pairs, on a corpus engineered for heavy gram sharing (vocab of
    6 tokens -> dense collisions) including full-containment excerpts."""
    import random

    from retail_aws_etl_pipeline_spark.operators import dedup as D

    rng = random.Random(20260814)
    vocab = ["a", "b", "c", "d", "e", "f"]
    rows = []
    for i in range(60):
        n = rng.randint(6, 30)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # excerpts: doc 100+i is a prefix slice of doc i (guaranteed high
    # containment of the smaller side)
    for i in range(10):
        toks = rows[i][1].split()
        rows.append((100 + i, " ".join(toks[: max(5, len(toks) // 2)])))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    grams = D.shingles(docs).persist()
    brute = sorted(map(tuple, D.containment_pairs(grams, 90).collect()))
    pref = sorted(map(tuple, D.containment_pairs_prefix(grams, 90).collect()))
    grams.unpersist()
    assert brute == pref
    assert brute, "fixture must produce at least one qualifying pair"


def test_containment_prefix_candidates_shrink(spark):
    """The point of the filter: candidate pairs must be a strict subset of
    the sharing pairs the brute join counts — and hot boilerplate grams
    must not appear in any prefix probe."""
    import pyspark.sql.functions as F

    from retail_aws_etl_pipeline_spark.operators import dedup as D
    from retail_aws_etl_pipeline_spark.session import load_tables
    from tests.conftest import SF_ORACLE

    docs = load_tables(spark, SF_ORACLE, ["documents"])["documents"]
    grams = D.shingles(docs).persist()
    a = grams.select(F.col("doc_id").alias("id_a"), "gram")
    b = grams.select(F.col("doc_id").alias("id_b"), "gram")
    sharing = (
        a.join(b, "gram").filter("id_a < id_b").select("id_a", "id_b").distinct()
    )
    cand = D.containment_prefix_candidates(grams, 90)
    n_sharing, n_cand = sharing.count(), cand.count()
    assert n_cand < n_sharing, (n_cand, n_sharing)
    # every candidate IS a sharing pair (soundness of the probe join)
    assert cand.join(sharing, ["id_a", "id_b"], "left_anti").count() == 0
    grams.unpersist()


# ---------------------------------------------------------------------------
# Property tests: span dedup + token-budget selection (round-6 operators)
# ---------------------------------------------------------------------------

_doc_texts = st.lists(
    st.lists(st.sampled_from(list("abcd")), min_size=1, max_size=12).map(" ".join),
    min_size=1,
    max_size=12,
)


@given(texts=_doc_texts, num=st.integers(0, 10))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_token_budget_monotone(spark, texts, num):
    """Budget monotonicity: the num/10 selection is a subset of the
    (num+1)/10 selection, and its token total never exceeds the budget."""
    from retail_aws_etl_pipeline_spark.operators.sampling import token_budget_select

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    total = sum(len(t.split()) for t in texts)
    small = {r["doc_id"] for r in token_budget_select(docs, num, 10).collect()}
    big_rows = token_budget_select(docs, num + 1, 10).collect()
    big = {r["doc_id"] for r in big_rows}
    assert small <= big
    sel_small = token_budget_select(docs, num, 10).collect()
    assert sum(r["n_tokens"] for r in sel_small) * 10 <= total * num


def test_pagerank_matches_python_mirror(spark):
    """Integer PageRank on a handcrafted graph (star + chain + isolated
    node) equals a pure-Python mirror of the same floor-division
    schedule, and the star center outranks leaves."""
    from retail_aws_etl_pipeline_spark.operators.dedup import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_SCALE,
        pagerank_scaled,
    )

    # star: 0-1,0-2,0-3; chain: 4-5; isolated: 6
    raw_edges = [(0, 1), (0, 2), (0, 3), (4, 5)]
    nodes = list(range(7))
    edges = spark.createDataFrame(raw_edges, ["id_a", "id_b"])
    ndf = spark.createDataFrame([(n,) for n in nodes], ["doc_id"])
    got = {
        r["doc_id"]: r["rank_scaled"]
        for r in pagerank_scaled(edges, ndf, iterations=2).collect()
    }

    sym = raw_edges + [(b, a) for a, b in raw_edges]
    deg = {}
    for s, _ in sym:
        deg[s] = deg.get(s, 0) + 1
    rank = {n: PR_SCALE for n in nodes}
    for _ in range(2):
        in_sum = {n: 0 for n in nodes}
        for s, d in sym:
            in_sum[d] += rank[s] // deg[s]
        rank = {
            n: ((PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE) // PR_DAMP_DEN
            + (PR_DAMP_NUM * in_sum[n]) // PR_DAMP_DEN
            for n in nodes
        }
    assert got == rank
    assert got[0] > got[1] == got[2] == got[3]
    # isolated node: teleport term only
    assert got[6] == ((PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE) // PR_DAMP_DEN


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_text_ops_survive_arbitrary_unicode(spark, texts):
    """Crash-and-invariant fuzz over arbitrary unicode (incl. empty
    strings, newlines, RTL, emoji, NULs): budget selection never exceeds
    its budget and fluency-style bigram extraction yields len-2 bigrams."""
    import pyspark.sql.functions as F

    from retail_aws_etl_pipeline_spark.operators.sampling import token_budget_select

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    total = sum(len(t.split(" ")) for t in texts)
    sel = token_budget_select(docs, 5, 10).collect()
    assert sum(r["n_tokens"] for r in sel) * 10 <= total * 5
    bi = docs.select(
        F.explode(F.expr(r"regexp_extract_all(text, '(?=(..))', 1)")).alias("bg")
    ).collect()
    assert all(len(r["bg"]) == 2 for r in bi)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_normalize_text_idempotent(spark, texts):
    """normalize(normalize(x)) == normalize(x) on arbitrary unicode, and
    the output never carries leading/trailing/doubled spaces or C0/DEL
    control characters."""
    import pyspark.sql.functions as F

    from retail_aws_etl_pipeline_spark.operators.textops import normalize_text

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = docs.select(
        normalize_text("text").alias("once"),
        normalize_text(normalize_text("text")).alias("twice"),
    ).collect()
    for r in out:
        assert r["once"] == r["twice"]
        assert r["once"] == r["once"].strip()
        assert "  " not in r["once"]
        assert not any(ord(ch) < 0x20 or ord(ch) == 0x7F for ch in r["once"])
        # the full Unicode White_Space set normalizes to ASCII space
        # (hypothesis found '\xa0' surviving the ASCII-only first cut)
        assert not any(ch.isspace() and ch != " " for ch in r["once"])


def test_triangle_census_known_graphs(spark):
    """K4 (gcc=1), path (0 triangles), star hub (0), empty graph — exact
    node/edge/wedge/triangle counts and ppm coefficient."""
    from retail_aws_etl_pipeline_spark.operators.dedup import triangle_census

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], "id_a long, id_b long"
    )
    row = triangle_census(k4).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (4, 6, 12, 4)
    assert row.gcc_ppm == 1_000_000

    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "id_a long, id_b long")
    row = triangle_census(path).collect()[0]
    assert (row.n_wedges, row.n_triangles, row.gcc_ppm) == (2, 0, 0)

    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "id_a long, id_b long")
    row = triangle_census(star).collect()[0]
    assert (row.n_nodes, row.n_wedges, row.n_triangles) == (6, 10, 0)

    empty = spark.createDataFrame([], "id_a long, id_b long")
    row = triangle_census(empty).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles, row.gcc_ppm) == (
        0, 0, 0, 0, 0,
    )


@given(
    edges=st.sets(
        st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(lambda p: p[0] != p[1]),
        max_size=30,
    )
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_triangle_census_matches_bruteforce(spark, edges):
    """Degree-oriented census equals the O(n^3) Python brute force on
    arbitrary small graphs (duplicate orientations canonicalized)."""
    from itertools import combinations

    from retail_aws_etl_pipeline_spark.operators.dedup import triangle_census

    canon = sorted({(min(a, b), max(a, b)) for a, b in edges})
    if not canon:
        return
    eset = set(canon)
    nodes = sorted({n for e in canon for n in e})
    tri = sum(
        1
        for u, v, w in combinations(nodes, 3)
        if (u, v) in eset and (u, w) in eset and (v, w) in eset
    )
    deg = {n: 0 for n in nodes}
    for a, b in canon:
        deg[a] += 1
        deg[b] += 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    df = spark.createDataFrame(canon, "id_a long, id_b long")
    row = triangle_census(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        len(nodes), len(canon), wedges, tri,
    )
    assert row.gcc_ppm == (0 if wedges == 0 else 3 * tri * 1_000_000 // wedges)


def test_iterative_operators_handle_empty_graphs(spark):
    """The fused observe()-probe path (r9) must not deadlock or misfire
    on EMPTY inputs — the shape the historical AQE empty-relation
    Observation bug lived in (see validate.resolve_counts). Both
    iterative operators take the empty-edge path: CC labels every node a
    singleton, k-core returns the zero row; and an
    AQE-proven-empty mid-plan frame still populates its observed metrics
    (sum over nothing -> None, handled by each convergence test)."""
    from pyspark.sql import functions as F

    from retail_aws_etl_pipeline_spark.operators.dedup import (
        _truncate_lineage_observed,
        connected_components,
        kcore_peel,
    )

    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    nodes = spark.range(5).select(F.col("id").alias("doc_id"))
    cc = sorted((r.node, r.label) for r in connected_components(empty_pairs, nodes).collect())
    assert cc == [(i, i) for i in range(5)]
    row = kcore_peel(empty_pairs, k=2).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_under_k) == (0, 0, 0)

    aqe_empty = (
        spark.range(1000).withColumn("k", F.col("id") % 7).filter("id < 0").groupBy("k").count()
    )
    _, m = _truncate_lineage_observed(aqe_empty, "local", F.sum("count").alias("n"))
    assert m["n"] is None


def test_perceptron_census_recounts_only_a_pruned_observation(spark, monkeypatch):
    """The per-round census falls back to an explicit recount only for the
    pruned-Observation assertion (validate._is_pruned_observation); any
    other failure from ``Observation.get`` propagates instead of paying a
    silent extra corpus pass."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import Observation

    from retail_aws_etl_pipeline_spark.operators import sampling as SMP

    rows = [
        (1, "good words here", "en"),
        (2, "mauvais mots ici", "fr"),
        (3, "more good words", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    feats = SMP.perceptron_features(docs, F.col("lang") == "en")
    want = SMP.perceptron_fit_trace(feats, rounds=2)

    jvm = spark.sparkContext._jvm
    with pytest.raises(Py4JJavaError) as pruned:
        jvm.org.apache.spark.sql.api.python.PythonSQLUtils.toPyRow(
            jvm.org.apache.spark.sql.Row.empty()
        )

    def failing_get(exc):
        def get(self):
            raise exc

        return property(get)

    monkeypatch.setattr(Observation, "get", failing_get(pruned.value))
    assert SMP.perceptron_fit_trace(feats, rounds=2) == want

    monkeypatch.setattr(Observation, "get", failing_get(RuntimeError("boom")))
    with pytest.raises(RuntimeError, match="boom"):
        SMP.perceptron_fit_trace(feats, rounds=2)
