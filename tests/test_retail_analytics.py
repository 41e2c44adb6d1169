"""Property tests for the r7 retail-analytics constructions.

The sf0.01 DuckDB oracles (tests/test_queries_oracle.py) prove the
registered queries on one dataset; these pin the underlying math on
adversarial small inputs — the NTILE bucket formula against Python's
exact definition (ties, n < buckets, n % buckets edge cases), the
closed-form over-ties Gini against a direct sorted-values computation,
and the scan-side basket pair generation against itertools.
"""

from __future__ import annotations

import itertools

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def _py_ntile(n: int, k: int) -> list[int]:
    """Exact SQL NTILE(k) bucket per 1-based rank over n rows."""
    base, extra = divmod(n, k)
    out = []
    for bucket in range(1, k + 1):
        out.extend([bucket] * (base + (1 if bucket <= extra else 0)))
    return out


@given(
    values=st.lists(st.integers(-50, 50), min_size=1, max_size=60),
    k=st.integers(2, 10),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_distributed_ntile_matches_python(spark, values, k):
    """_distributed_ntile == NTILE-by-definition for any n/k, including
    n < k (empty tail buckets) and heavy ties (broken by the unique id)."""
    from retail_aws_etl_pipeline_spark.plans.analytics import _distributed_ntile

    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r["id"]: r["b"]
        for r in _distributed_ntile(
            df, [F.asc("v"), F.asc("id")], k, "b", partitions=4
        ).collect()
    }
    order = sorted(rows, key=lambda t: (t[1], t[0]))
    want = {row[0]: b for row, b in zip(order, _py_ntile(len(rows), k))}
    assert got == want


@given(counts=st.lists(st.integers(1, 20), min_size=1, max_size=40))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_gini_closed_form_over_ties(counts):
    """The histogram closed form used by partkey_skew_report equals the
    textbook sorted-values Gini: G = (2*sum(i*x_i) - (n+1)*sum(x)) /
    (n*sum(x)) — pure math check, no Spark needed."""
    xs = sorted(counts)
    n, t = len(xs), sum(xs)
    s_direct = sum((i + 1) * x for i, x in enumerate(xs))
    # closed form over the count-of-counts histogram
    from collections import Counter

    hist = sorted(Counter(xs).items())
    prior, s_hist = 0, 0
    for c, m in hist:
        s_hist += c * (m * prior + m * (m + 1) // 2)
        prior += m
    assert s_hist == s_direct
    gini_ppm = (2 * s_hist - (n + 1) * t) * 1_000_000 // (n * t)
    direct = (2 * s_direct - (n + 1) * t) * 1_000_000 // (n * t)
    assert gini_ppm == direct
    assert 0 <= gini_ppm < 1_000_000


def test_affinity_pairs_match_itertools(spark):
    """Scan-side pair generation from sorted basket arrays == itertools
    combinations over the distinct per-order part sets, including
    duplicate lineitems of the same part (collect_set dedup) and the
    basket-size cap."""
    from retail_aws_etl_pipeline_spark.plans.analytics import AFFINITY_MAX_BASKET

    rows = [
        (1, 10), (1, 11), (1, 10),          # dup part in one order
        (2, 10), (2, 11), (2, 12),
        (3, 11),                              # singleton basket: no pairs
        (4, 12), (4, 10),
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    grouped = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") <= AFFINITY_MAX_BASKET)
    )
    pair_structs = F.expr(
        "flatten(transform(parts, (x, i) ->"
        " transform(slice(parts, i + 2, size(parts)), y -> struct(x AS part_a, y AS part_b))))"
    )
    got = sorted(
        (r["part_a"], r["part_b"])
        for r in grouped.select(F.explode(pair_structs).alias("p")).select("p.*").collect()
    )
    want = []
    baskets = {}
    for ok, pk in rows:
        baskets.setdefault(ok, set()).add(pk)
    for parts in baskets.values():
        want.extend(itertools.combinations(sorted(parts), 2))
    assert got == sorted(want)


def test_benford_digit_extraction_edges(spark):
    """Leading-digit extraction is exact at power-of-ten boundaries and
    fractional values — the cases where log10/float floor-division
    formulations diverge between engines."""
    vals = [1.0, 9.999, 10.0, 99.99, 100.0, 1000.0, 999999.99, 1.5, 2.0]
    df = spark.createDataFrame([(v,) for v in vals], "o_totalprice double")
    digit = F.expr(
        "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"
    )
    got = [r[0] for r in df.select(digit).collect()]
    want = [int(str(int(v // 1))[0]) for v in vals]
    assert got == want


def test_kcore_peel_handcrafted(spark):
    """Triangle + pendant tail: the 2-core is exactly the triangle (tail
    peels); a pure path has an EMPTY 2-core; a too-small round budget
    reports n_under_k > 0 instead of silently returning a non-core."""
    from retail_aws_etl_pipeline_spark.operators.dedup import kcore_peel

    tri_tail = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    row = kcore_peel(tri_tail, k=2, rounds=3).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_under_k"]) == (3, 3, 0)

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "id_a long, id_b long"
    )
    row = kcore_peel(path, k=2, rounds=6).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_under_k"]) == (0, 0, 0)

    # 6-node path needs 3 rounds to fully peel from both ends; 1 round
    # must flag non-convergence, not claim an empty core.
    row = kcore_peel(path, k=2, rounds=1).collect()[0]
    assert row["n_under_k"] > 0


@given(
    n=st.integers(2, 14),
    raw_edges=st.lists(st.tuples(st.integers(0, 13), st.integers(0, 13)), max_size=25),
    k=st.integers(2, 4),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_kcore_matches_python_peel(spark, n, raw_edges, k):
    """kcore_peel == a Python reference peel on random graphs (self-loops
    dropped, duplicate edges collapsed), run to the same round budget."""
    from retail_aws_etl_pipeline_spark.operators.dedup import kcore_peel

    edges = {(min(a % n, b % n), max(a % n, b % n)) for a, b in raw_edges}
    edges = {(a, b) for a, b in edges if a != b}
    rounds = 6

    def py_peel(es, kk, budget):
        es = set(es)
        for _ in range(budget):
            deg = {}
            for a, b in es:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {v for v, d in deg.items() if d >= kk}
            nxt = {(a, b) for a, b in es if a in keep and b in keep}
            if nxt == es:
                break
            es = nxt
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        return (len(deg), len(es), sum(1 for d in deg.values() if d < kk))

    want = py_peel(edges, k, rounds)
    df = spark.createDataFrame(
        list(edges) or [(0, 0)], "id_a long, id_b long"
    )
    if not edges:
        df = df.filter("id_a <> id_b")  # empty edge set
    row = kcore_peel(df, k=k, rounds=rounds).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_under_k"]) == want


# ---------------------------------------------------------------------------
# r7 second-half shapes: blocked levenshtein exactness, Q21 aggregate-vs-
# EXISTS equivalence, and the histogram gap-median — each vs a direct
# Python computation on adversarial small inputs.
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    """Textbook Wagner-Fischer levenshtein (reference for the fuzz test)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=12), min_size=2, max_size=12
    ),
    max_dist=st.integers(1, 5),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_edit_distance_blocking_matches_bruteforce(spark, texts, max_dist):
    """Length-bucket blocking + salting + thresholded levenshtein returns
    EXACTLY the brute-force pair set at the threshold — the blocking
    lemma (lev >= |len diff|), the exactly-once pairing rule, and Spark's
    thresholded levenshtein all checked against a Python DP."""
    from retail_aws_etl_pipeline_spark.operators.dedup import edit_distance_pairs

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["edit_distance"]
        for r in edit_distance_pairs(df, max_dist, salt=3).collect()
    }
    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            d = _lev(texts[i], texts[j])
            if d <= max_dist:
                want[(i, j)] = d
    assert got == want


def _write_parquet(path, schema_cols: dict):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(schema_cols), str(path))


@given(
    lines=st.lists(
        st.tuples(
            st.integers(1, 6),  # orderkey
            st.integers(1, 4),  # suppkey
            st.sampled_from(["R", "N", "A"]),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sole_return_suppliers_matches_python_exists(spark, tmp_path_factory, lines):
    """The one-pass aggregate formulation == the oracle's correlated
    EXISTS/NOT-EXISTS semantics, on adversarial shapes the sf corpus may
    not contain (single-supplier orders, all-returned orders, repeated
    R lines from one supplier in one order)."""
    from collections import Counter

    from retail_aws_etl_pipeline_spark.plans import all_specs

    tmp = tmp_path_factory.mktemp("q21")
    _write_parquet(
        tmp / "lineitem.parquet",
        {
            "l_orderkey": [int(o) for o, _, _ in lines],
            "l_suppkey": [int(s) for _, s, _ in lines],
            "l_returnflag": [f for _, _, f in lines],
        },
    )
    supps = sorted({s for _, s, _ in lines})
    _write_parquet(
        tmp / "supplier.parquet",
        {"s_suppkey": supps, "s_name": [f"S{k}" for k in supps]},
    )

    per: dict[tuple[int, int], bool] = {}
    for o, s, f in lines:
        per[(o, s)] = per.get((o, s), False) or (f == "R")
    counts: Counter = Counter()
    for (o, s), ret in per.items():
        if not ret:
            continue
        others = [x for (oo, x) in per if oo == o and x != s]
        if not others or any(per[(o, x)] for x in others):
            continue
        counts[s] += 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    got = [
        (r["s_suppkey"], r["n_sole_return_orders"])
        for r in all_specs()["sole_return_suppliers"].spark_fn(spark, str(tmp)).collect()
    ]
    assert got == [(s, n) for s, n in want]


@given(
    orders=st.lists(
        st.tuples(st.integers(1, 5), st.integers(0, 40)),  # (custkey, day offset)
        min_size=1,
        max_size=25,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_gap_stats_median_matches_python(spark, tmp_path_factory, orders):
    """Histogram lower-median and exact mean of per-customer order gaps ==
    a direct Python computation (ties, single-order customers, duplicate
    order dates tie-broken by orderkey)."""
    import datetime as dt
    from collections import defaultdict

    from retail_aws_etl_pipeline_spark.plans import all_specs

    tmp = tmp_path_factory.mktemp("gaps")
    base = dt.datetime(1995, 1, 1)
    rows = [
        (k, int(c), base + dt.timedelta(days=d)) for k, (c, d) in enumerate(orders)
    ]
    _write_parquet(
        tmp / "orders.parquet",
        {
            "o_orderkey": [r[0] for r in rows],
            "o_custkey": [r[1] for r in rows],
            "o_orderdate": [r[2] for r in rows],
        },
    )
    custs = sorted({c for _, c, _ in rows})
    seg = {c: ("SEG_A" if c % 2 else "SEG_B") for c in custs}
    _write_parquet(
        tmp / "customer.parquet",
        {"c_custkey": custs, "c_mktsegment": [seg[c] for c in custs]},
    )

    by_cust = defaultdict(list)
    for k, c, d in rows:
        by_cust[c].append((d, k))
    gaps_by_seg = defaultdict(list)
    for c, os_ in by_cust.items():
        os_.sort()
        for (d1, _), (d0, _) in zip(os_[1:], os_[:-1]):
            gaps_by_seg[seg[c]].append((d1 - d0).days)
    want = {}
    for s, gaps in gaps_by_seg.items():
        if not gaps:
            continue
        gaps.sort()
        n = len(gaps)
        want[s] = (n, sum(gaps) / n, gaps[(n + 1) // 2 - 1])

    got = {
        r["c_mktsegment"]: (r["n_gaps"], r["avg_gap_days"], r["median_gap_days"])
        for r in all_specs()["customer_order_gap_stats"].spark_fn(spark, str(tmp)).collect()
    }
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="abc", min_size=8, max_size=40), min_size=2, max_size=10
    ),
    max_dist=st.integers(1, 3),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_edit_distance_gram_branch_matches_bruteforce(spark, texts, max_dist):
    """Same exactness fuzz, but method="grams" and sized so pairs cross
    the q*(T+1) split and exercise the Ed-Join gram branch (prefix-index
    candidates + verify), including cross-branch boundary pairs."""
    from retail_aws_etl_pipeline_spark.operators.dedup import edit_distance_pairs

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["edit_distance"]
        for r in edit_distance_pairs(df, max_dist, salt=2, method="grams").collect()
    }
    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            d = _lev(texts[i], texts[j])
            if d <= max_dist:
                want[(i, j)] = d
    assert got == want


def test_edit_distance_methods_agree_on_corpus(spark):
    """bucket and grams methods return the identical pair set on the
    smoke corpus — method is a pure plan choice, never a semantics one."""
    from retail_aws_etl_pipeline_spark.operators.dedup import edit_distance_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {
        (r["doc_a"], r["doc_b"]): r["edit_distance"]
        for r in edit_distance_pairs(docs, 25).collect()
    }
    b = {
        (r["doc_a"], r["doc_b"]): r["edit_distance"]
        for r in edit_distance_pairs(docs, 25, method="grams").collect()
    }
    assert a == b
    assert a, "expected at least one near-dup pair in the smoke corpus"


def test_edit_distance_lsh_is_verified_subset(spark):
    """The LSH-candidate scale path emits ONLY true pairs (exact
    precision — every candidate is DP-verified) and a subset of the
    exact join's output; on the smoke corpus it recalls every pair."""
    from retail_aws_etl_pipeline_spark.operators.dedup import (
        edit_distance_pairs,
        edit_distance_pairs_lsh,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r["doc_a"], r["doc_b"]): r["edit_distance"]
        for r in edit_distance_pairs(docs, 25).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): r["edit_distance"]
        for r in edit_distance_pairs_lsh(docs, 25).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(exact[p] == d for p, d in lsh.items())
    assert exact, "expected near-dup pairs in the smoke corpus"


@given(
    lines=st.lists(
        st.tuples(
            st.integers(1, 5),            # partkey
            st.integers(1, 4),            # suppkey
            st.integers(1, 40),           # quantity
            st.integers(100, 99999),      # extendedprice cents
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_min_cost_argmin_matches_python(spark, tmp_path_factory, lines):
    """The aggregate + join-back-on-(key, min) argmin — including its
    double-equality join (sound because both MINs select from the same
    value set, so the winning double is bit-identical) and the
    min-suppkey tiebreak — matches a direct Python computation."""
    from collections import defaultdict

    from retail_aws_etl_pipeline_spark.plans import all_specs

    tmp = tmp_path_factory.mktemp("argmin")
    _write_parquet(
        tmp / "lineitem.parquet",
        {
            "l_partkey": [p for p, _, _, _ in lines],
            "l_suppkey": [s for _, s, _, _ in lines],
            "l_quantity": [float(q) for _, _, q, _ in lines],
            "l_extendedprice": [c / 100.0 for _, _, _, c in lines],
        },
    )
    parts = sorted({p for p, _, _, _ in lines})
    _write_parquet(
        tmp / "part.parquet",
        {"p_partkey": parts, "p_name": [f"P{k}" for k in parts]},
    )

    unit = defaultdict(list)
    for p, s, q, c in lines:
        unit[(p, s)].append((c / 100.0) / float(q))
    per_ps = {k: min(v) for k, v in unit.items()}
    best = defaultdict(lambda: (float("inf"), None))
    for (p, s), u in per_ps.items():
        cur_u, cur_s = best[p]
        if u < cur_u or (u == cur_u and s < cur_s):
            best[p] = (u, s)
    want = {p: (s, u) for p, (u, s) in best.items()}

    got = {
        r["p_partkey"]: (r["best_suppkey"], r["unit_cost"])
        for r in all_specs()["min_cost_supplier_parts"].spark_fn(spark, str(tmp)).collect()
    }
    assert got == want


def test_edit_distance_pairs_negative_ids_exact(spark):
    """The salted length-bucket join must stay exact for NEGATIVE ids:
    Spark's % keeps the dividend sign, so an `id % S` salt would key
    negative-id rows outside the 0..S-1 probe replicas and silently drop
    their pairs — pmod fixes it (ADVICE r7)."""
    from retail_aws_etl_pipeline_spark.operators.dedup import edit_distance_pairs

    texts = ["aaaa", "aaab", "abab", "bbbb", "aaa", "xyz"]
    rows = [(i - 3, t) for i, t in enumerate(texts)]  # ids -3..2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["edit_distance"]
        for r in edit_distance_pairs(df, 2, salt=3).collect()
    }
    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            d = _lev(texts[i], texts[j])
            if d <= 2:
                a, b = sorted((i - 3, j - 3))
                want[(a, b)] = d
    assert got == want and any(a < 0 for a, _ in got)


def test_gini_staged_ppm_no_overflow_at_scale(spark):
    """The staged x1000 gini_ppm equals floor(num*1e6/den) and survives
    K=100-magnitude operands where the single multiply overflows int64
    under ANSI mode (the bug the K=100 sweep caught)."""
    cases = [
        (1_199_999_987_654_321, 1_200_000_000_000_000),  # ~K=100 magnitudes
        (3, 7),
        (0, 5),
        (999_999_999_999, 1_000_000_000_000),
    ]
    df = spark.createDataFrame(cases, "num long, den long")
    got = [
        r["ppm"]
        for r in df.select(
            F.expr(
                "(num * 1000 div den) * 1000 + ((num * 1000 % den) * 1000) div den"
            ).alias("ppm")
        ).collect()
    ]
    want = [num * 1_000_000 // den for num, den in cases]
    assert got == want


def test_user_sessions_sub_second_gap(spark, tmp_path):
    """A gap of 1800.5 s opens a new session and a gap of exactly 1800 s
    does not — the oracle's ``> INTERVAL 30 MINUTE`` at microsecond
    precision, not whole seconds."""
    from datetime import datetime, timedelta, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from retail_aws_etl_pipeline_spark.plans import all_specs
    from tests.oracle import compare

    t0 = datetime(2025, 6, 2, 8, 0, tzinfo=timezone.utc)
    events = [
        ("u1", t0, 1),
        ("u1", t0 + timedelta(seconds=1800.5), 2),  # new session
        ("u2", t0, 3),
        ("u2", t0 + timedelta(seconds=1800), 4),  # same session
        ("u2", t0 + timedelta(seconds=3600.25), 5),  # 1800.25 s: new session
    ]
    pq.write_table(
        pa.table(
            {
                "user_id": [e[0] for e in events],
                "ts": pa.array([e[1] for e in events], pa.timestamp("us", tz="UTC")),
                "event_id": [e[2] for e in events],
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    spec = all_specs()["user_sessions"]
    df = spec.spark_fn(spark, str(tmp_path))
    got = sorted((r["user_id"], r["session_idx"], r["n_events"]) for r in df.collect())
    assert got == [("u1", 1, 1), ("u1", 2, 1), ("u2", 1, 2), ("u2", 2, 1)]
    result = compare(df, spec.oracle, str(tmp_path))
    assert result["ok"], result
