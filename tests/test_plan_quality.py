"""Physical-plan quality gates: the optimizations the 100 TB design relies
on must actually appear in the executed plans (SURVEY.md §4, SCALING.md).

These are regression tests for plan SHAPE, not results: column pruning at
the parquet scan, predicate pushdown, broadcast dimension joins, rank-limit
pushdown (WindowGroupLimit), and whole-stage codegen coverage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.plans import all_specs

REGISTRY = all_specs()
from retail_aws_etl_pipeline_spark.session import load_tables
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_prunes_columns(spark):
    """daily_revenue touches 3 of lineitem's 16 columns — the scan must
    read exactly those (ReadSchema pruning)."""
    df = REGISTRY["daily_revenue"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    read_schema = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    for col in ("l_shipdate", "l_extendedprice", "l_discount"):
        assert col in read_schema
    for col in ("l_comment", "l_orderkey", "l_partkey", "l_quantity"):
        assert col not in read_schema, f"unpruned column {col}: {read_schema}"


def test_filter_pushes_down_to_scan(spark):
    t = load_tables(spark, SF_SMOKE, ["lineitem"])
    df = t["lineitem"].filter(F.col("l_returnflag") == "R").select("l_orderkey")
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = next(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    assert "l_returnflag" in pushed, pushed


def test_dimension_joins_broadcast(spark):
    """region_revenue's nation/region joins must be broadcast, not
    shuffled sort-merge."""
    plan = _plan(REGISTRY["region_revenue"].spark_fn(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_topk_per_group_uses_window_group_limit(spark):
    """rank<=3 filter over the window must push into WindowGroupLimit
    (partial per-partition top-k before the shuffle)."""
    plan = _plan(REGISTRY["top_customers_per_nation"].spark_fn(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_global_topk_plans_take_ordered(spark):
    """orderBy + limit must plan TakeOrderedAndProject, never a full sort."""
    plan = _plan(REGISTRY["top_items"].spark_fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_agg_queries_stay_in_codegen(spark):
    """The hot aggregate path must be inside WholeStageCodegen (no
    interpreted row-at-a-time fallback in the main pipeline)."""
    for name in ("daily_revenue", "pricing_summary"):
        df = REGISTRY[name].spark_fn(spark, SF_SMOKE)
        # AQE prints codegen spans only in the FINAL plan — execute THIS
        # df's own queryExecution first (a sink executes a copy). Codegen
        # stages appear as "*(n) Operator" markers in the plan text.
        df.collect()
        plan = _plan(df)
        assert "isFinalPlan=true" in plan, f"{name}: {plan[:500]}"
        starred = [ln for ln in plan.splitlines() if ln.lstrip("+- ").startswith("*(")]
        assert any("HashAggregate" in ln for ln in starred), f"{name}: {plan[:1500]}"


def test_q6_filters_push_to_scan(spark):
    """forecast_revenue's tight conjunctive predicate must reach the
    parquet scan as pushed filters (the query is a scan+agg at scale)."""
    plan = _plan(REGISTRY["forecast_revenue"].spark_fn(spark, SF_SMOKE))
    pushed = next(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed


def test_part_dimension_joins_broadcast(spark):
    """promo/brand queries join the fact to the part dim — must broadcast,
    never shuffle the fact side."""
    for name in ("promo_revenue_ratio", "brand_quantity_revenue"):
        plan = _plan(REGISTRY[name].spark_fn(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, f"{name}: {plan[:2000]}"


def test_exists_plans_left_semi(spark):
    """Q4-style correlated EXISTS must plan LeftSemi with the inequality
    as a join condition (no row multiplication, no post-join dedup)."""
    plan = _plan(REGISTRY["priority_order_counts"].spark_fn(spark, SF_SMOKE))
    assert "LeftSemi" in plan, plan[:2000]


def test_anti_join_shape(spark):
    """Q22-style NOT EXISTS must plan LeftAnti."""
    plan = _plan(REGISTRY["dormant_rich_customers"].spark_fn(spark, SF_SMOKE))
    assert "LeftAnti" in plan, plan[:2000]


def test_near_dup_lsh_gemm_no_driver_collect(spark, monkeypatch):
    """Same guarantee for the sub-quadratic LSH-bucketed GEMM path."""
    from pyspark.sql import DataFrame

    calls: list[str] = []
    orig_collect = DataFrame.collect
    monkeypatch.setattr(
        DataFrame, "collect", lambda self: (calls.append("collect"), orig_collect(self))[1]
    )
    df = REGISTRY["near_dup_pairs_lsh"].spark_fn(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    assert not calls


def test_ivf_centroid_fit_is_sampled(spark):
    """ivf_centroids must collect only the systematic sample, not the
    corpus: with sample_mod=4 the driver sees ~N/4 vectors."""
    from retail_aws_etl_pipeline_spark.operators import similarity as S

    t = load_tables(spark, SF_SMOKE, ["embeddings"])
    n = t["embeddings"].count()
    sampled = S.with_quantized(t["embeddings"]).filter(F.pmod(F.col("vec_id"), F.lit(4)) == 0)
    assert sampled.count() <= n // 4 + 1
    cents = S.ivf_centroids(t["embeddings"], sample_mod=4)
    assert len(cents) == S.IVF_CENTROIDS
    # parity with the oracle-side pyarrow fit
    import os

    cents_pq = S.ivf_centroids_from_parquet(
        os.path.join(SF_SMOKE, "embeddings.parquet"), sample_mod=4
    )
    assert cents == cents_pq


def test_ivf_default_sample_mod_bounds_driver_collect(spark):
    """The DEFAULT fit must never collect an unbounded corpus: sample_mod
    auto-derives as ceil(N / IVF_FIT_TARGET_ROWS), so the driver matrix is
    capped at ~IVF_FIT_TARGET_ROWS vectors at any corpus size, and the
    Spark and pyarrow default fits agree on the same corpus."""
    import os

    from retail_aws_etl_pipeline_spark.operators import similarity as S

    # the shared derivation itself: ≤ target → full corpus; above → capped
    assert S._auto_sample_mod(1) == 1
    assert S._auto_sample_mod(S.IVF_FIT_TARGET_ROWS) == 1
    assert S._auto_sample_mod(S.IVF_FIT_TARGET_ROWS + 1) == 2
    big = 250 * S.IVF_FIT_TARGET_ROWS
    assert S._auto_sample_mod(big) == 250
    # sampled row count under the derived mod stays ≈ target (dense ids)
    assert big // S._auto_sample_mod(big) <= S.IVF_FIT_TARGET_ROWS

    t = load_tables(spark, SF_SMOKE, ["embeddings"])
    cents_default = S.ivf_centroids(t["embeddings"])
    n = t["embeddings"].count()
    assert cents_default == S.ivf_centroids(t["embeddings"], sample_mod=S._auto_sample_mod(n))
    cents_pq = S.ivf_centroids_from_parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
    assert cents_default == cents_pq


def test_mixture_sample_plan_shape(spark):
    """corpus_mixture_sample: quota joined by BROADCAST (never a shuffled
    join against the tiny per-group quota), the per-group rank is the only
    wide exchange on the data path, and the scan prunes `text`."""
    from retail_aws_etl_pipeline_spark.operators.sampling import mixture_sample

    t = load_tables(spark, SF_SMOKE, ["documents"])
    df = mixture_sample(t["documents"]).select("doc_id", "lang")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # column pruning: no branch of the plan reads the text payload
    assert "text" not in plan


def test_customer_spend_deciles_no_global_window(spark):
    """The r6 rewrite (VERDICT r5 #2): every Window in the executed plan
    must carry a partition spec — the physical form is
    `Window [exprs], [partitionSpec], [orderSpec]`; an unpartitioned
    (single-task) window prints only `Window [exprs], [orderSpec]`. Also:
    the rank-offset joins stay broadcast (one tiny triangular BNLJ + the
    1-row total cross join), never a shuffled join."""
    import re

    df = REGISTRY["customer_spend_deciles"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    # r16: the rank core dropped its Window entirely — the local record
    # number comes from monotonically_increasing_id over the locally
    # sorted range partitions, so the plan must show NO Window at all
    # (a fortiori no single-task global window) and, critically, no
    # second exchange re-hashing the ranged frame by __pid.
    assert not re.search(r"\bWindow \[", plan), "rank path regrew a Window"
    assert "monotonically_increasing_id" in plan
    # the only surviving hashpartitioning(__pid) exchange is the tiny
    # per-partition counts groupBy (<= `partitions` pre-aggregated rows);
    # the full-frame re-shuffle fed a Window that no longer exists, so a
    # Sort keyed by __pid (the Window's required ordering) must be gone
    assert not re.search(r"Sort \[__pid", plan), (
        "full-frame __pid sort regrew — the Window-feeding exchange is back"
    )
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_dedup_retained_corpus_partitions_the_corpus(spark):
    """Survivors are exactly one per cluster: their count equals the
    distinct cluster count of near_dup_clusters, every survivor is its
    own cluster id, and survivors + removed == corpus."""
    retained = REGISTRY["dedup_retained_corpus"].spark_fn(spark, SF_SMOKE)
    clusters = REGISTRY["near_dup_clusters"].spark_fn(spark, SF_SMOKE)
    n_docs = clusters.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    rows = retained.collect()
    assert len(rows) == n_clusters
    surviving_ids = {r["doc_id"] for r in rows}
    canonical_ids = {
        r["cluster_id"] for r in clusters.select("cluster_id").distinct().collect()
    }
    assert surviving_ids == canonical_ids
    removed = n_docs - len(rows)
    assert removed == sum(r["cluster_size"] - 1 for r in rows)


def test_bm25_multi_plan_shape(spark):
    """bm25_multi_query_topk: the term table joins by BROADCAST (never
    shuffled against the token stream), per-query ranking pushes into
    WindowGroupLimit, and the scan prunes to doc_id + text."""
    df = REGISTRY["bm25_multi_query_topk"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    read_schema = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "text" in read_schema and "lang" not in read_schema


def test_semantic_dedup_anti_join_on_cluster(spark):
    """SemDeDup's drop test must plan as a LEFT ANTI join keyed on
    cluster_id (blocked candidate space), never a cartesian product."""
    df = REGISTRY["semantic_dedup_retained"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "LeftAnti" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_token_budget_selection_no_global_window(spark):
    """The running token total must come from the distributed form: every
    Window in the executed plan carries a partition spec keyed on the
    range-partition id (same gate as customer_spend_deciles), and the
    prefix-offset joins stay broadcast."""
    import re

    df = REGISTRY["token_budget_selection"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    windows = [ln for ln in plan.splitlines() if re.search(r"\bWindow \[", ln)]
    assert windows, "expected the per-partition running-sum Window"
    for ln in windows:
        assert len(re.findall(r"\], \[", ln)) >= 2, f"unpartitioned Window: {ln.strip()[:200]}"
        assert "__pid" in ln, f"Window not keyed by partition id: {ln.strip()[:200]}"
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_tfidf_top_terms_plan(spark):
    """Keyword ranking must push the rank filter into WindowGroupLimit,
    the df model joins by broadcast, scan pruned to doc_id + text."""
    df = REGISTRY["tfidf_top_terms"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    read_schema = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "text" in read_schema and "lang" not in read_schema


def test_cluster_topic_terms_plan(spark):
    """c-TF-IDF labeling: per-cluster top-k goes through WindowGroupLimit
    (rank filter pushed into the window), the one-row cluster count
    arrives via broadcast, and the documents scan prunes to doc_id+text."""
    df = REGISTRY["cluster_topic_terms"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    doc_schema = next(ln for ln in schemas if "text" in ln)
    assert "lang" not in doc_schema and "source" not in doc_schema


def test_late_interaction_plan_shape(spark):
    """MaxSim: per-query top-k through WindowGroupLimit, no shuffled
    join anywhere (term vectors are inlined literals), and the documents
    scan prunes to doc_id + text."""
    df = REGISTRY["late_interaction_topk"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    read_schema = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "text" in read_schema and "lang" not in read_schema


def test_maxsim_token_vectors_match_python(spark):
    """The Spark md5-derived token vectors equal the Python derivation
    the query inlines for its term literals — the contract that makes
    doc-side and query-side vectors live in the same space."""
    import hashlib

    from retail_aws_etl_pipeline_spark.plans.extensions import (
        MAXSIM_DIM,
        _tokvec_exprs_spark,
    )

    words = ["dup", "stream", "Ünïcode", "x"]
    df = spark.createDataFrame([(w,) for w in words], ["word"])
    got = {
        r["word"]: [r[f"v{d}"] for d in range(MAXSIM_DIM)]
        for r in df.select("word", *_tokvec_exprs_spark("word")).collect()
    }
    for w in words:
        want = [
            int(hashlib.md5(f"{w}:{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000
            for d in range(MAXSIM_DIM)
        ]
        assert got[w] == want, w


def test_customer_rfm_segments_no_global_window(spark):
    """All three quartile assignments go through _distributed_ntile. r16:
    the rank core is window-free (local sort + monotonically_increasing_id
    record numbers over the range partitions), so the plan must show no
    Window at all — a fortiori no single-task global window — and no
    hashpartitioning(__pid) re-exchange of the ranged frames."""
    import re

    df = REGISTRY["customer_rfm_segments"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert not re.search(r"\bWindow \[", plan), "rank path regrew a Window"
    assert "monotonically_increasing_id" in plan
    # the only surviving hashpartitioning(__pid) exchange is the tiny
    # per-partition counts groupBy (<= `partitions` pre-aggregated rows);
    # the full-frame re-shuffle fed a Window that no longer exists, so a
    # Sort keyed by __pid (the Window's required ordering) must be gone
    assert not re.search(r"Sort \[__pid", plan), (
        "full-frame __pid sort regrew — the Window-feeding exchange is back"
    )
    # The rank-offset/total joins inside each ntile pass stay broadcast;
    # the three score columns rejoin the customer base on c_custkey —
    # keyed equi-joins (sort-merge is the correct scale plan there), and
    # nothing unkeyed: every SortMergeJoin in the plan is on c_custkey.
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "SortMergeJoin" in ln:
            assert "c_custkey" in ln, f"unexpected SMJ key: {ln.strip()[:200]}"


def test_item_affinity_plan_shape(spark):
    """Basket self-join stays a keyed equi-join (no cartesian on the data
    path — the only cross join is the broadcast 1-row basket total), and
    the scan prunes everything but (orderkey, partkey)."""
    df = REGISTRY["item_affinity_pairs"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    for col in ("l_extendedprice", "l_comment", "l_shipdate"):
        assert col not in plan, f"scan not pruned: reads {col}"


def test_sequential_item_rules_plan_shape(spark):
    """The order-sequence window partitions by customer (keyed, never a
    global window); basket joins are equi-joins; the only cross join is
    the broadcast 1-row transition total."""
    import re

    df = REGISTRY["sequential_item_rules"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    windows = [ln for ln in plan.splitlines() if re.search(r"\bWindow \[", ln)]
    assert windows
    for ln in windows:
        assert "o_custkey" in ln, f"sequence window not keyed: {ln.strip()[:200]}"
    assert "CartesianProduct" not in plan
    for col in ("l_extendedprice", "l_comment"):
        assert col not in plan, f"scan not pruned: reads {col}"


def test_daily_revenue_gapfill_zero_reads_and_spine(spark):
    """Gap days really read zero and the spine is complete: every date in
    [min, max] appears exactly once, cum_revenue is monotone, and the
    sum of daily revenue equals the final cumulative value."""
    df = REGISTRY["daily_revenue_gapfill"].spark_fn(spark, SF_SMOKE)
    rows = df.collect()
    dates = [r["date"] for r in rows]
    assert len(dates) == len(set(dates)) == (dates[-1] - dates[0]).days + 1
    assert all(r["revenue"] == 0.0 for r in rows if r["is_gap"] == 1)
    cums = [r["cum_revenue"] for r in rows]
    assert all(a <= b for a, b in zip(cums, cums[1:]))
    total = sum(r["revenue"] for r in rows)
    assert abs(total - cums[-1]) < 1e-6 * max(1.0, abs(total))


# ---------------------------------------------------------------------------
# r7 second-half (150-cap fill) plan gates
# ---------------------------------------------------------------------------


def test_local_supplier_volume_pushes_date_and_broadcasts_dims(spark):
    """Q5 shape: the two-year window must reach the orders parquet scan
    (PushedFilters on o_orderdate) and nation/region must join broadcast;
    no cartesian anywhere in the 6-way join."""
    df = REGISTRY["local_supplier_volume"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "o_orderdate" in ln]
    assert pushed, "o_orderdate range not pushed to the orders scan"
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_product_type_profit_pushes_type_filter(spark):
    """Q9 shape: the p_type IN filter must prune the part scan before the
    join (PushedFilters), and the lineitem scan must not read l_comment /
    l_returnflag."""
    df = REGISTRY["product_type_profit"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "p_type" in ln]
    assert pushed, "p_type filter not pushed to the part scan"
    for col in ("l_comment", "l_returnflag", "l_tax"):
        assert col not in plan, f"scan not pruned: reads {col}"


def test_sole_return_suppliers_topk_and_no_subquery_scans(spark):
    """Q21 shape: the EXISTS/NOT-EXISTS pair is rewritten into keyed
    aggregates — the executed plan has no broadcast-nested-loop or
    cartesian (the correlated form would), and the top-20 rides
    TakeOrderedAndProject."""
    df = REGISTRY["sole_return_suppliers"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for col in ("l_extendedprice", "l_comment", "l_quantity"):
        assert col not in plan, f"scan not pruned: reads {col}"


def test_customer_order_gap_stats_windows_are_keyed_or_histogram(spark):
    """The raw-row window partitions by customer; the cumulative median
    window partitions by segment but runs over the segment x gap-days
    HISTOGRAM (bounded by the calendar span) — every Window line must
    carry a partition spec."""
    import re

    df = REGISTRY["customer_order_gap_stats"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    windows = [ln for ln in plan.splitlines() if re.search(r"\bWindow \[", ln)]
    assert windows
    for ln in windows:
        assert ("o_custkey" in ln) or ("c_mktsegment" in ln), (
            f"unkeyed window: {ln.strip()[:200]}"
        )


def test_edit_distance_pairs_salted_equi_join(spark):
    """The blocked levenshtein join must be a salted EQUI-join on
    (bucket, salt) — no cartesian / nested-loop candidate generation —
    and the verify must use the thresholded builtin levenshtein
    (JVM-side, no BatchEvalPython)."""
    # The exact blocked kernel is the reference the LSH production path
    # (edit_distance_near_pairs_lsh) is tested against; it stays gated.
    from retail_aws_etl_pipeline_spark.operators.dedup import edit_distance_pairs

    docs = load_tables(spark, SF_SMOKE, ["documents"])["documents"]
    df = edit_distance_pairs(docs, 25, salt=8).orderBy("doc_a", "doc_b")
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    assert "salt_l" in plan and "salt_r" in plan, "salted join keys missing"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # The verify-parallelism fix: the left side must reach the join via a
    # user-pinned (REPARTITION_BY_NUM) hash exchange on (bucket, salt) —
    # without the explicit count, AQE coalesces the few-MB exchange back
    # to ONE partition and the O(len x T) verify runs single-task
    # (measured 43 s -> 4.5 s at sf0.1; SCALING.md blocking study).
    assert any(
        "REPARTITION_BY_NUM" in ln and "bkt_l" in ln and "salt_l" in ln
        for ln in plan.splitlines()
        if "Exchange" in ln
    ), "pinned (bucket, salt) repartition missing from the executed plan"


def test_edit_distance_lsh_banded_equi_join(spark):
    """The PRODUCTION edit-distance path (r8 window entry) must generate
    candidates through the banded MinHash EQUI-join — no cartesian /
    nested-loop stage anywhere — and verify with the thresholded builtin
    levenshtein (JVM-side, no Python eval)."""
    df = REGISTRY["edit_distance_near_pairs_lsh"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_jsonl_corpus_stats_single_scan(spark):
    """The JSONL stats entry must aggregate the classify_jsonl_lines frame
    in ONE pass: exactly one FileScan of the source (the good/reject
    union-of-aggregates form measured 3 — one per audit branch, the
    re-scan pattern that triples a 100 TB ingest), from_json native
    (no Python eval), and one shuffle for the keyed aggregate."""
    df = REGISTRY["jsonl_corpus_stats"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("FileScan") == 1, f"expected 1 scan:\n{plan[:3000]}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "from_json" in plan


def _physical_node_names(df) -> list[str]:
    """Operator names of the executed plan's own tree: AQE wrappers are
    unwrapped, and a cache scan's stored plan (an inner child, not a
    child) is not descended into."""
    names, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName().startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        names.append(node.nodeName())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return names


def test_quality_split_reads_one_persisted_lineage(spark, tmp_path):
    """split_quality's good and rejects outputs are projections of ONE
    persisted labeled frame: each optimized plan reads exactly one
    InMemoryRelation, so the silver write fills the cache and the reject
    sinks re-read it; the rejects projection adds no shuffle of its own."""
    from retail_aws_etl_pipeline_spark.operators.validate import split_quality
    from retail_aws_etl_pipeline_spark.sources.reader import read_flexible_csv

    path = tmp_path / "sales.csv"
    path.write_text(
        "transaction_id,store_id,timestamp,item_id,quantity,unit_price,revenue\n"
        "T1,S1,2024-10-16 14:30:25,I1,2,1.00,2.00\n"
        "T1,S1,2024-10-16 14:30:25,I1,2,1.00,2.00\n"
        "T2,S1,bad,I2,1,1.00,1.00\n"
    )
    extracted, _ = read_flexible_csv(spark, str(path))
    split = split_quality(extracted, ingest_run_id="plan", source_file="sales.csv")
    try:
        assert len(split.cached) == 1
        for df in (split.good, split.rejects):
            optimized = df._jdf.queryExecution().optimizedPlan().toString()
            assert optimized.count("InMemoryRelation") == 1, optimized
        nodes = _physical_node_names(split.rejects)
        assert "InMemoryTableScan" in nodes, nodes
        assert not any("Exchange" in n for n in nodes), nodes
    finally:
        for df in split.cached:
            df.unpersist()


def _sales_csv(path, n_rows: int, seed: int) -> str:
    """A dirty ``;``-delimited sales file of ``n_rows`` lines over three
    days: mixed timestamp formats, unparseable timestamps, short rows,
    dirty currency and repeated lines."""
    import random

    rng = random.Random(seed)
    lines = ["transaction_id;store_id;timestamp;item_id;quantity;unit_price;revenue;customer_id"]
    for i in range(n_rows):
        day = 16 + i % 3
        ts = rng.choice([f"2024-10-{day} 1{i % 10}:05:00", f"10/{day}/2024", "bad-ts"])
        q, p = rng.randint(1, 5), rng.randint(100, 999) / 100
        line = f"T{seed}_{i};S{i % 7};{ts};I{i % 50};{q};${p:,.2f};{q * p:.2f};C{i % 90}"
        lines.append(line if i % 97 else f"T{i};S1")
        if i % 211 == 0:
            lines.append(line)
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return str(path)


def _count_send_commands(monkeypatch, fn):
    """(fn's result, py4j commands the calling thread sends while fn runs).
    py4j's finalizer thread sends the deferred frees of dead JavaObjects
    whenever it wakes; those are not ``fn``'s plan building and are not
    counted."""
    import threading

    from py4j.clientserver import ClientServerConnection

    me = threading.get_ident()
    sent = [0]
    orig = ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += threading.get_ident() == me
        return orig(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    try:
        out = fn()
    finally:
        monkeypatch.setattr(ClientServerConnection, "send_command", orig)
    return out, sent[0]


def test_lake_path_py4j_round_trips_are_bounded(spark, tmp_path, monkeypatch):
    """Building the lake path's plans costs a few hundred py4j round trips,
    not thousands: per 4k-row ``ingest_file`` ≤450 and per
    ``compact_pending`` ≤250 (warm; one of each runs first). Guards the
    call-site capture switch (``session.get_spark``), the SQL-text
    projections and the schema-declared reads."""
    from retail_aws_etl_pipeline_spark.ingest import ingest_file
    from retail_aws_etl_pipeline_spark.lake import LakeLayout
    from retail_aws_etl_pipeline_spark.operators.compact import compact_pending

    counts = {}
    for i in range(2):
        lake = LakeLayout(str(tmp_path / f"lake{i}"))
        path = _sales_csv(tmp_path / f"sales_{i}.csv", 4_000, seed=i)
        r, counts["ingest"] = _count_send_commands(
            monkeypatch, lambda: ingest_file(spark, path, lake, archive=False)
        )
        assert r.status == "ok" and r.counts["good_rows"] > 2_000, r
        s, counts["compact"] = _count_send_commands(
            monkeypatch, lambda: compact_pending(spark, lake)
        )
        assert s["processed_partitions_count"] == 3, s
    assert counts["ingest"] <= 450, counts
    assert counts["compact"] <= 250, counts


def test_read_flexible_csv_submits_no_spark_job(spark, tmp_path):
    """The dialect sniff reads the file head on the driver: building the
    extracted frame submits no Spark job (the first action does)."""
    from retail_aws_etl_pipeline_spark.sources.reader import read_flexible_csv

    path = _sales_csv(tmp_path / "sales.csv", 200, seed=3)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    extracted, meta = read_flexible_csv(spark, path)
    assert set(tracker.getJobIdsForGroup()) == before
    assert meta.delimiter == ";" and meta.missing_required == []
    assert extracted.count() == 201  # 200 lines + one repeat; header dropped
    assert set(tracker.getJobIdsForGroup()) != before  # the tracker does see jobs


@pytest.mark.parametrize("commit", ["direct", "manifest"])
def test_read_silver_submits_no_spark_job(spark, tmp_path, commit):
    """A silver written by ``ingest_file`` conforms to SILVER_SCHEMA under
    either commit protocol, so ``read_silver`` declares it: building the
    frame submits no footer-inference job (the first action does)."""
    from retail_aws_etl_pipeline_spark.ingest import ingest_file
    from retail_aws_etl_pipeline_spark.lake import LakeLayout
    from retail_aws_etl_pipeline_spark.operators.compact import read_silver

    lake = LakeLayout(str(tmp_path / "lake"), commit=commit)
    path = _sales_csv(tmp_path / "sales.csv", 200, seed=3)
    result = ingest_file(spark, path, lake, archive=False, write_reject_csv=False)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    silver = read_silver(spark, lake)
    assert set(tracker.getJobIdsForGroup()) == before
    assert silver.count() == result.counts["good_rows"] > 0
    assert set(tracker.getJobIdsForGroup()) != before  # the tracker does see jobs
