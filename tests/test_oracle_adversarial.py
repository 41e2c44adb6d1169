"""Adversarial-corpus oracle compares.

The fixed testdata corpora are well-behaved; the oracle-pair bug classes
ADVICE keeps finding (unescaped quotes in generated SQL literals, NULL
grouping divergence, int32 wrap) only bite on hostile content. This
suite synthesizes a deterministic adversarial documents table — quotes,
backslashes, unicode, newlines/paragraph breaks, empty and
whitespace-only docs, regex metacharacters, C4/Gopher trigger phrases,
NULL lang/source — and runs the documents-only oracle pairs through the
same three-way compare the driver uses.
"""

from __future__ import annotations

import os
import random

import pytest

from retail_aws_etl_pipeline_spark.plans import all_specs
from tests.oracle import compare

_WORDS = [
    "the", "data", "alpha", "beta", "Ünïcode", "naïve", "日本語", "中文",
    "it's", "o'brien", "a\\b", 'say_"hi"', "{brace}", "(paren)", "a.b?c",
    "x" * 300, "lorem", "ipsum", "javascript", "bullet", "point", "und",
    "1234", "...", "…", "der", "und", "la", "el", "—", "•",
]

_TRICKY_DOCS = [
    "",  # empty
    "   ",  # whitespace-only
    "one",  # single token
    "it's o'brien's 'quoted' word",  # single quotes everywhere
    'he said "hello" \\ backslash',  # double quotes + backslash
    "line one.\nline two!\n\npara two? ends.",  # newlines + paragraphs
    "日本語 テスト 中文 测试 mixed ascii",  # CJK
    "dup dup dup dup dup dup dup dup",  # heavy repetition
    "lorem ipsum filler {code} here",  # C4 page-gate triggers
    "ends without terminal punct",
    "- bullet line\n- another bullet\nreal sentence here.",
    # >2,147 distinct tokens: any int32 `size(...) * 1000000` multiply
    # wraps (or crashes under ANSI) on this doc while the BIGINT oracle
    # is exact — locks the quality_by_length_decile / :7749 bug class.
    " ".join(f"w{i}" for i in range(2500)),
]


@pytest.fixture(scope="module")
def adversarial_dir(tmp_path_factory):
    rng = random.Random(0xC0FFEE)
    rows = []
    for i, t in enumerate(_TRICKY_DOCS):
        rows.append((i, t, "en", "fuzz", len(t)))
    for i in range(len(_TRICKY_DOCS), 64):
        n = rng.randint(1, 40)
        text = " ".join(rng.choice(_WORDS) for _ in range(n))
        if rng.random() < 0.25:
            text = text.replace(" ", "\n", 1)
        lang = rng.choice(["en", "de", "fr", "es", "zh", None])
        source = rng.choice(["web", "books", None])
        rows.append((i, text, lang, source, len(text)))
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("advfuzz"))
    # single FILE like the driver's testdata (DuckDB reads the same path)
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    return out


#: Registered documents-only pairs whose oracles are corpus-generic
#: (fit-literal/pinned oracles excluded by construction).
_REGISTERED = [
    "doc_lang_id",
    "doc_quality",
    "gopher_quality_report",
    "cdc_chunk_dedup",
    "tokenizer_fertility_by_lang",
    "dedup_signal_report",
    "doc_winnowing",
    "pii_scrub_stats",
    "benchmark_contamination",
    "quality_top_half_per_lang",
    "simhash_near_pairs",
    "ngram_jaccard_pairs",
    # ADVICE r12 sibling-site fixes, battery-locked: BIGINT-first multiply
    # (needs the 2,500-distinct-token doc) and NULL-lang/source-excluded
    # distinct counts (needs the NULL lang/source rows).
    "quality_by_length_decile",
    "corpus_shuffle_batches",
    # r13 registrations (documents-only, corpus-generic oracles): the
    # rule batteries + span/retention/KN/manifest kernels face the
    # hostile corpus from their first driver round.
    "gopher_repetition_report",
    "duplicated_span_report",
    "c4_clean_report",
    "dedup_retained_by_quality",
    "ngram_lm_report",
    "training_shard_manifest",
    # r14 registrations that read corpus TEXT (the sitemap pair and the
    # media probes synthesize payloads from doc_id alone, so the hostile
    # text cannot reach them): the perceptron oracle unrolls the FULL
    # training in SQL, so it is corpus-generic and trains on the hostile
    # corpus's hashed features here. unigram_lm_report is deliberately
    # NOT listed — its oracle embeds sf0.01-fitted piece-score literals
    # (the _ivf_oracle discipline), i.e. a fit-literal/pinned oracle
    # excluded by construction; its at-scale proof is the refit-oracle
    # hash run (scripts/unigram_refit_proof.py).
    "quality_classifier_report",
    # r15 documents-side registrations (corpus-generic oracles):
    # empty/whitespace docs exercise the perplexity kernel's no-pair
    # drop and the Bloom/minhash gram paths, NULL lang the temperature
    # report's mixing exclusion, the 2,500-distinct-token doc the
    # correlated-series oracles. hll_distinct_report is registered but
    # reads three tables (documents+lineitem+events), so it gets its own
    # tri-table hostile battery below instead of this documents-only one.
    "doc_perplexity_report",
    "minhash_estimate_error",
    "temperature_mixture_report",
    "bloom_prefilter_stats",
    # r16 documents-side registrations (corpus-generic oracles):
    # quote/backslash docs exercise the affix and n-gram string keys
    # through both engines' literal paths, empty/whitespace docs the
    # short-doc guards, NULL lang/source the keyed-census exclusions,
    # the 2,500-distinct-token doc the correlated-series n-gram
    # oracles. hll_overlap_report is registered but reads three
    # tables (documents+lineitem+events), so it joins
    # hll_distinct_report's tri-table hostile battery below instead.
    "badwords_filter_report",
    "ngram_diversity_report",
    "template_affix_report",
    "corpus_snapshot_delta",
    "langid_confusion_report",
]


@pytest.mark.parametrize("name", _REGISTERED)
def test_registered_pair_survives_adversarial_corpus(spark, adversarial_dir, name):
    spec = all_specs()[name]
    assert spec.oracle is not None
    r = compare(spec.spark_fn(spark, adversarial_dir), spec.oracle, adversarial_dir)
    assert r["ok"], (name, r)


@pytest.fixture(scope="module")
def adversarial_events_dir(tmp_path_factory):
    """Hostile events table: exact (user, ts) ties (tiebreak determinism),
    NULL user/type/value/props, malformed and wrong-typed props JSON,
    single-event users, -0.0 and extreme values, unknown event types."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(0xBEEF)
    base = datetime(2024, 3, 1, 12, 0, 0)
    types = ["click", "view", "purchase", "signup", "error", "weird_type", None]
    props_pool = [
        '{"k": 3}', '{"k": -7}', '{"k": 0}', "{}", None, "not json",
        '{"k": "str"}', '{"other": 1}', '{"k": 9223372036854775807}',
        '{"k": 2, "j": "it\'s \\"quoted\\""}',
        # decimal-number k (ADVICE r12): DuckDB TRY_CAST('1.5' AS BIGINT)
        # rounds to 2 while Spark try_cast yields NULL — the integral-
        # pattern guard must exclude it on BOTH sides.
        '{"k": 1.5}', '{"k": -2.5}', '{"k": "007"}', '{"k": " 5"}',
        '{"k": 1e3}',
    ]
    rows = []
    for i in range(96):
        # pockets of exact ties: groups of 3 share a timestamp
        ts = base.replace(minute=(i // 3) % 60, second=(i // 9) % 60)
        user = rng.choice([None, 1, 2, 3, 4, 5])
        rows.append(
            (
                i,
                ts,
                user,
                rng.choice(types),
                rng.choice([None, 0.0, -0.0, 1.5, -2.25, 1e12, 1e-9, 42.0]),
                rng.choice(props_pool),
            )
        )
    rows.append((96, base, 99, "click", 1.0, '{"k": 1}'))  # single-event user
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    out = str(tmp_path_factory.mktemp("advevents"))
    pq.write_table(table, os.path.join(out, "events.parquet"))
    return out


_EVENT_PAIRS = [
    "user_event_pivot",
    "user_sessions",
    "event_value_mad_outliers",
    "hopping_event_rollup",
    "event_pairs_within_window",
    # exact user/ts ties: the (ts, event_id) tiebreak of the per-user
    # window orderings must be deterministic on both engines.
    "weekly_retention_cohorts",
    "user_rolling_hour",
    "conversion_funnel",
]


@pytest.mark.parametrize("name", _EVENT_PAIRS)
def test_event_pair_survives_adversarial_corpus(spark, adversarial_events_dir, name):
    spec = all_specs()[name]
    assert spec.oracle is not None
    r = compare(
        spec.spark_fn(spark, adversarial_events_dir),
        spec.oracle,
        adversarial_events_dir,
    )
    assert r["ok"], (name, r)


@pytest.fixture(scope="module")
def adversarial_embeddings_dir(adversarial_dir):
    """Hostile embeddings alongside the adversarial documents (shared
    dir so doc-joining queries align): a ZERO vector (norm 0 — the
    cosine division hazard), exact duplicates, all-negative, and
    boundary-magnitude components."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(0xD1CE)
    dim = 16
    vecs = []
    for i in range(64):
        if i == 7:
            v = [0.0] * dim  # zero vector: qnorm == 0
        elif i == 11:
            # ZERO-LENGTH vector (ADVICE r12): the Spark fold used to
            # aggregate an empty array to 0L and set every sign bit
            # (bucket 2^B-1) while DuckDB's NULL list_sum gave bucket 0.
            v = []
        elif i == 8:
            v = [-1.0] * dim
        elif i in (9, 10):
            v = [0.25] * dim  # exact duplicate pair
        else:
            v = [round(rng.uniform(-2, 2), 4) for _ in range(dim)]
        vecs.append(v)
    table = pa.table(
        {
            "vec_id": pa.array(range(64), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([i % 4 for i in range(64)], pa.int32()),
        }
    )
    pq.write_table(
        table, os.path.join(adversarial_dir, "embeddings.parquet")
    )
    return adversarial_dir


@pytest.mark.parametrize("name", ["embedding_norm_stats", "near_dup_pairs_lsh"])
def test_embedding_pair_survives_adversarial_corpus(
    spark, adversarial_embeddings_dir, name
):
    spec = all_specs()[name]
    assert spec.oracle is not None
    r = compare(
        spec.spark_fn(spark, adversarial_embeddings_dir),
        spec.oracle,
        adversarial_embeddings_dir,
    )
    assert r["ok"], (name, r)


@pytest.fixture(scope="module")
def adversarial_retail_dir(tmp_path_factory):
    """Hostile lineitem + orders: NULL ship/order dates, negative and
    zero prices, discounts outside [0, 1], exact o_totalprice ties
    across priorities, NULL flags — plausible dirty-feed content for the
    retail aggregate/percentile surface."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(0xFEED)
    out = str(tmp_path_factory.mktemp("advretail"))

    li = []
    for i in range(120):
        ship = (
            None
            if i % 17 == 0
            else datetime(2023, 1 + i % 12, 1 + i % 28, i % 24, 0, 0)
        )
        li.append(
            (
                # NULL join keys every 19th/23rd row: a NULL key never
                # routes to a join — the skew census must exclude it on
                # both engines (r13 staged battery).
                None if i % 19 == 0 else i // 3,
                None if i % 23 == 0 else i % 11,
                i % 7,
                i % 4,
                rng.choice([0.0, 1.0, 49.0, -3.0, 1e6]),
                rng.choice([0.0, -120.5, 999999.99, 0.01, 123456.789]),
                rng.choice([0.0, 0.05, 1.0, 1.5, -0.25]),
                rng.choice([0.0, 0.08, 0.9]),
                rng.choice(["A", "N", "R", None]),
                rng.choice(["O", "F", None]),
                ship,
            )
        )
    names = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    ]
    types = [
        pa.int64(), pa.int64(), pa.int64(), pa.int32(), pa.float64(),
        pa.float64(), pa.float64(), pa.float64(), pa.string(), pa.string(),
        pa.timestamp("us"),
    ]
    pq.write_table(
        pa.table(
            {n: pa.array([r[j] for r in li], t) for j, (n, t) in enumerate(zip(names, types))}
        ),
        os.path.join(out, "lineitem.parquet"),
    )

    orders = []
    for i in range(60):
        # exact totalprice ties across priorities; NULL date pockets
        orders.append(
            (
                i,
                i % 9,
                rng.choice(["O", "F", "P", None]),
                rng.choice([100.0, 100.0, -5.25, 0.0, 7777.77]),
                None if i % 13 == 0 else datetime(2023, 1 + i % 12, 1 + i % 28),
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", None]),
            )
        )
    onames = [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ]
    otypes = [
        pa.int64(), pa.int64(), pa.string(), pa.float64(),
        pa.timestamp("us"), pa.string(),
    ]
    pq.write_table(
        pa.table(
            {n: pa.array([r[j] for r in orders], t) for j, (n, t) in enumerate(zip(onames, otypes))}
        ),
        os.path.join(out, "orders.parquet"),
    )
    return out


_RETAIL_PAIRS = [
    "daily_revenue",
    "top_items",
    "pricing_summary",
    # the skew census faces the NULL-key lineitem here.
    "join_key_skew_report",
    "decimal_money_totals",
    # the orders-side surface (negative prices, exact totalprice ties,
    # NULL order dates) through the per-customer LEAD over orders.
    "sequential_item_rules",
]


@pytest.mark.parametrize("name", _RETAIL_PAIRS)
def test_retail_pair_survives_adversarial_corpus(spark, adversarial_retail_dir, name):
    spec = all_specs()[name]
    assert spec.oracle is not None
    r = compare(
        spec.spark_fn(spark, adversarial_retail_dir),
        spec.oracle,
        adversarial_retail_dir,
    )
    assert r["ok"], (name, r)


def test_bloom_census_at_the_bit_word_boundary(spark, tmp_path):
    """VERDICT r14 item #8: an adversarial word set AT the 32-bit word
    boundary. Tokens are searched deterministically (same md5 position
    formula as the kernel) so that every standing document plants at
    least one probe position with pos % 32 in {0, 31} — the first/last
    bit of a filter word, where a wrong shift direction, an off-by-one
    in the word index split, or sign trouble in `1 << 31` on an INT
    word would flip membership. The census must still hash-match the
    oracle and hold the no-false-negative invariant."""
    import hashlib

    from retail_aws_etl_pipeline_spark.operators.dedup import (
        BLOOM_BITS,
        BLOOM_HASHES,
        BLOOM_WORD_BITS,
    )
    from retail_aws_etl_pipeline_spark.plans import extensions as E

    def positions(text: str) -> list[int]:
        h = hashlib.md5(text.encode()).hexdigest()
        return [
            int(h[8 * i : 8 * i + 8], 16) % BLOOM_BITS
            for i in range(BLOOM_HASHES)
        ]

    # Deterministic search: texts whose probe set touches a word edge.
    edge_texts = []
    i = 0
    while len(edge_texts) < 12:
        t = f"edge candidate {i}"
        if any(p % BLOOM_WORD_BITS in (0, BLOOM_WORD_BITS - 1) for p in positions(t)):
            edge_texts.append(t)
        i += 1

    rows = []
    # Even ids = standing half; make every edge text a planted dup by
    # mirroring it at an odd id (doc_id parity is the split convention).
    for j, t in enumerate(edge_texts):
        rows.append((2 * j, t, "en", "edge", len(t)))
        rows.append((2 * j + 1, t, "en", "edge", len(t)))
    # Fresh odd-id probes that must NOT be missed dups; some share a
    # word index with the planted edges (same pos // 32) to stress the
    # word-level bit_or merge.
    for k in range(8):
        rows.append((2 * len(edge_texts) + 2 * k + 1,
                     f"fresh probe {k}", "en", "edge", 10))

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "length": pa.array([r[4] for r in rows], pa.int64()),
            }
        ),
        os.path.join(out, "documents.parquet"),
    )
    r = compare(E.bloom_prefilter_stats(spark, out), E.BLOOM_PREFILTER_ORACLE, out)
    assert r["ok"], r
    row = E.bloom_prefilter_stats(spark, out).collect()[0]
    assert row["n_true_dups"] == len(edge_texts)
    assert row["n_missed_dups"] == 0  # structural: Bloom has no false negatives


def test_key_skew_census_under_pathological_single_key(spark, tmp_path):
    """VERDICT r14 item #8: pathological single-key skew — one orderkey
    owns ~90% of the fact rows (the shape that melts an unsalted
    shuffle). The census must agree with the oracle AND surface the hot
    key with the right ppm ratio; ties between equally-hot keys resolve
    to the smallest key on both engines."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from retail_aws_etl_pipeline_spark.plans import extensions as E

    rows = []
    for i in range(180):
        rows.append((7, i % 5, i % 3))  # the hot orderkey
    for i in range(20):
        rows.append((100 + i, 50 + i, 30 + i))
    # two more suppkey groups well below the max, so the max-count tie
    # is the three-way 60/60/60 among suppkeys 0/1/2 from the hot block
    rows += [(9999, 9999, 1000)] * 10 + [(9998, 9998, 1001)] * 10

    out = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
                "l_suppkey": pa.array([r[2] for r in rows], pa.int64()),
            }
        ),
        os.path.join(out, "lineitem.parquet"),
    )
    r = compare(E.join_key_skew_report(spark, out), E.KEY_SKEW_ORACLE, out)
    assert r["ok"], r
    got = {x["key_family"]: x for x in E.join_key_skew_report(spark, out).collect()}
    assert got["l_orderkey"]["top_key"] == 7
    assert got["l_orderkey"]["max_per_key"] == 180
    # skew ppm = max / floor-avg in ppm: 220 rows over 23 keys gives
    # floor-avg 9, so the hot family reads exactly 180/9 = 20x
    assert got["l_orderkey"]["skew_ppm"] == 20 * 1_000_000
    # deterministic argmax: suppkeys 0/1/2 tie at 60 rows each and the
    # single-buffer argmax must resolve to the SMALLEST key on both engines
    assert got["l_suppkey"]["max_per_key"] == 60
    assert got["l_suppkey"]["top_key"] == 0


def test_hll_distinct_report_survives_hostile_tri_table(spark, tmp_path):
    """hll_distinct_report registered at r15 reads three tables, so the
    documents-only battery can't carry it; this tri-table corpus packs
    its hostile cases: NULL keys in every target column (excluded from
    rows AND registers on both engines), duplicate-heavy text (exact
    distinct far below rows), a single-user events table (distinct = 1,
    the near-empty-register regime where the linear-counting branch and
    its integer table are live), and unicode/quote keys through the
    md5(CAST ... AS VARCHAR) leg."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from retail_aws_etl_pipeline_spark.plans import extensions as E

    out = str(tmp_path)
    texts = (["same doc body"] * 40) + [None] * 5 + [
        "naïve 日本語 'quoted' \\slash", "second", "third",
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        os.path.join(out, "documents.parquet"),
    )
    partkeys = [None if i % 7 == 0 else i % 13 for i in range(90)]
    pq.write_table(
        pa.table({"l_partkey": pa.array(partkeys, pa.int64())}),
        os.path.join(out, "lineitem.parquet"),
    )
    users = [None if i % 11 == 0 else 42 for i in range(50)]
    pq.write_table(
        pa.table({"user_id": pa.array(users, pa.int64())}),
        os.path.join(out, "events.parquet"),
    )

    r = compare(E.hll_distinct_report(spark, out), E.HLL_DISTINCT_ORACLE, out)
    assert r["ok"], r
    got = {x["metric"]: x for x in E.hll_distinct_report(spark, out).collect()}
    # NULL exclusion: n_rows counts only non-NULL keys on both engines
    assert got["documents.text"]["n_rows"] == 43
    assert got["events.user_id"]["exact_distinct"] == 1
    # single-key regime: linear counting must land exactly
    assert got["events.user_id"]["hll_estimate"] == 1


def test_hll_overlap_report_survives_hostile_tri_table(spark, tmp_path):
    """hll_overlap_report registered at r16 reads the same three tables
    as hll_distinct_report, so it gets its own tri-table corpus packing
    the overlap-specific hostile cases: NULL keys (excluded from rows
    AND registers), NULL SPLIT keys (NULL % 2 lands in NEITHER parity
    half on both engines — the silent-drop class the oracle must
    mirror), a single-user events table where BOTH halves sit in the
    one-register linear-counting regime and inclusion-exclusion must
    land exactly, and unicode/quote keys through the md5 leg."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from retail_aws_etl_pipeline_spark.plans import extensions as E

    out = str(tmp_path)
    doc_ids = list(range(48)) + [None] * 3
    texts = (
        ["same doc body"] * 40
        + [None] * 5
        + ["naïve 日本語 'quoted' \\slash", "even only doc", "odd only doc"]
        + ["null split doc"] * 3
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(doc_ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        os.path.join(out, "documents.parquet"),
    )
    orderkeys = [i for i in range(90)] + [None] * 4
    partkeys = [None if i % 7 == 0 else i % 13 for i in range(90)] + [1, 2, 3, 4]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(orderkeys, pa.int64()),
                "l_partkey": pa.array(partkeys, pa.int64()),
            }
        ),
        os.path.join(out, "lineitem.parquet"),
    )
    event_ids = list(range(50)) + [None] * 2
    users = [None if i % 11 == 0 else 42 for i in range(50)] + [99, 99]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(event_ids, pa.int64()),
                "user_id": pa.array(users, pa.int64()),
            }
        ),
        os.path.join(out, "events.parquet"),
    )

    r = compare(E.hll_overlap_report(spark, out), E.HLL_OVERLAP_ORACLE, out)
    assert r["ok"], r
    got = {x["metric"]: x for x in E.hll_overlap_report(spark, out).collect()}
    ev = got["events.user_id|event_id"]
    # the NULL-event_id user-99 rows land in NEITHER half: both halves
    # hold exactly user 42, and every estimate sits in the one-register
    # linear-counting regime, so inclusion-exclusion is exact
    assert (ev["exact_a"], ev["exact_b"], ev["exact_overlap"]) == (1, 1, 1)
    assert (ev["est_a"], ev["est_b"], ev["est_union"], ev["est_overlap"]) == (
        1, 1, 1, 1,
    )
    assert ev["err_abs"] == 0
    dc = got["documents.text|doc_id"]
    # NULL-doc_id "null split doc" rows vanish from both halves; NULL
    # texts are excluded: A (even ids) = {same, even only}, B (odd ids)
    # = {same, naïve..., odd only}, overlap = {same doc body}
    assert (dc["exact_a"], dc["exact_b"], dc["exact_overlap"]) == (2, 3, 1)
