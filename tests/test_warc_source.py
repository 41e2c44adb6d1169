"""WARC source (sources/warc.py) — record framing, HTTP block split, gzip
transparency, structural strictness, and the staged id-formula oracle.
"""

from __future__ import annotations

import gzip

import pytest

from retail_aws_etl_pipeline_spark.sources.warc import (
    _warc_record_bytes,
    iter_warc_records,
    parse_warc_records,
    synth_warc_shards,
)
from tests.conftest import SF_ORACLE
from tests.oracle import compare


def test_iter_warc_records_roundtrip():
    buf = b"".join(_warc_record_bytes(m) for m in (0, 1, 2, 3, 11))
    recs = list(iter_warc_records(buf))
    assert [r["record_idx"] for r in recs] == [0, 1, 2, 3, 4]
    by_id = {int(r["record_id"].strip("<>").rsplit(":", 1)[1]): r for r in recs}
    assert by_id[0]["warc_type"] == "response"
    assert by_id[0]["http_status"] == 200
    assert by_id[0]["payload_length"] == 10
    assert by_id[1]["http_status"] == 404
    assert by_id[2]["http_status"] == 301
    assert by_id[3]["warc_type"] == "request"
    assert by_id[3]["http_status"] is None
    assert by_id[3]["payload_length"] == 0
    assert by_id[11]["target_uri"] == "http://src4.example/doc/11"
    # content_length is the full HTTP block, payload is past its headers.
    for r in recs:
        assert r["payload_length"] <= r["content_length"]
        assert len(r["block"]) == r["content_length"]


def test_iter_warc_records_gzip_transparent():
    buf = b"".join(_warc_record_bytes(m) for m in (5, 6))
    plain = [
        {k: v for k, v in r.items() if k != "block"}
        for r in iter_warc_records(buf)
    ]
    zipped = [
        {k: v for k, v in r.items() if k != "block"}
        for r in iter_warc_records(gzip.compress(buf, mtime=0))
    ]
    assert plain == zipped


def test_iter_warc_records_structural_strictness():
    good = _warc_record_bytes(1)
    # Every truncation class raises, never silently drops the tail.
    for cut in (4, 30, len(good) - 6, len(good) - 2):
        with pytest.raises(ValueError):
            list(iter_warc_records(good[:cut]))
    with pytest.raises(ValueError):  # garbage between records
        list(iter_warc_records(good + b"JUNK" + good))
    with pytest.raises(ValueError):  # missing Content-Length
        list(
            iter_warc_records(
                b"WARC/1.0\r\nWARC-Type: response\r\n\r\n\r\n\r\n"
            )
        )
    # A record whose HTTP status line is garbage raises too.
    bad = good.replace(b"HTTP/1.1 404 X", b"HTTP/1.1 xxx X")
    with pytest.raises(ValueError):
        list(iter_warc_records(bad))


def test_warc_record_stats_matches_oracle(spark):
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        WARC_RECORD_ORACLE,
        warc_record_stats,
    )

    got = warc_record_stats(spark, SF_ORACLE)
    res = compare(got, WARC_RECORD_ORACLE, SF_ORACLE)
    assert res["ok"], res
    assert res["spark_rows"] == 500


def test_parse_warc_records_gzip_shards_and_body_flag(spark):
    ids = spark.range(40).selectExpr("id AS doc_id")
    plain = parse_warc_records(synth_warc_shards(ids, "doc_id"))
    zipped = parse_warc_records(
        synth_warc_shards(ids, "doc_id", compress=True)
    )
    cols = [c for c in plain.columns if c != "path"]  # paths differ (.gz)
    assert sorted(map(tuple, plain.select(*cols).collect())) == sorted(
        map(tuple, zipped.select(*cols).collect())
    )
    with_body = parse_warc_records(
        synth_warc_shards(ids, "doc_id"), include_body=True
    )
    assert "block" in with_body.columns
    row = with_body.filter("warc_type = 'response'").limit(1).collect()[0]
    assert len(bytes(row.block)) == row.content_length


def test_warc_binaryfile_roundtrip(spark, tmp_path):
    """The real on-disk path: shard bytes written as files, read back via
    Spark's binaryFile source, parsed identically to the in-memory form."""
    ids = spark.range(24).selectExpr("id AS doc_id")
    shards = synth_warc_shards(ids, "doc_id").collect()
    for r in shards:
        name = r.path.rsplit("/", 1)[-1]
        (tmp_path / name).write_bytes(bytes(r.content))
    from_disk = parse_warc_records(
        spark.read.format("binaryFile").load(str(tmp_path))
    )
    in_mem = parse_warc_records(synth_warc_shards(ids, "doc_id"))
    cols = [c for c in in_mem.columns if c != "path"]
    assert sorted(map(tuple, from_disk.select(*cols).collect())) == sorted(
        map(tuple, in_mem.select(*cols).collect())
    )


def test_warc_text_corpus_matches_oracle(spark):
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        WARC_TEXT_ORACLE,
        warc_text_corpus,
    )

    got = warc_text_corpus(spark, SF_ORACLE)
    res = compare(got, WARC_TEXT_ORACLE, SF_ORACLE)
    assert res["ok"], res
    # 2xx responses only: doc_id % 4 != 3 (response) and % 3 == 0 (200).
    assert res["spark_rows"] == sum(
        1 for i in range(500) if i % 4 != 3 and i % 3 == 0
    )


def test_warc_html_documents_feed_the_curation_pipeline(spark):
    """The extracted corpus is shaped for the existing text operators:
    normalize_text is idempotent on it and exact dedup runs unchanged."""
    from retail_aws_etl_pipeline_spark.operators.textops import normalize_text
    from retail_aws_etl_pipeline_spark.sources.warc import (
        synth_warc_shards,
        warc_html_documents,
    )
    from pyspark.sql import functions as F

    ids = spark.range(60).selectExpr("id AS doc_id")
    docs = warc_html_documents(synth_warc_shards(ids, "doc_id", html=True))
    normed = docs.withColumn("ntext", normalize_text("text"))
    # Extraction already collapsed/trimmed, so normalization only
    # casefolds — lengths are preserved.
    row = normed.select(
        F.sum((F.length("ntext") != F.length("text")).cast("int")).alias("d")
    ).collect()[0]
    assert row.d == 0
    n_distinct = normed.select(F.md5("ntext")).distinct().count()
    assert n_distinct == docs.count()  # formulaic docs are all distinct


def test_crawl_host_report_matches_oracle(spark):
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        CRAWL_HOST_ORACLE,
        crawl_host_report,
    )

    got = crawl_host_report(spark, SF_ORACLE)
    res = compare(got, CRAWL_HOST_ORACLE, SF_ORACLE)
    assert res["ok"], res
    assert res["spark_rows"] == 7  # hosts src0..src6.example


def test_iter_warc_records_hypothesis_roundtrip():
    """Fuzz the framing: any id multiset concatenates into a shard that
    parses back to exactly those records in order, plain and gzipped —
    and truncating at ANY byte inside the shard either raises or yields
    a strict prefix of the records (never wrong records)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=8),
        st.randoms(use_true_random=False),
    )
    def check(mids, rng):
        buf = b"".join(_warc_record_bytes(m) for m in mids)
        recs = list(iter_warc_records(buf))
        got = [int(r["record_id"].strip("<>").rsplit(":", 1)[1]) for r in recs]
        assert got == mids
        cut = rng.randrange(len(buf))
        try:
            partial = list(iter_warc_records(buf[:cut]))
        except ValueError:
            return
        partial_ids = [
            int(r["record_id"].strip("<>").rsplit(":", 1)[1]) for r in partial
        ]
        assert partial_ids == mids[: len(partial_ids)]

    check()


def test_crawl_exact_dedup_stats_matches_oracle(spark):
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        CRAWL_DEDUP_ORACLE,
        crawl_exact_dedup_stats,
    )

    got = crawl_exact_dedup_stats(spark, SF_ORACLE)
    res = compare(got, CRAWL_DEDUP_ORACLE, SF_ORACLE)
    assert res["ok"], res
    row = got.collect()[0]
    assert row.n_retained == row.n_distinct_texts
    assert row.n_distinct_texts < row.n_docs  # real duplicate structure


def test_sitemap_url_inventory_matches_oracle(spark):
    """from_xml (nested ARRAY<STRUCT> + explode) roundtrips the
    formula-built sitemaps to the id-formula oracle — pinning Spark's
    native XML field coercion (STRING/DATE/DOUBLE) against values DuckDB
    constructs with no XML parser at all."""
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        SITEMAP_ORACLE,
        sitemap_url_inventory,
    )

    got = sitemap_url_inventory(spark, SF_ORACLE)
    res = compare(got, SITEMAP_ORACLE, SF_ORACLE)
    assert res["ok"], res
    assert res["spark_rows"] == 500


def test_sitemap_index_inventory_matches_oracle(spark):
    """Two-level walk: <sitemapindex> -> child <urlset>s, both parsed
    with from_xml; every URL row carries its child sitemap_loc and the
    index's lastmod for that child (the incremental-crawl filter
    columns). Oracle reconstructs all five columns from id formulas."""
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        SITEMAP_INDEX_ORACLE,
        sitemap_index_inventory,
    )

    got = sitemap_index_inventory(spark, SF_ORACLE)
    res = compare(got, SITEMAP_INDEX_ORACLE, SF_ORACLE)
    assert res["ok"], res
    assert res["spark_rows"] == 500


def test_sitemap_index_child_join_broadcasts(spark):
    """The index is one tiny parsed document — the child join must be a
    broadcast, never a shuffle of the children."""
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        sitemap_index_inventory,
    )

    plan = (
        sitemap_index_inventory(spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --- hostile-WARC battery (r13): untrusted crawl bytes ---------------------


def _rec(headers: dict[str, str], block: bytes = b"") -> bytes:
    head = "".join(f"{k}: {v}\r\n" for k, v in headers.items())
    return f"WARC/1.0\r\n{head}\r\n".encode() + block + b"\r\n\r\n"


def test_hostile_negative_content_length_raises_not_loops():
    """A negative Content-Length used to slice an empty block (passing
    the shorter-than-n check, 0 > n) and step pos BACKWARD — crafted
    bytes could cycle the parser forever on untrusted crawl input. Must
    raise the documented file-level ValueError instead."""
    from retail_aws_etl_pipeline_spark.sources.warc import iter_warc_records

    buf = _rec({"WARC-Type": "metadata", "Content-Length": "-14"})
    with pytest.raises(ValueError, match="negative WARC Content-Length"):
        list(iter_warc_records(buf))


def test_hostile_nonnumeric_content_length_raises():
    from retail_aws_etl_pipeline_spark.sources.warc import iter_warc_records

    buf = _rec({"WARC-Type": "metadata", "Content-Length": "12 bytes"})
    with pytest.raises(ValueError, match="bad WARC Content-Length"):
        list(iter_warc_records(buf))


def test_hostile_corrupt_gzip_is_a_value_error():
    """BadGzipFile is an OSError, not ValueError — it must be folded
    into the documented reject contract, not leak an engine-crash
    exception class."""
    from retail_aws_etl_pipeline_spark.sources.warc import iter_warc_records

    with pytest.raises(ValueError, match="corrupt gzip"):
        list(iter_warc_records(b"\x1f\x8bthis is not a gzip stream"))


def test_hostile_framing_violations_raise():
    from retail_aws_etl_pipeline_spark.sources.warc import iter_warc_records

    # block longer than buffer
    buf = _rec({"WARC-Type": "metadata", "Content-Length": "9999"}, b"short")
    with pytest.raises(ValueError, match="shorter than Content-Length"):
        list(iter_warc_records(buf))
    # missing record terminator
    head = "WARC-Type: metadata\r\nContent-Length: 2\r\n"
    buf = f"WARC/1.0\r\n{head}\r\n".encode() + b"xy" + b"\r\nJUNK"
    with pytest.raises(ValueError, match="CRLF CRLF terminator"):
        list(iter_warc_records(buf))
    # bad version line
    with pytest.raises(ValueError, match="bad WARC version"):
        list(iter_warc_records(b"HTTP/1.0\r\n\r\n"))
    # bad HTTP status line in a response record
    block = b"HTTP/1.1 OK\r\n\r\nbody"
    buf = _rec(
        {"WARC-Type": "response", "Content-Length": str(len(block))}, block
    )
    with pytest.raises(ValueError, match="bad HTTP status line"):
        list(iter_warc_records(buf))


def test_hostile_but_wellformed_edges_parse():
    """Valid-but-nasty content must PARSE: zero-length block, latin-1
    header bytes, HTTP/0.9-ish request without a status, empty shard."""
    from retail_aws_etl_pipeline_spark.sources.warc import iter_warc_records

    assert list(iter_warc_records(b"")) == []
    buf = _rec({"WARC-Type": "metadata", "Content-Length": "0",
                "WARC-Target-URI": "http://ex.com/\xe9"})
    recs = list(iter_warc_records(buf))
    assert len(recs) == 1 and recs[0]["content_length"] == 0
    # request record: payload split happens, no status parse
    block = b"GET / HTTP/1.1\r\nHost: x\r\n\r\npayload"
    buf = _rec(
        {"WARC-Type": "request", "Content-Length": str(len(block))}, block
    )
    rec = list(iter_warc_records(buf))[0]
    assert rec["http_status"] is None
    assert rec["payload_length"] == len(b"payload")
