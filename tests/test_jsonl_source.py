"""JSONL document parsing (``classify_jsonl_lines``, the kernel the
registered ``jsonl_corpus_stats`` runs): explicit-schema single-pass read
with corrupt-line and required-field audits, gzip transparency, and
unicode round-trip."""

from __future__ import annotations

import gzip
import json

from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.sources.jsonl import classify_jsonl_lines

GOOD = [
    {"doc_id": 1, "text": "hello world", "lang": "en", "source": "s1", "n_chars": 11},
    {"doc_id": 2, "text": "第二个文档", "lang": "zh", "source": "s2", "n_chars": 999},
    {"doc_id": 3, "text": "", "lang": "en", "source": "s3", "n_chars": 0},
]


def _write(path, lines):
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")


def _read(spark, path):
    """(good, rejects) views of the classified lines of a JSONL file."""
    cls = classify_jsonl_lines(spark.read.text(str(path)))
    good = cls.filter(F.col("reject_reason").isNull()).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    return good, cls.filter(F.col("reject_reason").isNotNull())


def test_jsonl_good_corrupt_and_missing_split(spark, tmp_path):
    lines = [json.dumps(d, ensure_ascii=False) for d in GOOD]
    lines.insert(1, '{"doc_id": 4, "text": "broken')          # malformed JSON
    lines.append('{"doc_id": 5, "lang": "en"}')               # missing text
    lines.append('{"text": "no id", "lang": "en"}')           # missing doc_id
    f = tmp_path / "docs.jsonl"
    _write(f, lines)

    good, rejects = _read(spark, f)
    got = {r["doc_id"]: r.asDict() for r in good.collect()}
    assert set(got) == {1, 2, 3}
    # n_chars is recomputed from text, not trusted from the wire
    assert got[2]["n_chars"] == len("第二个文档")
    assert got[3]["n_chars"] == 0

    rej = [(r["reject_reason"], r["raw"]) for r in rejects.collect()]
    reasons = sorted(reason for reason, _ in rej)
    assert reasons == [
        "malformed_json",
        "missing_required_field",
        "missing_required_field",
    ]
    # the malformed line's raw text is preserved verbatim for the sink
    assert any('"broken' in raw for reason, raw in rej if reason == "malformed_json")


def test_jsonl_gzip_transparent(spark, tmp_path):
    f = tmp_path / "docs.jsonl.gz"
    payload = "\n".join(json.dumps(d, ensure_ascii=False) for d in GOOD) + "\n"
    with gzip.open(f, "wt", encoding="utf-8") as fh:
        fh.write(payload)
    good, rejects = _read(spark, f)
    assert good.count() == 3
    assert rejects.count() == 0


def test_jsonl_read_is_single_pass_with_explicit_schema(spark, tmp_path):
    """The scan must NOT run an inference job: the plan's relation carries
    the caller schema and reading is lazy (zero jobs before an action)."""
    f = tmp_path / "docs.jsonl"
    _write(f, [json.dumps(d) for d in GOOD])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    good, _ = _read(spark, f)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "schema inference ran an eager job"
    assert [f.name for f in good.schema.fields] == [
        "doc_id", "text", "lang", "source", "n_chars"
    ]


def test_jsonl_matches_documents_contract(spark, tmp_path):
    """Round-trip: the good frame unions cleanly with the parquet
    documents table (same names and physical types)."""
    f = tmp_path / "docs.jsonl"
    _write(f, [json.dumps(d) for d in GOOD])
    good, _ = _read(spark, f)
    parquet = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merged = parquet.select(*good.columns).unionByName(good)
    assert merged.count() == parquet.count() + 3


def test_jsonl_untrusted_field_type_mismatch_is_not_a_reject(spark, tmp_path):
    """A wrong-typed field OUTSIDE the required/kept set (e.g. a producer
    emitting n_chars as a string) must NOT reject the line: n_chars is
    recomputed and discarded anyway, and the parse schema deliberately
    excludes it (ADVICE r7). String-typed kept fields (lang/source) accept
    any JSON value — from_json keeps the raw JSON text for StringType — so
    only the typed required field (doc_id) can still type-reject, which is
    correct: a non-numeric doc_id IS an unusable line."""
    lines = [
        '{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": "11"}',
        '{"doc_id": 2, "text": "ok2", "lang": "en", "source": "s", "n_chars": 3.5}',
        '{"doc_id": "notanint", "text": "bad id", "lang": "en", "source": "s"}',
    ]
    f = tmp_path / "docs.jsonl"
    _write(f, lines)
    good, rejects = _read(spark, f)
    got = {r["doc_id"]: r["n_chars"] for r in good.collect()}
    assert got == {1: 2, 2: 3}  # recomputed from text, wire value ignored
    assert [r["reject_reason"] for r in rejects.collect()] == ["malformed_json"]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_jsonval = st.one_of(
    st.none(),
    st.integers(-(2**62), 2**62),
    st.text(max_size=8),
    st.booleans(),
    st.lists(st.integers(0, 9), max_size=3),
)


@given(
    docs=st.lists(
        st.fixed_dictionaries(
            {},
            optional={
                "doc_id": st.one_of(st.integers(-(2**62), 2**62), st.none()),
                "text": st.one_of(st.text(max_size=20), st.none()),
                "lang": st.one_of(st.text(min_size=1, max_size=4), st.none()),
                "source": _jsonval,
                "n_chars": _jsonval,
                "extra": _jsonval,
            },
        ),
        min_size=1,
        max_size=12,
    ),
    breakers=st.lists(st.sampled_from(["", "{", "not json", '{"a":', "[1,2]", "null", '"str"']), max_size=3),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_classify_jsonl_lines_matches_python_reference(spark, tmp_path_factory, docs, breakers):
    """classify_jsonl_lines partitions arbitrary lines exactly as a Python
    json.loads reference: a line is malformed_json iff it doesn't parse as
    a JSON OBJECT with a non-null integer-typed doc_id when present-typed
    fields are checked; missing_required_field iff it parses but doc_id or
    text is absent/null; otherwise good with doc_id/text/lang round-tripped
    and n_chars recomputed. Pins the PERMISSIVE from_json semantics the
    audit classes depend on (wrong-typed doc_id corrupts; wrong-typed
    untrusted fields don't; string fields accept any JSON value as text)."""
    lines = [json.dumps(d, ensure_ascii=False) for d in docs] + list(breakers)

    def ref(line):
        try:
            obj = json.loads(line)
        except ValueError:
            return ("malformed_json", None, None)
        if not isinstance(obj, dict):
            return ("malformed_json", None, None)
        # typed required field: a non-integer doc_id fails the LongType
        # parse and PERMISSIVE flags the whole line corrupt
        if "doc_id" in obj and obj["doc_id"] is not None and (
            isinstance(obj["doc_id"], bool) or not isinstance(obj["doc_id"], int)
        ):
            return ("malformed_json", None, None)
        doc_id = obj.get("doc_id")
        text = obj.get("text")
        # StringType accepts any JSON value (kept as raw JSON text), so a
        # non-string text is still "present"
        if doc_id is None or text is None:
            return ("missing_required_field", None, None)
        return ("good", doc_id, text if isinstance(text, str) else None)

    want = [ref(ln) for ln in lines]

    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    got_rows = classify_jsonl_lines(df).collect()
    assert len(got_rows) == len(lines)
    by_raw = {}
    for r in got_rows:
        by_raw.setdefault(r["raw"], []).append(r)
    for ln, (cls, doc_id, text) in zip(lines, want):
        r = by_raw[ln].pop(0)
        got_cls = r["reject_reason"] or "good"
        assert got_cls == cls, (ln, got_cls, cls)
        if cls == "good":
            assert r["doc_id"] == doc_id
            if text is not None:
                assert r["text"] == text and r["n_chars"] == len(text)

