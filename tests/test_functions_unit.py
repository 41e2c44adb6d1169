"""Unit + property tests for the scalar operator layer."""

from __future__ import annotations

from datetime import datetime

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.functions.hashing import business_row_hash_sql
from retail_aws_etl_pipeline_spark.functions.numeric import (
    _CURRENCY_STEPS,
    _QUANTITY_PATTERN,
    clean_currency_sql,
    clean_quantity_sql,
)
from retail_aws_etl_pipeline_spark.functions.sqltext import sql_lit
from retail_aws_etl_pipeline_spark.functions.timestamps import (
    EXTENDED_PATTERNS,
    REFERENCE_PATTERNS,
    parse_timestamp_sql,
)
from retail_aws_etl_pipeline_spark.schema import build_index_map, normalize_header_token
from retail_aws_etl_pipeline_spark.sources.sniff import sniff_delimiter


# --- header normalization (P16) -------------------------------------------


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("Transaction ID", "transaction_id"),
        ("transactionid", "transaction_id"),
        ("TXN_ID", "transaction_id"),
        ("storeid", "store_id"),
        ("Shop-Id", "store_id"),
        ("product_id", "item_id"),
        ("qty", "quantity"),
        ("QuantitySold", "quantity"),
        ("Unit-Price", "unit_price"),
        ("price", "unit_price"),
        ("amount", "revenue"),
        ("revenueamount", "revenue"),
        ("discount_code", "discount_code"),  # unknown passes through
        ("revenue", "revenue"),
    ],
)
def test_normalize_header_token(raw, expected):
    assert normalize_header_token(raw) == expected


def test_index_map_shuffled_extra_missing():
    header = "item_id,revenue,store_id,transaction_id,discount_code,customer_id,item_category,quantity,payment_method,timestamp,unit_price".split(",")
    m = build_index_map(header)
    assert m["item_id"] == 0 and m["transaction_id"] == 3 and m["unit_price"] == 10
    assert "discount_code" not in m  # extra ignored
    m2 = build_index_map(["transaction_id", "store_id"])
    assert "quantity" not in m2


# --- delimiter sniffing (S5, bug-fixed) -----------------------------------


@pytest.mark.parametrize(
    "text,expected",
    [
        ("a,b,c\n1,2,3", ","),
        ("a;b;c\n1;2;3", ";"),
        ("a|b|c\n1|2|3", "|"),
        ("a\tb\tc\n1\t2\t3", "\t"),
        ("single_column\nvalue", ","),  # nothing matches -> default
    ],
)
def test_sniff_delimiter(text, expected):
    assert sniff_delimiter(text) == expected


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_sniff_never_raises(text):
    assert sniff_delimiter(text) in {",", ";", "|", "\t"}


#: Raw file heads the driver-side sniff must split, scrub and filter exactly
#: as Spark's text source and the reader's filters do; the head read starts
#: at 64 KB and doubles.
_CHUNK = 65536
HEAD_CASES = {
    "crlf_bom": "\ufeffh1,h2\r\na,b\r\n\r\nc,d\r\n".encode(),
    "cr_only": b"h1;h2\ra;b\r\rc;d",
    "blank_then_header": (" \n" * 30 + "\u200b\n\u00a0 \nh|x\n" + "r|1\n" * 25).encode(),
    "tab_is_not_blank": b"\t\nh,x\na,b\n",
    "long_line": ("x" * 70_000 + "\nh,y\n" + "a,b\n" * 30).encode(),
    "crlf_across_chunk": b"h,x\n" + b"y" * (_CHUNK - 5) + b"\r\n" + b"a,b\n" * 25,
    "utf8_across_chunk": b"h,xy\n" + "é".encode() * (_CHUNK // 2) + b"\n" + b"a,b\n" * 25,
    "blank_first_chunk": b" \n" * (_CHUNK // 2 + 10) + b"h,x\n" + b"a,b\n" * 25,
    "no_trailing_newline": b"h,x\na,b",
    "invalid_utf8": b"h,x\na\xff\xfeb,c\xe2\x82\nd,e\n",
    "empty": b"",
    "required_header_with_form_feed": (
        b"transaction_id,store_id,timestamp\f,item_id,quantity,unit_price,revenue\n"
        + b"T1,S1,2025-07-10 10:00:00,I1,2,5.00,10.00\n"
    ),
}


@pytest.mark.parametrize("name", sorted(HEAD_CASES))
def test_head_lines_match_the_spark_text_reader(spark, tmp_path, name):
    """``_head_lines`` yields what the reader's Spark-side scrub and blank
    filter yield for the same file, limited to 20 lines; the file gate
    passes the file exactly when the reader maps every required column."""
    from retail_aws_etl_pipeline_spark.ingest import validate_file_head
    from retail_aws_etl_pipeline_spark.sources.reader import (
        INVISIBLE_CHARS_PATTERN,
        _head_lines,
        read_flexible_csv,
    )

    path = tmp_path / f"{name}.csv"
    path.write_bytes(HEAD_CASES[name])
    want = [
        r["value"]
        for r in spark.read.text(str(path))
        .withColumn("value", F.regexp_replace("value", INVISIBLE_CHARS_PATTERN, ""))
        .filter(F.trim(F.col("value")) != "")
        .limit(20)
        .collect()
    ]
    assert _head_lines(str(path), 20) == want
    meta = read_flexible_csv(spark, str(path))[1]
    assert (validate_file_head(str(path)) == []) == (meta.missing_required == [])


def test_header_is_sniffed_only_by_the_reader():
    """``sniff_delimiter`` and ``build_index_map`` are called only in
    ``sources/reader.py``: the file gate and the row parser share its one
    header decision (``sniff_header``)."""
    import ast
    from pathlib import Path

    import retail_aws_etl_pipeline_spark as pkg

    root = Path(pkg.__file__).parent
    sites = set()
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call):
                called = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
                if called in ("sniff_delimiter", "build_index_map"):
                    sites.add(path.relative_to(root).as_posix())
    assert sites == {"sources/reader.py"}


# --- timestamp cascade (P8) -----------------------------------------------

TS_CASES = [
    ("2024-10-16 14:30:25", datetime(2024, 10, 16, 14, 30, 25)),
    ("2024-10-16 9:05", datetime(2024, 10, 16, 9, 5)),
    ("2024/10/16 14:30:25", datetime(2024, 10, 16, 14, 30, 25)),
    ("10/16/2024 14:30", datetime(2024, 10, 16, 14, 30)),
    ("10/16/2024", datetime(2024, 10, 16)),
    ("2024-10-16", datetime(2024, 10, 16)),
    ("2024/10/16", datetime(2024, 10, 16)),
    ("20241016 143025", datetime(2024, 10, 16, 14, 30, 25)),
    ("20241016", datetime(2024, 10, 16)),
    # rejected by the reference cascade:
    ("2025-06-12T05:03:38", None),
    ("07-12-24 20:23", None),
    ("09/03/2025 06:28AM", None),
    ("", None),
    ("2024/02/30 25:61", None),  # regex-passes, parse nulls (impossible)
    ("N/A", None),
]


def _parse_with(spark, values, patterns):
    df = spark.createDataFrame([(v,) for v in values], ["ts_raw"])
    return [
        r["parsed"]
        for r in df.select(F.expr(parse_timestamp_sql("ts_raw", patterns)).alias("parsed")).collect()
    ]


def test_reference_cascade(spark):
    got = _parse_with(spark, [c[0] for c in TS_CASES], REFERENCE_PATTERNS)
    for (raw, want), actual in zip(TS_CASES, got):
        assert actual == want, (raw, actual, want)


def test_extended_cascade(spark):
    cases = [
        ("2025-06-12T05:03:38", datetime(2025, 6, 12, 5, 3, 38)),
        ("07-12-24 20:23", datetime(2024, 12, 7, 20, 23)),
        ("09/03/2025 06:28AM", datetime(2025, 9, 3, 6, 28)),
        ("10/18/2025 01:55PM", datetime(2025, 10, 18, 13, 55)),
        # MM/dd precedence holds; dd/MM catches month>12 only
        ("03/04/2025", datetime(2025, 3, 4)),
        ("25/12/2024", datetime(2024, 12, 25)),
        ("garbage", None),
    ]
    got = _parse_with(spark, [c[0] for c in cases], EXTENDED_PATTERNS)
    for (raw, want), actual in zip(cases, got):
        assert actual == want, (raw, actual, want)


@given(st.text(alphabet="0123456789-/: TAMP", max_size=25))
@settings(max_examples=30, deadline=None)
def test_cascade_never_raises(spark, text):
    # any input either parses or nulls — never throws (docs/timestamp_parsing.md:3-5)
    got = _parse_with(spark, [text], EXTENDED_PATTERNS)
    assert len(got) == 1


#: Strings that probe the cascade's regex gates: every format of both
#: pattern sets, impossible dates, empty, quote and backslash characters, a
#: trailing newline (``$`` matches before it), non-ASCII digits and AM/PM
#: forms.
ADVERSARIAL_TS = [
    *[c[0] for c in TS_CASES],
    "2025-06-12T05:03:38", "07-12-24 20:23", "09/03/2025 06:28AM", "10/18/2025 01:55PM",
    "03/04/2025", "25/12/2024", "25/12/2024 14:30", "25/12/2024 14:30:25",
    "2024-02-30", "2024-13-01 00:00", "00000000", "99999999 999999", "13/13/2024",
    "'", "''", "\\", "\\'", "2024-10-16'", "'2024-10-16'", "2024-10-16\n",
    "2024-10-16\\", "２０２４-10-16", " 2024-10-16", "2024-10-16 ", "AM", "PM", None,
]


@pytest.mark.parametrize("patterns", [REFERENCE_PATTERNS, EXTENDED_PATTERNS], ids=["ref", "ext"])
def test_cascade_on_adversarial_strings(spark, patterns):
    """Every adversarial string parses or nulls without raising, and the
    regex gates do admit rows."""
    got = _parse_with(spark, ADVERSARIAL_TS, patterns)
    assert len(got) == len(ADVERSARIAL_TS)
    assert sum(v is not None for v in got) >= 10


def test_row_hash_is_md5_of_joined_strings(spark):
    """The row hash is md5 hex of the '||'-joined strings, NULL as ''."""
    import hashlib

    rows = [("$1,413.15", "(5.00)"), ("'", "\\"), (None, "N/A"), ("", None), (None, None),
            ("a||b", "日本")]
    df = spark.createDataFrame(rows, "a string, b string")
    got = [r["h"] for r in df.select(F.expr(business_row_hash_sql(["a", "b"])).alias("h")).collect()]
    want = [hashlib.md5(f"{a or ''}||{b or ''}".encode()).hexdigest() for a, b in rows]
    assert got == want


def test_sql_lit_round_trips_through_the_parser(spark):
    """Every string the escaping helper emits parses back to itself,
    including every regex and format the cleaners and both timestamp
    pattern sets splice into SQL text."""
    values = ["'", "\\", "\\'", "'\\", "a'b\\c", "\\u0041", "日本", "%_", "\n", "--", "/*"]
    values += [v for pair in REFERENCE_PATTERNS + EXTENDED_PATTERNS + _CURRENCY_STEPS for v in pair]
    values.append(_QUANTITY_PATTERN)
    row = spark.range(1).select(
        *[F.expr(sql_lit(v)).alias(f"v{i}") for i, v in enumerate(values)]
    ).first()
    assert list(row) == values


# --- currency / quantity cleaning (P9, P10) --------------------------------


def test_clean_currency_and_quantity(spark):
    cases = [
        ("$446.23", 446.23),
        ("$1,413.15", 1413.15),
        ("(5.00)", -5.0),
        ("N/A", None),
        ("", None),
        ("12.5", 12.5),
        ("USD 99.99", 99.99),
        (None, None),
        ("-", None),
        ("--", None),
        ("1.0E-5", None),
        ("(1)(2)", None),
        ("'", None),
        ("\\", None),
        ("₹12.50", 12.5),
    ]
    df = spark.createDataFrame([(v,) for v, _ in cases], ["x"])
    got = [r["c"] for r in df.select(F.expr(clean_currency_sql("x")).alias("c")).collect()]
    assert got == [w for _, w in cases]

    qcases = [("3", 3), ("12 pcs", 12), ("N/A", None), ("", None), ("-2", -2), ("-", None),
              ("$1,413.15", 141315), ("1.0E-5", None), (None, None)]
    dfq = spark.createDataFrame([(v,) for v, _ in qcases], ["x"])
    gotq = [r["c"] for r in dfq.select(F.expr(clean_quantity_sql("x")).alias("c")).collect()]
    assert gotq == [w for _, w in qcases]
    long_q = dfq.select(F.expr(clean_quantity_sql("x", "long")).alias("c"))
    assert long_q.schema["c"].dataType.typeName() == "long"
    assert [r["c"] for r in long_q.collect()] == gotq


@given(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False).map(lambda f: round(f, 2)))
@settings(max_examples=20, deadline=None)
def test_currency_roundtrip(spark, value):
    # formatting a 2dp number with $ and thousands separators round-trips
    formatted = "${:,.2f}".format(value) if value >= 0 else "(${:,.2f})".format(-value)
    df = spark.createDataFrame([(formatted,)], ["x"])
    got = df.select(F.expr(clean_currency_sql("x")).alias("c")).collect()[0]["c"]
    assert got == pytest.approx(value, abs=1e-9)


# --- determinism helpers: partition-layout invariance ----------------------


@given(st.integers(min_value=1, max_value=12))
@settings(max_examples=8, deadline=None)
def test_dec_sum_partition_invariant(spark, n_parts):
    """dec_sum must be bit-identical however the data is partitioned —
    the property the oracle comparison relies on."""
    from pyspark.sql import functions as F

    from retail_aws_etl_pipeline_spark.plans.queries import dec_sum

    df = spark.range(2000).select(
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 0.01 + 0.005).alias("v"),
    )
    result = {
        r["k"]: r["s"]
        for r in df.repartition(n_parts).groupBy("k").agg(dec_sum(F.col("v")).alias("s")).collect()
    }
    baseline = {
        r["k"]: r["s"]
        for r in df.coalesce(1).groupBy("k").agg(dec_sum(F.col("v")).alias("s")).collect()
    }
    assert result == baseline  # exact ==, not approx
