"""Ingest semantics on a small dirty CSV written inline.

Every count and every output row below is computed by hand from the file,
so the routing is pinned without any external sample data: a ``;``
delimiter behind a BOM, identical good lines (deduped), identical
bad-timestamp lines (all rejected), short rows, an ``N/A`` price and a
revenue mismatch. The same file goes through ``ingest_file`` and, twice
under two names, through ``ingest_batch``.
"""

from __future__ import annotations

import csv
import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.ingest import ingest_batch, ingest_file
from retail_aws_etl_pipeline_spark.lake import LakeLayout
from retail_aws_etl_pipeline_spark.schema import REJECT_COLUMNS, REQUIRED_COLUMNS

HEADER = "transaction_id;store_id;timestamp;item_id;item_category;quantity;unit_price;revenue;payment_method;customer_id"
GOOD_T1 = "T1;S01;2024-10-16 14:30:25;I1;Food;2;$10.50;$21.00;Card;C1"
GOOD_T2 = "T2;S02;2024/10/16 09:05;I2;Toys;1;5.00;5.00;Cash;C2"
GOOD_T7 = "T7;S01;20241018;I7;Home;1;(5.00);(5.00);Card;C7"
BAD_TS = "T3;S01;07-12-24 20:23;I3;Food;1;1.00;1.00;Card;C3"
SHORT_T4 = "T4;S03;2024-10-16"
SHORT_T8 = "T8;S01"
NA_PRICE = "T5;S01;2024-10-17 10:00:00;I5;Food;3;N/A;30.00;Card;C5"
MISMATCH = "T6;S02;2024-10-17 11:00:00;I6;Toys;2;$4.00;$9.00;Cash;C6"

LINES = [
    GOOD_T1, BAD_TS, GOOD_T1, SHORT_T4, "", NA_PRICE, GOOD_T2,
    BAD_TS, MISMATCH, GOOD_T1, SHORT_T8, "", GOOD_T7,
]

COUNTS = {
    "data_rows": 11,
    "structural_rejects": 2,
    "timestamp_rejects": 2,
    "duplicates_removed": 2,
    "business_rejects": 2,
    "good_rows": 3,
    "reject_rows": 6,
}

#: (transaction_id, store_id, timestamp_raw, item_id, item_category,
#:  quantity, unit_price, revenue, payment_method, customer_id, raw_row,
#:  timestamp, date)
SILVER = [
    ("T1", "S01", "2024-10-16 14:30:25", "I1", "Food", 2, 10.5, 21.0, "Card", "C1",
     GOOD_T1, "2024-10-16 14:30:25", "2024-10-16"),
    ("T2", "S02", "2024/10/16 09:05", "I2", "Toys", 1, 5.0, 5.0, "Cash", "C2",
     GOOD_T2, "2024-10-16 09:05:00", "2024-10-16"),
    ("T7", "S01", "20241018", "I7", "Home", 1, -5.0, -5.0, "Card", "C7",
     GOOD_T7, "2024-10-18 00:00:00", "2024-10-18"),
]

_S, _T, _B = "MISSING_REQUIRED_COLUMN", "INVALID_TIMESTAMP_FORMAT", "BUSINESS_LOGIC_FAIL"
_bad_ts = (BAD_TS, "T3", "S01", "07-12-24 20:23", None, "I3", "Food", "1", "1.00", "1.00", "Card", "C3", _T)
#: One tuple per reject row, in REJECT_COLUMNS order. Structural and
#: timestamp rejects keep their raw strings and raw_row; business rejects
#: carry cleaned numerics and a NULL raw_row.
REJECTS = sorted(
    [
        _bad_ts,
        _bad_ts,
        (SHORT_T4, "T4", "S03", "2024-10-16", None, None, None, None, None, None, None, None, _S),
        (SHORT_T8, "T8", "S01", None, None, None, None, None, None, None, None, None, _S),
        (None, "T5", "S01", "2024-10-17 10:00:00", "2024-10-17T10:00:00.000Z", "I5", "Food",
         "3", None, "30.0", "Card", "C5", _B),
        (None, "T6", "S02", "2024-10-17 11:00:00", "2024-10-17T11:00:00.000Z", "I6", "Toys",
         "2", "4.0", "9.0", "Cash", "C6", _B),
    ],
    key=repr,
)


def _write(path) -> str:
    with open(path, "w", encoding="utf-8") as f:
        f.write("﻿" + HEADER + "\n" + "\n".join(LINES) + "\n")
    return str(path)


def _silver(spark, lake: LakeLayout) -> list[tuple]:
    df = spark.read.parquet(lake.processed)
    assert df.filter(F.col("ingest_ts").isNull() | F.col("ingest_run_id").isNull()).count() == 0
    rows = df.select(
        "source_file",
        "transaction_id", "store_id", "timestamp_raw", "item_id", "item_category",
        "quantity", "unit_price", "revenue", "payment_method", "customer_id", "raw_row",
        F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss"),
        F.col("date").cast("string"),
    ).collect()
    return sorted((tuple(r) for r in rows), key=repr)


def _json_rejects(lake: LakeLayout) -> list[tuple]:
    rows = []
    for part in glob.glob(os.path.join(lake.rejected("data_quality/json"), "*.json")):
        with open(part, encoding="utf-8") as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return sorted((tuple(r.get(c) for c in REJECT_COLUMNS) for r in rows), key=repr)


def _csv_rejects(lake: LakeLayout) -> list[tuple]:
    rows = []
    for part in glob.glob(os.path.join(lake.rejected("data_quality/csv"), "*.csv")):
        with open(part, encoding="utf-8", newline="") as f:
            reader = csv.reader(f)
            assert next(reader) == REJECT_COLUMNS
            rows += [tuple(v if v != "" else None for v in r) for r in reader]
    return sorted(rows, key=repr)


def test_ingest_file_inline_dirty_csv(spark, tmp_path):
    lake = LakeLayout(str(tmp_path / "lake"))
    path = _write(tmp_path / "sales_inline.csv")
    r = ingest_file(spark, path, lake, ingest_run_id="run-inline", archive=False)
    assert r.status == "ok"
    assert r.counts == COUNTS
    assert _silver(spark, lake) == [("sales_inline.csv", *row) for row in SILVER]
    assert spark.read.parquet(lake.processed).filter("ingest_run_id != 'run-inline'").count() == 0
    assert _json_rejects(lake) == REJECTS
    assert _csv_rejects(lake) == REJECTS


def test_ingest_batch_inline_dirty_csv(spark, tmp_path):
    lake = LakeLayout(str(tmp_path / "lake"))
    names = ["sales_a.csv", "sales_b.csv"]
    paths = [_write(tmp_path / n) for n in names]
    results = ingest_batch(spark, paths, lake, archive=False)
    assert [(r.status, r.source_file) for r in results] == [("ok", n) for n in names]
    for r in results:
        assert r.counts == COUNTS
    assert _silver(spark, lake) == sorted(
        ((n, *row) for n in names for row in SILVER), key=repr
    )
    assert _json_rejects(lake) == sorted(REJECTS * 2, key=repr)
    assert _csv_rejects(lake) == sorted(REJECTS * 2, key=repr)


def test_ingest_file_header_only_resolves_zero_counts(spark, tmp_path):
    """A file with a header and no data rows passes the head gate and
    routes an empty labeled frame: every count resolves to 0."""
    lake = LakeLayout(str(tmp_path / "lake"))
    path = tmp_path / "sales_empty.csv"
    path.write_text("﻿" + HEADER + "\n\n")
    r = ingest_file(spark, str(path), lake, archive=False)
    assert r.status == "ok"
    assert r.counts == dict.fromkeys(COUNTS, 0)


def test_count_fallback_matches_only_a_pruned_observation(spark):
    """The recount fallback is taken for the pruned-Observation assertion
    alone; any other JVM error raised by ``Observation.get`` propagates."""
    from py4j.protocol import Py4JJavaError

    from retail_aws_etl_pipeline_spark.operators.validate import _is_pruned_observation

    jvm = spark.sparkContext._jvm
    with pytest.raises(Py4JJavaError) as err:
        jvm.java.util.ArrayList().get(0)
    assert not _is_pruned_observation(err.value)
    with pytest.raises(Py4JJavaError) as err:
        jvm.org.apache.spark.sql.api.python.PythonSQLUtils.toPyRow(jvm.org.apache.spark.sql.Row.empty())
    assert _is_pruned_observation(err.value)


def test_ingest_file_name_and_pattern_with_sql_metacharacters(spark, tmp_path):
    """A file name with a quote, a backslash, a ``;`` and non-ASCII
    characters, and a caller pattern with quotes in both its regex and its
    format: the name reaches silver as data (never as SQL text or a path
    glob) and the counts are exact."""
    from retail_aws_etl_pipeline_spark.functions.timestamps import REFERENCE_PATTERNS

    name = "o'brien\\;café_日本.csv"
    quoted = "T9;S01;'2024-10-19';I9;Home;1;2.00;2.00;Card;C9"
    path = tmp_path / name
    with open(path, "w", encoding="utf-8") as f:
        f.write("﻿" + HEADER + "\n" + "\n".join(LINES + [quoted]) + "\n")
    patterns = REFERENCE_PATTERNS + [(r"^'\d{4}-\d{2}-\d{2}'$", "''yyyy-MM-dd''")]
    lake = LakeLayout(str(tmp_path / "lake"))
    r = ingest_file(spark, str(path), lake, timestamp_patterns=patterns, archive=False)
    assert (r.status, r.source_file) == ("ok", name)
    assert r.counts == {**COUNTS, "data_rows": 12, "good_rows": 4}
    silver = spark.read.parquet(lake.processed)
    assert {row["source_file"] for row in silver.select("source_file").collect()} == {name}
    got = silver.filter("transaction_id = 'T9'").select(F.col("date").cast("string")).collect()
    assert [row[0] for row in got] == ["2024-10-19"]


def test_silver_and_gold_have_the_declared_schemas(spark, tmp_path):
    """Ingest writes exactly SILVER_SCHEMA and compaction exactly
    GOLD_SCHEMA, as footer inference sees the files — the schemas the
    compaction and gold readers declare instead of inferring."""
    from retail_aws_etl_pipeline_spark.operators.compact import compact_pending
    from retail_aws_etl_pipeline_spark.schema import GOLD_SCHEMA, SILVER_SCHEMA

    lake = LakeLayout(str(tmp_path / "lake"))
    ingest_file(spark, _write(tmp_path / "sales_inline.csv"), lake, archive=False)
    compact_pending(spark, lake)
    assert spark.read.parquet(lake.processed).schema == SILVER_SCHEMA
    assert spark.read.parquet(lake.gold).schema == GOLD_SCHEMA


def test_compact_reads_a_column_missing_from_a_partition_as_null(spark, tmp_path):
    """A silver partition written without ``customer_id`` compacts to NULL
    ``customer_id`` (schema drift); the partitions that have the column
    keep their values."""
    from retail_aws_etl_pipeline_spark.operators.compact import compact_pending, read_gold

    lake = LakeLayout(str(tmp_path / "lake"))
    ingest_file(spark, _write(tmp_path / "sales_inline.csv"), lake, archive=False)
    (
        spark.read.parquet(lake.processed)
        .filter("date = '2024-10-16'")
        .drop("customer_id")
        .withColumn("date", F.lit("2024-10-20").cast("date"))
        .write.mode("append")
        .partitionBy("date")
        .parquet(lake.processed)
    )
    summary = compact_pending(spark, lake)
    assert summary["processed_partitions_count"] == 3
    got = sorted(
        (str(r["date"]), r["transaction_id"], r["customer_id"])
        for r in read_gold(spark, lake).collect()
    )
    assert got == [
        ("2024-10-16", "T1", "C1"),
        ("2024-10-16", "T2", "C2"),
        ("2024-10-18", "T7", "C7"),
        ("2024-10-20", "T1", None),
        ("2024-10-20", "T2", None),
    ]


def test_type_drifted_tables_are_read_with_inferred_schemas(spark, tmp_path):
    """Silver written by another tool (here with a string ``ingest_ts``)
    does not conform to SILVER_SCHEMA: compaction and ``read_gold`` fall
    back to the inferred schema instead of failing the read."""
    from retail_aws_etl_pipeline_spark.operators.compact import compact_pending, read_gold

    lake = LakeLayout(str(tmp_path / "lake"))
    spark.createDataFrame(
        [("T1", "S1", "2025-01-01 10:00:00", "2025-01-01"),
         ("T1", "S1", "2025-01-01 11:00:00", "2025-01-01"),
         ("T2", "S1", "2025-01-02 10:00:00", "2025-01-02")],
        ["transaction_id", "store_id", "ingest_ts", "date"],
    ).write.partitionBy("date").parquet(lake.processed)
    summary = compact_pending(spark, lake)
    assert [r["rows_after_dedup"] for r in summary["results"]] == [1, 1]
    gold = read_gold(spark, lake)
    assert dict(gold.dtypes)["ingest_ts"] == "string"
    assert sorted((r["transaction_id"], r["ingest_ts"]) for r in gold.collect()) == [
        ("T1", "2025-01-01 11:00:00"), ("T2", "2025-01-02 10:00:00")
    ]


def _write_30_rows(path, header: str) -> str:
    rows = [f"T{i:02d},S{i % 3},2025-07-1{i % 3} 10:00:00,I{i},2,5.00,10.00" for i in range(30)]
    path.write_text(header + "\n" + "\n".join(rows) + "\n")
    return str(path)


def test_tab_only_first_line_is_the_header_the_gate_rejects(spark, tmp_path):
    """A first line of two tabs is not blank to Spark's ``trim``, so the
    reader would take it as the header: the gate judges that header and
    rejects the file as structural instead of routing 30 valid rows to
    structural rejects."""
    lake = LakeLayout(str(tmp_path / "lake"))
    path = _write_30_rows(tmp_path / "tabs.csv", "\t\t\n" + ",".join(REQUIRED_COLUMNS))
    r = ingest_file(spark, path, lake)
    assert r.status == "file_rejected"
    assert r.file_errors == [f"missing_columns:{REQUIRED_COLUMNS}"]
    names = os.listdir(lake.rejected("structural"))
    assert len(names) == 2 and any(n.endswith("_reason.json") for n in names)
    assert not os.path.exists(path) and not os.path.exists(lake.processed)


def test_form_feed_in_header_cell_ingests(spark, tmp_path):
    """A form feed after ``timestamp`` ends no line for Spark's text source
    and normalizes away in the header cell: the reader maps all required
    columns, so the gate passes the file and its 30 rows are good."""
    lake = LakeLayout(str(tmp_path / "lake"))
    header = ",".join(REQUIRED_COLUMNS).replace("timestamp", "timestamp\f")
    r = ingest_file(spark, _write_30_rows(tmp_path / "ff.csv", header), lake, archive=False)
    assert (r.status, r.counts["good_rows"], r.counts["reject_rows"]) == ("ok", 30, 0)
