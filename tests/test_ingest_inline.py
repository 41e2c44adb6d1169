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
from retail_aws_etl_pipeline_spark.schema import REJECT_COLUMNS

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
