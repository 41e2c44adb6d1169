"""Canonical schemas, header normalization, and synonym mapping.

Re-expresses the reference's dynamic data-driven schema system
(scripts/glue_job_raw_to_processed.py:140-217, docs/schema_mapping.md) as
explicit constants + pure functions. One normalization + synonym pass is
used for BOTH file-level and row-level validation (the reference's Lambda
skipped normalization — SURVEY.md §1.4 flags that as a bug; the Glue
semantics are authoritative).
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

# --- canonical column sets -------------------------------------------------

#: Canonical business columns, in silver order
#: (glue_job_raw_to_processed.py:205-217).
CANONICAL_COLUMNS = [
    "transaction_id",
    "store_id",
    "timestamp",
    "item_id",
    "item_category",
    "quantity",
    "unit_price",
    "revenue",
    "payment_method",
    "customer_id",
]

#: Row-level required set (glue_job_raw_to_processed.py:176-184,
#: docs/validation.md:4-12).
REQUIRED_COLUMNS = [
    "transaction_id",
    "store_id",
    "timestamp",
    "item_id",
    "quantity",
    "unit_price",
    "revenue",
]

#: Header synonym map after normalization
#: (glue_job_raw_to_processed.py:148-170, docs/schema_mapping.md).
HEADER_SYNONYMS = {
    "transactionid": "transaction_id",
    "transid": "transaction_id",
    "txn_id": "transaction_id",
    "txnid": "transaction_id",
    "storeid": "store_id",
    "shop_id": "store_id",
    "shopid": "store_id",
    "itemid": "item_id",
    "product_id": "item_id",
    "productid": "item_id",
    "qty": "quantity",
    "quantitysold": "quantity",
    "quantity_sold": "quantity",
    "unitprice": "unit_price",
    "price": "unit_price",
    "revenueamount": "revenue",
    "revenue_amount": "revenue",
    "amount": "revenue",
    "timestamp_": "timestamp",
    "time_stamp": "timestamp",
    "paymentmethod": "payment_method",
    "customerid": "customer_id",
    "itemcategory": "item_category",
    "category": "item_category",
}


def normalize_header_token(raw: str) -> str:
    """Normalize one raw header cell to its canonical column name.

    lowercase → spaces/dashes→underscore → strip non-alnum/underscore →
    synonym lookup (glue_job_raw_to_processed.py:140-170).
    """
    s = raw.strip().lower()
    s = re.sub(r"[ \-]+", "_", s)
    s = re.sub(r"[^a-z0-9_]", "", s)
    return HEADER_SYNONYMS.get(s, s)


def build_index_map(header_cells: list[str]) -> dict[str, int]:
    """Map canonical column name -> position in the file's header.

    Extra (unknown) columns are silently ignored; missing canonical columns
    are simply absent from the map and will project as NULL
    (glue_job_raw_to_processed.py:186-203, docs/schema_mapping.md:23).
    First occurrence wins on duplicate headers.
    """
    index_map: dict[str, int] = {}
    for i, cell in enumerate(header_cells):
        name = normalize_header_token(cell)
        if name in CANONICAL_COLUMNS and name not in index_map:
            index_map[name] = i
    return index_map


def missing_required(index_map: dict[str, int]) -> list[str]:
    """Required canonical columns absent from a file's header."""
    return [c for c in REQUIRED_COLUMNS if c not in index_map]


# --- materialized-dataset schemas (SURVEY.md §1.5, FIXTURES.md §5) ---------

#: Silver layer: 16 columns + partition col ``date``
#: (glue_job_raw_to_processed.py:205-217,268,293-297).
SILVER_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType()),
        T.StructField("store_id", T.StringType()),
        T.StructField("timestamp_raw", T.StringType()),
        T.StructField("item_id", T.StringType()),
        T.StructField("item_category", T.StringType()),
        T.StructField("quantity", T.IntegerType()),
        T.StructField("unit_price", T.DoubleType()),
        T.StructField("revenue", T.DoubleType()),
        T.StructField("payment_method", T.StringType()),
        T.StructField("customer_id", T.StringType()),
        T.StructField("raw_row", T.StringType()),
        T.StructField("timestamp_parsed", T.TimestampType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("ingest_run_id", T.StringType()),
        T.StructField("source_file", T.StringType()),
        T.StructField("ingest_ts", T.TimestampType()),
        T.StructField("date", T.DateType()),
    ]
)

#: Gold layer (fact_sales): silver's columns with the gold-side cleaning
#: (``quantity`` widened to bigint) plus the identity ``row_hash``
#: (incremental_auto_compaction.py:205-212); ``date`` is the partition
#: column. Read with this schema, gold needs no footer-inference job.
GOLD_SCHEMA = T.StructType(
    [
        T.StructField(f.name, T.LongType()) if f.name == "quantity" else f
        for f in SILVER_SCHEMA.fields
        if f.name != "date"
    ]
    + [T.StructField("row_hash", T.StringType()), T.StructField("date", T.DateType())]
)

#: Fixed 13-column reject schema, in order
#: (glue_job_raw_to_processed.py:316-337, docs/rejects.md:9-22).
REJECT_COLUMNS = [
    "raw_row",
    "transaction_id",
    "store_id",
    "timestamp_raw",
    "timestamp_parsed",
    "item_id",
    "item_category",
    "quantity",
    "unit_price",
    "revenue",
    "payment_method",
    "customer_id",
    "reject_reason",
]

REJECT_REASON_STRUCTURAL = "MISSING_REQUIRED_COLUMN"
REJECT_REASON_TIMESTAMP = "INVALID_TIMESTAMP_FORMAT"
REJECT_REASON_BUSINESS = "BUSINESS_LOGIC_FAIL"

#: Columns hashed into gold ``row_hash``
#: (incremental_auto_compaction.py:210-212, docs/gold_job.md:24).
ROW_HASH_COLUMNS = [
    "transaction_id",
    "store_id",
    "timestamp",
    "item_id",
    "item_category",
    "quantity",
    "unit_price",
    "revenue",
    "payment_method",
]

#: DQ tolerance: abs(revenue - quantity*unit_price) <= 0.01
#: (glue_job_raw_to_processed.py:306).
REVENUE_TOLERANCE = 0.01
