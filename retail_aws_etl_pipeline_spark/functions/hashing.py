"""Row-identity hashing.

``business_row_hash`` matches the reference's gold-layer identity hash:
``md5(concat_ws("||", coalesce(cast(col as string), "")))`` over the 9
business columns (incremental_auto_compaction.py:210-212, docs/gold_job.md:24).

``business_row_hash64`` is the 100-TB-scale variant: ``xxhash64`` over the
same normalized input — 8 bytes instead of a 32-char hex string, an order of
magnitude cheaper to shuffle/compare at billions of rows (SURVEY.md §2.2
P13 note). Collision probability at 10^10 rows is ~0.3% birthday bound for
64-bit; pair with the md5 when absolute certainty is required.

``business_row_hash_sql`` is the md5 form as Spark SQL text, which the
lake path parses in one py4j call.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.functions.sqltext import sql_ident
from retail_aws_etl_pipeline_spark.schema import ROW_HASH_COLUMNS


def _normalized(columns: list[str] | None) -> list[Column]:
    cols = columns if columns is not None else ROW_HASH_COLUMNS
    return [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]


def business_row_hash(columns: list[str] | None = None) -> Column:
    """md5 hex over '||'-joined null-safe string casts (reference parity)."""
    return F.md5(F.concat_ws("||", *_normalized(columns)))


def business_row_hash64(columns: list[str] | None = None) -> Column:
    """xxhash64 over the same canonical string form (scale path)."""
    return F.xxhash64(F.concat_ws("||", *_normalized(columns)))


def business_row_hash_sql(columns: list[str] | None = None) -> str:
    """:func:`business_row_hash` as Spark SQL text."""
    cols = columns if columns is not None else ROW_HASH_COLUMNS
    parts = [f"coalesce(CAST({sql_ident(c)} AS STRING), '')" for c in cols]
    return f"md5(concat_ws('||', {', '.join(parts)}))"
