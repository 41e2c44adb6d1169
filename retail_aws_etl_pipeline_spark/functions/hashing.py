"""Row-identity hashing.

``business_row_hash_sql`` matches the reference's gold-layer identity hash:
``md5(concat_ws("||", coalesce(cast(col as string), "")))`` over the 9
business columns (incremental_auto_compaction.py:210-212, docs/gold_job.md:24),
as Spark SQL text, which the lake path parses in one py4j call.
"""

from __future__ import annotations

from retail_aws_etl_pipeline_spark.functions.sqltext import sql_ident
from retail_aws_etl_pipeline_spark.schema import ROW_HASH_COLUMNS


def business_row_hash_sql(columns: list[str] | None = None) -> str:
    """md5 hex over '||'-joined null-safe string casts (reference parity)."""
    cols = columns if columns is not None else ROW_HASH_COLUMNS
    parts = [f"coalesce(CAST({sql_ident(c)} AS STRING), '')" for c in cols]
    return f"md5(concat_ws('||', {', '.join(parts)}))"
