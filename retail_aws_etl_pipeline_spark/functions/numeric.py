"""Currency / quantity normalization as Spark SQL text over a named column.

Same semantics as the reference's cleaners
(glue_job_raw_to_processed.py:279-287, re-applied defensively at
incremental_auto_compaction.py:205-207):

- ``clean_currency_sql``: keep only ``[0-9().-]``, map accounting negatives
  ``(x)`` → ``-x``, cast double. ``"$1,413.15"`` → 1413.15, ``"(5.00)"`` →
  -5.00, ``"N/A"``/empty → NULL.
- ``clean_quantity_sql``: keep only ``[0-9-]``, cast int (gold re-casts long).

Pure Catalyst expressions — three regexp_replace + a cast, whole-stage
codegen, no UDF — written as SQL text, which ``F.expr``/``selectExpr``
parse in one py4j call.
"""

from __future__ import annotations

import re

from retail_aws_etl_pipeline_spark.functions.sqltext import sql_ident, sql_lit

#: (pattern, replacement) steps of the currency cleaner, in order.
_CURRENCY_STEPS = [(r"[^0-9()\.-]", ""), (r"[(]", "-"), (r"[)]", "")]
_QUANTITY_PATTERN = "[^0-9-]"


def _type_name(target_type: str) -> str:
    if not re.fullmatch(r"[a-z]+", target_type):
        raise ValueError(f"not a simple type name: {target_type!r}")
    return target_type


def clean_currency_sql(name: str) -> str:
    """The currency cleaner over column ``name``."""
    c = f"CAST({sql_ident(name)} AS STRING)"
    for pattern, repl in _CURRENCY_STEPS:
        c = f"regexp_replace({c}, {sql_lit(pattern)}, {sql_lit(repl)})"
    # try_cast: malformed ('' / '-' / '--') → NULL. Spark 4 ANSI mode makes
    # plain cast THROW on these; the reference ran non-ANSI Spark where cast
    # nulled silently — try_cast restores that semantic explicitly.
    return f"try_cast({c} AS DOUBLE)"


def clean_quantity_sql(name: str, target_type: str = "int") -> str:
    """The quantity cleaner over column ``name``, cast to ``target_type``."""
    c = f"regexp_replace(CAST({sql_ident(name)} AS STRING), {sql_lit(_QUANTITY_PATTERN)}, '')"
    return f"try_cast({c} AS {_type_name(target_type)})"
