"""Currency / quantity normalization as native Column expressions.

Same semantics as the reference's cleaners
(glue_job_raw_to_processed.py:279-287, re-applied defensively at
incremental_auto_compaction.py:205-207):

- ``clean_currency``: keep only ``[0-9().-]``, map accounting negatives
  ``(x)`` → ``-x``, cast double. ``"$1,413.15"`` → 1413.15, ``"(5.00)"`` →
  -5.00, ``"N/A"``/empty → NULL.
- ``clean_quantity``: keep only ``[0-9-]``, cast int (gold re-casts long).

Pure Catalyst expressions — three regexp_replace + a cast, whole-stage
codegen, no UDF. The ``*_sql`` forms are the same expressions as Spark SQL
text over a named column, which the lake path parses in one py4j call.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.functions.sqltext import sql_ident, sql_lit

#: (pattern, replacement) steps of the currency cleaner, in order.
_CURRENCY_STEPS = [(r"[^0-9()\.-]", ""), (r"[(]", "-"), (r"[)]", "")]
_QUANTITY_PATTERN = "[^0-9-]"


def _as_col(source: Column | str) -> Column:
    return F.col(source) if isinstance(source, str) else source


def _type_name(target_type: str) -> str:
    if not re.fullmatch(r"[a-z]+", target_type):
        raise ValueError(f"not a simple type name: {target_type!r}")
    return target_type


def clean_currency(source: Column | str) -> Column:
    c = _as_col(source).cast("string")
    for pattern, repl in _CURRENCY_STEPS:
        c = F.regexp_replace(c, pattern, repl)
    # try_cast: malformed ('' / '-' / '--') → NULL. Spark 4 ANSI mode makes
    # plain cast THROW on these; the reference ran non-ANSI Spark where cast
    # nulled silently — try_cast restores that semantic explicitly.
    return c.try_cast("double")


def clean_quantity(source: Column | str, target_type: str = "int") -> Column:
    c = _as_col(source)
    return F.regexp_replace(c.cast("string"), _QUANTITY_PATTERN, "").try_cast(target_type)


def clean_currency_sql(name: str) -> str:
    """:func:`clean_currency` over column ``name`` as Spark SQL text."""
    c = f"CAST({sql_ident(name)} AS STRING)"
    for pattern, repl in _CURRENCY_STEPS:
        c = f"regexp_replace({c}, {sql_lit(pattern)}, {sql_lit(repl)})"
    return f"try_cast({c} AS DOUBLE)"


def clean_quantity_sql(name: str, target_type: str = "int") -> str:
    """:func:`clean_quantity` over column ``name`` as Spark SQL text."""
    c = f"regexp_replace(CAST({sql_ident(name)} AS STRING), {sql_lit(_QUANTITY_PATTERN)}, '')"
    return f"try_cast({c} AS {_type_name(target_type)})"
