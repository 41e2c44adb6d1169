"""Regex-gated multi-format timestamp parsing as a single SQL expression.

Re-expresses the reference's cascade (glue_job_raw_to_processed.py:242-268,
docs/timestamp_parsing.md) as a configurable pattern registry producing ONE
native Catalyst expression — no UDF, fully codegen'd, scales linearly with
data and constant with pattern count.

Semantics (kept identical to the reference):
- Each ``(regex, format)`` pair gates ``to_timestamp`` behind ``rlike`` so a
  partial format match can never throw (docs/timestamp_parsing.md:3-5).
- Pairs are tried in order; the first NON-NULL parse wins. A regex match
  whose parse still nulls (impossible date like ``2024/02/30 25:61``) falls
  through to later patterns, and to NULL if none succeed.
- NULL result ⇒ INVALID_TIMESTAMP_FORMAT reject downstream.

We additionally use ``try_to_timestamp`` (Spark ≥ 3.4) underneath the regex
gate — belt and braces against ANSI-mode parse errors.

:func:`parse_timestamp_sql` writes the cascade as SQL text over a named
column (``coalesce(CASE WHEN c RLIKE p THEN try_to_timestamp(c, f) END, …)``),
which ``F.expr``/``selectExpr`` parse in one py4j call instead of ~4 Column
calls per pattern.

``REFERENCE_PATTERNS`` is the reference's exact 11-pattern behavior (the
parity default). ``EXTENDED_PATTERNS`` adds the doc-promised ``dd/MM``
variants (docs/timestamp_parsing.md:14-21) plus the forms observed in sample
data that the reference rejects (ISO-``T``, AM/PM, ``dd-MM-yy``) — order =
precedence, so ``MM/dd`` still wins over ``dd/MM`` on ambiguous strings and
``dd/MM`` only catches values where the month slot exceeds 12.
"""

from __future__ import annotations

from retail_aws_etl_pipeline_spark.functions.sqltext import sql_ident, sql_lit

#: The reference's exact cascade (glue_job_raw_to_processed.py:242-258).
REFERENCE_PATTERNS: list[tuple[str, str]] = [
    (r"^\d{4}-\d{2}-\d{2} \d{1,2}:\d{2}:\d{2}$", "yyyy-MM-dd H:mm:ss"),
    (r"^\d{4}-\d{2}-\d{2} \d{1,2}:\d{2}$", "yyyy-MM-dd H:mm"),
    (r"^\d{4}/\d{2}/\d{2} \d{1,2}:\d{2}:\d{2}$", "yyyy/MM/dd H:mm:ss"),
    (r"^\d{4}/\d{2}/\d{2} \d{1,2}:\d{2}$", "yyyy/MM/dd H:mm"),
    (r"^\d{2}/\d{2}/\d{4} \d{1,2}:\d{2}:\d{2}$", "MM/dd/yyyy H:mm:ss"),
    (r"^\d{2}/\d{2}/\d{4} \d{1,2}:\d{2}$", "MM/dd/yyyy H:mm"),
    (r"^\d{2}/\d{2}/\d{4}$", "MM/dd/yyyy"),
    (r"^\d{4}-\d{2}-\d{2}$", "yyyy-MM-dd"),
    (r"^\d{4}/\d{2}/\d{2}$", "yyyy/MM/dd"),
    (r"^\d{8} \d{6}$", "yyyyMMdd HHmmss"),
    (r"^\d{8}$", "yyyyMMdd"),
]

#: Superset: doc-promised dd/MM forms + sample-observed forms.
EXTENDED_PATTERNS: list[tuple[str, str]] = REFERENCE_PATTERNS + [
    # dd/MM fallbacks fire only when the MM/dd parse above nulls (month > 12)
    (r"^\d{2}/\d{2}/\d{4} \d{1,2}:\d{2}:\d{2}$", "dd/MM/yyyy H:mm:ss"),
    (r"^\d{2}/\d{2}/\d{4} \d{1,2}:\d{2}$", "dd/MM/yyyy H:mm"),
    (r"^\d{2}/\d{2}/\d{4}$", "dd/MM/yyyy"),
    # ISO-8601 'T' separator ("2025-06-12T05:03:38")
    (r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}$", "yyyy-MM-dd'T'HH:mm:ss"),
    # two-digit-year day-first ("07-12-24 20:23")
    (r"^\d{2}-\d{2}-\d{2} \d{1,2}:\d{2}$", "dd-MM-yy H:mm"),
    # AM/PM ("09/03/2025 06:28AM")
    (r"^\d{2}/\d{2}/\d{4} \d{1,2}:\d{2}(AM|PM)$", "MM/dd/yyyy hh:mma"),
    (r"^\d{2}/\d{2}/\d{4} \d{1,2}:\d{2}(AM|PM)$", "dd/MM/yyyy hh:mma"),
]


def parse_timestamp_sql(name: str, patterns: list[tuple[str, str]]) -> str:
    """The cascade over column ``name`` as Spark SQL text."""
    c = sql_ident(name)
    arms = [
        f"CASE WHEN {c} RLIKE {sql_lit(p)} THEN try_to_timestamp({c}, {sql_lit(f)}) END"
        for p, f in patterns
    ]
    return f"coalesce({', '.join(arms)})" if arms else "CAST(NULL AS TIMESTAMP)"
