"""Row-level data-quality routing: structural → timestamp → business splits.

Re-expresses the reference's three-way split
(glue_job_raw_to_processed.py:223-351) as ONE labeled row lineage per file:
every kept row carries a ``reject_reason`` (NULL = good), the frame is
persisted once, and ``good`` and ``rejects`` are two projections of it. The
first action (the caller's silver write) fills the cache and fires the one
``Observation`` that carries every class count; the JSON and CSV reject
sinks then read the cache. The reference recomputed the full parse lineage
five times (SURVEY.md §4); here the read, the fan-out shuffle, the
timestamp cascade and the dedup run once per file.

The lineage, in order:

1. ``repartition(defaultParallelism, "raw_row")`` — the fan-out of a
   single-split raw file across the cores. The count is explicit so AQE
   cannot coalesce the small shuffle to one task, and the hash key is the
   dedup window's clustering, so the window needs no second exchange.
2. structural: any required column NULL after positional projection
   (token shortfall or header-missing column) → MISSING_REQUIRED_COLUMN;
   timestamp: regex-gated cascade yields NULL → INVALID_TIMESTAMP_FORMAT.
3. exact-duplicate drop among the survivors of 2: ``row_number() over
   (partition by raw_row)`` keeps one row per raw line. This is the
   reference's full-row ``dropDuplicates`` exactly: every other column is a
   deterministic function of ``raw_row`` plus per-file constants (run id,
   source file, one ``ingest_ts``). Early rejects are all kept, duplicates
   included.
4. numeric cleaning (currency/quantity), metadata; business:
   |revenue − quantity×unit_price| > 0.01 → BUSINESS_LOGIC_FAIL.

One DOCUMENTED DEVIATION (SURVEY.md §7.4.3): in the reference, a row whose
required numeric cleans to NULL (``N/A``, empty string) makes the DQ
predicate evaluate to SQL NULL and the row silently vanishes from BOTH the
good and reject streams. Here NULL cleaned numerics are an explicit
BUSINESS_LOGIC_FAIL, so every input row is accounted for:
``data_rows == good + rejects + duplicates_removed`` (tested invariant).

Reject parity quirks preserved: business rejects carry their CLEANED
numeric values and a NULLed ``raw_row`` (glue_job_raw_to_processed.py:342);
structural/timestamp rejects carry raw strings and keep ``raw_row``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.functions.numeric import clean_currency_sql, clean_quantity_sql
from retail_aws_etl_pipeline_spark.functions.sqltext import sql_ident, sql_lit
from retail_aws_etl_pipeline_spark.functions.timestamps import (
    REFERENCE_PATTERNS,
    parse_timestamp_sql,
)
from retail_aws_etl_pipeline_spark.schema import (
    REJECT_COLUMNS,
    REJECT_REASON_BUSINESS,
    REJECT_REASON_STRUCTURAL,
    REJECT_REASON_TIMESTAMP,
    REQUIRED_COLUMNS,
    REVENUE_TOLERANCE,
    SILVER_SCHEMA,
)

#: Columns cleaned for the good/business path; early rejects keep the raw
#: strings, so the labeled frame carries both (the cleaned value under
#: ``_clean_<name>``).
_NUMERIC = {
    "quantity": clean_quantity_sql,
    "unit_price": clean_currency_sql,
    "revenue": clean_currency_sql,
}

_STRUCTURAL, _TIMESTAMP, _BUSINESS = (
    sql_lit(r) for r in (REJECT_REASON_STRUCTURAL, REJECT_REASON_TIMESTAMP, REJECT_REASON_BUSINESS)
)
#: A required column NULL after positional projection.
_STRUCT_NULL = " OR ".join(
    f"{sql_ident('timestamp_raw' if c == 'timestamp' else c)} IS NULL" for c in REQUIRED_COLUMNS
)
_EARLY = f"reject_reason IN ({_STRUCTURAL}, {_TIMESTAMP})"
_IS_BUSINESS = f"reject_reason = {_BUSINESS}"
#: One window spec for both the survivor pick and the copy count, so the
#: plan holds one Window operator over the ``raw_row`` clustering.
_BY_LINE = "PARTITION BY raw_row ORDER BY raw_row"


@dataclass
class QualitySplit:
    """Outcome of the quality routing over one extracted frame.

    ``good`` and ``rejects`` are projections of one persisted labeled frame
    (``cached``; the caller unpersists it after its last sink). ``counts``
    starts empty: the class counts ride the first action over either
    projection via an ``Observation`` inside the cached plan (zero extra
    jobs). Call :meth:`resolve_counts` AFTER that first action to
    materialize the dict; calling it before any action blocks until one
    completes.
    """

    good: DataFrame  # silver-shaped rows (pre-write)
    rejects: DataFrame  # fixed 13-column reject frame, all three classes
    counts: dict = field(default_factory=dict)  # resolved class counts
    cached: list[DataFrame] | None = None  # persisted lineages; caller unpersists
    _resolve: Callable[[], dict] | None = None

    def resolve_counts(self) -> dict:
        if not self.counts and self._resolve is not None:
            self.counts = self._resolve()
        return self.counts


def _is_pruned_observation(exc: Exception) -> bool:
    """The signature of an Observation that AQE pruned under an empty
    relation: ``PythonSQLUtils.toPyRow`` asserting on a schemaless row."""
    return (
        isinstance(exc, Py4JJavaError)
        and exc.java_exception.getClass().getName() == "java.lang.AssertionError"
        and "toPyRow" in str(exc)
    )


def split_quality(
    extracted: DataFrame,
    ingest_run_id: str,
    source_file: str,
    timestamp_patterns: list[tuple[str, str]] | None = None,
    ingest_ts=None,
) -> QualitySplit:
    """Route one extracted frame into silver-good rows + tagged rejects.

    ``ingest_ts`` is an injectable Column (default ``current_timestamp()``)
    so tests and oracle comparisons can pin a deterministic clock
    (SURVEY.md §7.4.4). The Observation is named after ``ingest_run_id``:
    observation names must be unique within a query execution, and the
    splits that batched ingest unions into one plan have distinct run ids.
    """
    patterns = timestamp_patterns if timestamp_patterns is not None else REFERENCE_PATTERNS
    ingest_ts_col = ingest_ts if ingest_ts is not None else F.current_timestamp()
    n_parts = extracted.sparkSession.sparkContext.defaultParallelism

    # The projections are SQL text with engine constants only (see
    # functions.sqltext); the per-file values — run id, source file, clock —
    # enter as Columns.
    # -- fan-out, structural + timestamp reason, survivor dedup -------------
    # row_number needs an order; the rows of one raw_row partition are
    # identical, so any of them may be the one kept.
    cascade = parse_timestamp_sql("timestamp_raw", patterns)
    labeled = (
        extracted.repartition(n_parts, "raw_row")
        .selectExpr("*", f"CASE WHEN NOT ({_STRUCT_NULL}) THEN {cascade} END AS timestamp_parsed")
        .selectExpr(
            "*",
            f"CASE WHEN {_STRUCT_NULL} THEN {_STRUCTURAL} "
            f"WHEN timestamp_parsed IS NULL THEN {_TIMESTAMP} END AS reject_reason",
            f"row_number() OVER ({_BY_LINE}) AS _rn",
            f"count(1) OVER ({_BY_LINE} ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND UNBOUNDED FOLLOWING) AS _copies",
        )
        .filter("reject_reason IS NOT NULL OR _rn = 1")
    )

    # -- numeric cleaning + metadata (glue_job_raw_to_processed.py:279-298) --
    labeled = labeled.withColumns(
        {
            **{f"_clean_{name}": F.expr(clean(name)) for name, clean in _NUMERIC.items()},
            "timestamp": F.col("timestamp_parsed"),
            "ingest_run_id": F.lit(ingest_run_id),
            "source_file": F.lit(source_file),
            "ingest_ts": ingest_ts_col,
            "date": F.expr("to_date(timestamp_parsed)"),
        }
    )

    # -- business DQ (glue_job_raw_to_processed.py:304-310 + null-numeric
    # deviation documented above) -------------------------------------------
    q, up, rev = (f"_clean_{n}" for n in ("quantity", "unit_price", "revenue"))
    dq = (
        f"{q} IS NULL OR {up} IS NULL OR {rev} IS NULL "
        f"OR abs({rev} - {q} * {up}) > {sql_lit(REVENUE_TOLERANCE)}"
    )
    labeled = labeled.withColumn(
        "reject_reason",
        F.expr(f"CASE WHEN {_EARLY} THEN reject_reason WHEN {dq} THEN {_BUSINESS} END"),
    )

    # Every class count in one Observation on the persisted frame: it fires
    # once, while the first action fills the cache. A kept survivor stands
    # for its ``_copies`` identical input lines; an early reject for itself.
    count_exprs = [
        F.expr(e)
        for e in (
            f"sum(CASE WHEN {_EARLY} THEN 1 ELSE _copies END) AS total",
            "count(1) AS kept",
            *[
                f"sum(CASE WHEN reject_reason = {r} THEN 1 ELSE 0 END) AS {alias}"
                for alias, r in (
                    ("structural", _STRUCTURAL),
                    ("invalid_timestamp", _TIMESTAMP),
                    ("business", _BUSINESS),
                )
            ],
        )
    ]
    obs = Observation(f"quality_counts_{ingest_run_id}")
    labeled = labeled.observe(obs, *count_exprs).persist(StorageLevel.MEMORY_AND_DISK)

    good = labeled.filter("reject_reason IS NULL").selectExpr(
        *[
            f"_clean_{f.name} AS {f.name}" if f.name in _NUMERIC else sql_ident(f.name)
            for f in SILVER_SCHEMA.fields
        ]
    )

    def reject_col(c: str) -> str:
        if c in _NUMERIC:
            return f"CASE WHEN {_IS_BUSINESS} THEN CAST(_clean_{c} AS STRING) ELSE {c} END AS {c}"
        if c == "raw_row":
            return f"CASE WHEN NOT ({_IS_BUSINESS}) THEN raw_row END AS raw_row"
        return sql_ident(c)

    rejects = labeled.filter("reject_reason IS NOT NULL").selectExpr(
        *[reject_col(c) for c in REJECT_COLUMNS]
    )

    def _resolve() -> dict:
        try:
            got = obs.get
        except Py4JJavaError as exc:
            # When the silver write's input is empty AT RUNTIME (e.g. every
            # row a structural reject), AQE's empty-relation propagation
            # can prune the plan that holds the Observation; the same
            # counts then come from one aggregation over the cached frame.
            if not _is_pruned_observation(exc):
                raise
            got = labeled.agg(*count_exprs).first().asDict()
        # SUM over an empty frame aggregates to NULL — treat as 0.
        c = {k: v or 0 for k, v in got.items()}
        rejects_n = c["structural"] + c["invalid_timestamp"] + c["business"]
        return {
            "data_rows": c["total"],
            "structural_rejects": c["structural"],
            "timestamp_rejects": c["invalid_timestamp"],
            "duplicates_removed": c["total"] - c["kept"],
            "business_rejects": c["business"],
            "good_rows": c["kept"] - rejects_n,
            "reject_rows": rejects_n,
        }

    return QualitySplit(good=good, rejects=rejects, cached=[labeled], _resolve=_resolve)
