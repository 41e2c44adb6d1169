"""Header-flexible CSV reader: text scan → scrub → sniff → positional project.

Re-expresses the reference's runtime-discovered schema ingestion
(glue_job_raw_to_processed.py:99-217) as a reusable source. The two-phase
"sniff then plan" design is kept: a ≤20-line driver sample determines the
delimiter and header, then ONE lazy Spark plan handles the whole file —
the only driver round-trips are O(1) regardless of file size.

Differences from the reference (documented intent, SURVEY.md §7.4.3):
- the delimiter is regex-escaped before ``F.split`` (the reference passes
  ``|`` raw, which as a regex splits every character);
- duplicate header names: first occurrence wins (deterministic; the
  reference's dict comprehension silently kept the last).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.schema import (
    CANONICAL_COLUMNS,
    build_index_map,
    missing_required,
)
from retail_aws_etl_pipeline_spark.sources.sniff import sniff_delimiter

#: BOM / zero-width / nbsp scrub (glue_job_raw_to_processed.py:101-104).
INVISIBLE_CHARS_PATTERN = "[\\uFEFF\\u200B\\u00A0]"


@dataclass(frozen=True)
class FlexibleCsvMeta:
    delimiter: str
    header_line: str
    index_map: dict[str, int]
    missing_required: list[str]


def read_flexible_csv(
    spark: SparkSession, path: str, sample_lines: int = 20
) -> tuple[DataFrame, FlexibleCsvMeta]:
    """Read a delimited file with unknown dialect/header into the canonical
    10-column string frame + ``raw_row`` lineage column.

    Canonical columns absent from the header project as NULL; extra columns
    are ignored (docs/schema_mapping.md:23). Rows with too few tokens get
    NULLs in the overflow positions (out-of-range array access), which the
    structural validator downstream turns into rejects.
    """
    raw = spark.read.text(path)
    scrub = F.regexp_replace("value", INVISIBLE_CHARS_PATTERN, "")

    # The dialect sniff only needs the first lines — scrub them on the
    # driver-side limit path (cheap, 20 rows).
    sample = [
        r["value"]
        for r in raw.withColumn("value", scrub)
        .filter(F.trim(F.col("value")) != "")
        .limit(sample_lines)
        .collect()
    ]
    delimiter = sniff_delimiter("\n".join(sample))

    header_line = sample[0] if sample else ""
    index_map = build_index_map(header_line.split(delimiter))
    meta = FlexibleCsvMeta(
        delimiter=delimiter,
        header_line=header_line,
        index_map=index_map,
        missing_required=missing_required(index_map),
    )

    # A single raw file arrives as ONE input split (well under
    # files.maxPartitionBytes), so the scrub, the blank/header filters and
    # the positional split below run in one task. The fan-out across cores
    # is the quality router's ``raw_row`` exchange
    # (operators.validate.split_quality), which the heavy row work — the
    # timestamp cascade and currency cleaning — runs after; a round-robin
    # exchange here would be a second shuffle of every line.
    data = (
        raw.withColumn("value", scrub)
        .filter(F.trim(F.col("value")) != "")
        .filter(F.col("value") != F.lit(header_line))
    )
    tokens = F.split(F.col("value"), re.escape(delimiter))

    def extract(name: str):
        idx = index_map.get(name)
        if idx is None:
            return F.lit(None).cast("string")
        # F.get (not getItem): out-of-range → NULL. ANSI mode makes getItem
        # throw on short rows; NULL-on-shortfall is the semantic we want —
        # it's what routes token-count-mismatch rows to structural rejects.
        return F.get(tokens, idx)

    projections = [
        extract(c).alias("timestamp_raw" if c == "timestamp" else c)
        for c in CANONICAL_COLUMNS
    ]
    extracted = data.select(*projections, F.col("value").alias("raw_row"))
    return extracted, meta
