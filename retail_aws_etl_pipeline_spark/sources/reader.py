"""Header-flexible CSV reader: text scan → scrub → sniff → positional project.

Re-expresses the reference's runtime-discovered schema ingestion
(glue_job_raw_to_processed.py:99-217) as a reusable source. The two-phase
"sniff then plan" design is kept: a ≤20-line sample determines the
delimiter and header, then ONE lazy Spark plan handles the whole file.
The sample is read on the driver (``sniff_text``) and split, scrubbed and
filtered exactly as the Spark plan does it: building the plan submits no
Spark job, and the read is O(1) regardless of file size.

:func:`sniff_header` is the ONE header decision of the ingest path: the
file gate (``ingest.validate_file_head``) judges the header this reader
will map, so it rejects exactly the files whose required columns the
reader cannot find (the reference's Lambda and Glue sniffs disagree,
SURVEY.md §1.4).

Differences from the reference (documented intent, SURVEY.md §7.4.3):
- the delimiter is regex-escaped before ``split`` (the reference passes
  ``|`` raw, which as a regex splits every character);
- duplicate header names: first occurrence wins (deterministic; the
  reference's dict comprehension silently kept the last).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.functions.sqltext import sql_ident, sql_lit
from retail_aws_etl_pipeline_spark.schema import (
    CANONICAL_COLUMNS,
    build_index_map,
    missing_required,
)
from retail_aws_etl_pipeline_spark.sources.sniff import sniff_delimiter, sniff_text

#: BOM / zero-width / nbsp scrub (glue_job_raw_to_processed.py:101-104).
INVISIBLE_CHARS_PATTERN = "[\\uFEFF\\u200B\\u00A0]"

#: The text source's line terminators (Hadoop LineReader: LF, CR, CRLF).
_LINE_BREAK = re.compile(r"\r\n|\r|\n")
_HEAD_BYTES = 65536
#: Hadoop glob metacharacters: ``path`` names one file, never a pattern.
_GLOB_CHARS = re.compile(r"([\\*?\[\]{}])")


def _head_lines(path: str, n: int) -> list[str]:
    """The first ``n`` lines ``spark.read.text(path)`` would yield after the
    reader's scrub and blank filter, taken from a driver-side head read
    (:func:`sniff_text`): Spark's line terminators, the same
    invisible-character scrub, and Spark's ``trim`` (which strips spaces
    only) for the blank rule. The head doubles from 64 KB only while it
    holds fewer than ``n`` such lines and the file goes on."""
    size = os.path.getsize(path)
    max_bytes = _HEAD_BYTES
    while True:
        parts = _LINE_BREAK.split(sniff_text(path, max_bytes))
        if max_bytes < size:
            parts.pop()  # the line the head cuts
        scrubbed = (re.sub(INVISIBLE_CHARS_PATTERN, "", p) for p in parts)
        lines = [ln for ln in scrubbed if ln.strip(" ")]
        if len(lines) >= n or max_bytes >= size:
            return lines[:n]
        max_bytes *= 2


@dataclass(frozen=True)
class FlexibleCsvMeta:
    delimiter: str
    header_line: str
    index_map: dict[str, int]
    missing_required: list[str]


def sniff_header(path: str) -> FlexibleCsvMeta:
    """The header decision for one file: its first lines as the reader's
    Spark plan sees them (:func:`_head_lines`) → delimiter → index map of
    the first line. No Spark job."""
    sample = _head_lines(path, 20)  # the reference's Glue job sniffs 20 lines
    delimiter = sniff_delimiter("\n".join(sample))
    header_line = sample[0] if sample else ""
    index_map = build_index_map(header_line.split(delimiter))
    return FlexibleCsvMeta(delimiter, header_line, index_map, missing_required(index_map))


def read_flexible_csv(spark: SparkSession, path: str) -> tuple[DataFrame, FlexibleCsvMeta]:
    """Read a delimited file with unknown dialect/header into the canonical
    10-column string frame + ``raw_row`` lineage column.

    Canonical columns absent from the header project as NULL; extra columns
    are ignored (docs/schema_mapping.md:23). Rows with too few tokens get
    NULLs in the overflow positions (out-of-range array access), which the
    structural validator downstream turns into rejects.

    ``path`` names one local, uncompressed UTF-8 file (the file gate's
    contract), never a directory or a glob pattern: its glob
    metacharacters are escaped, so a name with ``\\``, ``[`` or ``*``
    reads as itself.
    """
    meta = sniff_header(path)

    # A single raw file arrives as ONE input split (well under
    # files.maxPartitionBytes), so the scrub, the blank/header filters and
    # the positional split below run in one task. The fan-out across cores
    # is the quality router's ``raw_row`` exchange
    # (operators.validate.split_quality), which the heavy row work — the
    # timestamp cascade and currency cleaning — runs after; a round-robin
    # exchange here would be a second shuffle of every line.
    #
    # SQL text with engine constants only (the delimiter is one of
    # sniff.CANDIDATE_DELIMITERS); the header line is file data and enters
    # as a literal Column.
    data = (
        spark.read.text(_GLOB_CHARS.sub(r"\\\1", path))
        .selectExpr(f"regexp_replace(value, {sql_lit(INVISIBLE_CHARS_PATTERN)}, '') AS value")
        .filter("trim(value) != ''")
        .filter(F.col("value") != F.lit(meta.header_line))
    )
    tokens = f"split(value, {sql_lit(re.escape(meta.delimiter))})"

    def extract(name: str) -> str:
        idx = meta.index_map.get(name)
        if idx is None:
            return "CAST(NULL AS STRING)"
        # get (not [] / getItem): out-of-range → NULL. ANSI mode makes
        # getItem throw on short rows; NULL-on-shortfall is the semantic we
        # want — it's what routes token-count-mismatch rows to structural
        # rejects.
        return f"get({tokens}, {idx})"

    projections = [
        f"{extract(c)} AS {sql_ident('timestamp_raw' if c == 'timestamp' else c)}"
        for c in CANONICAL_COLUMNS
    ]
    extracted = data.selectExpr(*projections, "value AS raw_row")
    return extracted, meta
