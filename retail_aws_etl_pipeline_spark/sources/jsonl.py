"""JSON-lines document parsing — the LLM-corpus interchange format.

Training-data pipelines exchange document corpora as (optionally
gzip/zstd-compressed) JSONL: one JSON object per line, schema known in
advance, malformed lines expected and audited rather than fatal. This
source mirrors the CSV ingest discipline (sources/reader.py — scrub,
split, audit) for that format:

- **Explicit schema, never inference**: ``spark.read.json`` without a
  schema runs a FULL extra pass over the data to infer one — at 100 TB
  that doubles the scan. Here the file is read as TEXT and parsed with
  ``from_json`` against the caller's schema (default: the documents
  table contract): ONE pass, and the raw line stays available verbatim
  for the reject sink. (This also sidesteps Spark's
  QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction — the raw-json-source
  formulation cannot project the corrupt column alone without caching
  the whole input, which is exactly what a 100 TB ingest must not do.)
- **Compression transparency**: .gz/.bz2 decode per file extension like
  any Spark text source (.zst too where the cluster ships the native
  hadoop codec — this container does not) — no code difference, only a
  parallelism note: gzip is not splittable, so one .gz file = one task;
  corpora should ship many moderate files rather than one giant archive.
- **Corrupt-line + required-field audits**: malformed JSON surfaces via
  the in-struct ``_corrupt_record`` (PERMISSIVE mode); rows parsing as
  JSON but missing doc_id or text are rejects too (the P6 null-split
  shape of the reference ingest), each tagged with a reason and
  carrying the ORIGINAL line.

Usable lines match the documents table contract
(doc_id/text/lang/source/n_chars, with n_chars recomputed — the wire
value is untrusted metadata); rejects keep the raw line and a reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The documents-table parse schema: ONLY the required/kept fields.
#: _corrupt_record is populated by from_json's PERMISSIVE mode when a line
#: fails to parse. The wire n_chars is deliberately ABSENT: under
#: PERMISSIVE a type mismatch on ANY schema field flags the whole row as
#: corrupt, so parsing a recomputed-and-discarded metadata field would
#: reject lines whose doc_id/text are perfectly usable (e.g. a producer
#: emitting "n_chars": "11" as a string — ADVICE r7). Fields not in the
#: schema are ignored by from_json; rejects therefore reflect genuinely
#: unusable lines only. Kept fields (lang/source) stay strict: a
#: type-corrupt partition key IS an unusable line.
DOCUMENTS_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def classify_jsonl_lines(
    text_df: DataFrame, schema: T.StructType = DOCUMENTS_JSONL_SCHEMA
) -> DataFrame:
    """ONE-PASS parse + audit classification over a text frame (``value``
    column): the single shared kernel every JSONL consumer derives from.

    Returns one row per input line with the parsed document columns, the
    raw line, and ``reject_reason`` (NULL for usable lines,
    'malformed_json' / 'missing_required_field' otherwise). Consumers
    that need both the good corpus AND the reject audit in one job
    aggregate THIS frame directly — filtering it into a good view and a
    reject view consumed by separate actions re-scans the source once
    per branch, which a 100 TB ingest must not do."""
    if "_corrupt_record" not in schema.fieldNames():
        schema = schema.add("_corrupt_record", T.StringType())
    parsed = text_df.select(
        F.col("value"),
        F.from_json(
            "value",
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("j"),
    )
    return parsed.select(
        F.col("value").alias("raw"),
        F.col("j.doc_id").alias("doc_id"),
        F.col("j.text").alias("text"),
        F.col("j.lang").alias("lang"),
        F.col("j.source").alias("source"),
        # recompute: the wire n_chars is untrusted metadata
        F.length("j.text").cast("long").alias("n_chars"),
        F.when(
            F.col("j").isNull() | F.col("j._corrupt_record").isNotNull(),
            F.lit("malformed_json"),
        )
        .when(
            F.col("j.doc_id").isNull() | F.col("j.text").isNull(),
            F.lit("missing_required_field"),
        )
        .alias("reject_reason"),
    )

