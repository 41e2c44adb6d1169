"""Raw CSV → silver Parquet + quarantined rejects, one file or a batch.

Collapses the reference's Lambda→Glue two-process flow
(lambda_validator.py:117-177 + glue_job_raw_to_processed.py) into one
ingest routine with the same zones and semantics; :func:`ingest_file` is a
batch of one and :func:`ingest_batch` a batch of N:

1. file-level gate: empty 64 KB head → system reject; a header missing
   required columns → structural reject, each with a ``_reason.json``
   (lambda_validator.py:140-161). Unlike the reference (SURVEY.md §1.4,
   the Lambda and Glue sniffs disagree), the gate judges the header the
   reader will map: both take it from ``sources.reader.sniff_header``.
2. row-level quality routing via ``operators.validate.split_quality``.
3. sinks: silver partitioned by ``date`` (ONE append under the lake's
   commit protocol for the whole call, K1); rejects as JSON-lines
   (machine, K3) + single coalesced CSV (analyst, K4); summary metrics
   (K5, replaces SNS publish with a returned/logged dict).
4. archive each input under a lineage name (K6).

A failure after the gate quarantines every file of the call that passed
it to ``rejected/system`` and undoes their silver rows before the error
propagates (K7).

Scale notes: the driver reads only an O(1) head of each file (no Spark
job runs before the plan exists) and builds each plan from a few SQL-text
projections (a handful of py4j calls, not one per Column). All row work
of a file is one labeled lineage (read → ``raw_row`` fan-out shuffle →
timestamp cascade → dedup window → cleaning), persisted once: the silver
write fills the cache and fires the single class-count Observation, and
the JSON and CSV reject sinks read the cache (the reference recomputed the
full lineage 5×, SURVEY.md §4).
"""

from __future__ import annotations

import json
import logging
import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from retail_aws_etl_pipeline_spark.lake import LakeLayout, lineage_name, move_file, new_run_id
from retail_aws_etl_pipeline_spark.operators.validate import QualitySplit, split_quality
from retail_aws_etl_pipeline_spark.sources.reader import read_flexible_csv, sniff_header
from retail_aws_etl_pipeline_spark.sources.sniff import sniff_text

log = logging.getLogger(__name__)


@dataclass
class IngestResult:
    status: str  # "ok" | "file_rejected"
    source_file: str
    ingest_run_id: str
    counts: dict = field(default_factory=dict)
    file_errors: list[str] = field(default_factory=list)


def validate_file_head(path: str) -> list[str]:
    """File-level checks; [] means pass. ``empty_file`` when the 64 KB head
    holds no non-whitespace character, else ``missing_columns:[...]`` when
    the reader's header (:func:`~retail_aws_etl_pipeline_spark.sources.reader.sniff_header`)
    lacks a required column."""
    if not sniff_text(path).strip():
        return ["empty_file"]
    missing = sniff_header(path).missing_required
    return [f"missing_columns:{missing}"] if missing else []


def _quarantine(
    path: str, lake: LakeLayout, kind: str, result: IngestResult, reason: dict, archive: bool
) -> None:
    """Move a file to ``rejected/<kind>`` (when ``archive``) under its
    lineage name, with a ``_reason.json`` beside it."""
    reject_dir = lake.rejected(kind)
    os.makedirs(reject_dir, exist_ok=True)
    name = lineage_name(result.source_file, result.ingest_run_id)
    if archive and os.path.exists(path):
        move_file(path, reject_dir, name)
    with open(os.path.join(reject_dir, f"{name}_reason.json"), "w") as f:
        json.dump({"file": result.source_file, **reason}, f)


def _write_sinks(
    spark: SparkSession, lake: LakeLayout, splits: list[QualitySplit], write_reject_csv: bool
) -> None:
    """The sinks of one or more routed files: their good rows as ONE silver
    append through the lake's commit protocol, then their rejects as
    JSON lines (machine, K3) and one coalesced CSV (analyst, K4)."""
    # repartition by the partition key first: otherwise every task holds
    # rows of every date and a D-date file writes T×D small files
    # (observed 32×550 on the bench); this way each date lands in one
    # task → one file per date. The partition COUNT is explicit: with a
    # bare repartition("date") AQE coalesces the small shuffle to a
    # single task, which then creates every date directory serially
    # (~16 ms each — measured 9 s for 550 dates); pinning N keeps the
    # directory/file creation spread across the cluster.
    #
    # The silver write goes FIRST: it is the action that fills each
    # labeled frame's cache and fires its count Observation, so the
    # class counts (and the reject-write decision below) cost zero extra
    # jobs and both reject sinks read the cache.
    good = reduce(DataFrame.unionByName, [s.good for s in splits])
    lake.silver_table.append(good.repartition(spark.sparkContext.defaultParallelism, "date"))
    rejects = [s.rejects for s in splits if s.resolve_counts()["reject_rows"] > 0]
    if not rejects:
        return
    rej = reduce(DataFrame.unionByName, rejects)
    rej.write.mode("append").json(lake.rejected("data_quality/json"))
    if write_reject_csv:
        (
            rej.coalesce(1)
            .write.mode("append")
            .option("header", True)
            .csv(lake.rejected("data_quality/csv"))
        )


def _ingest(
    spark: SparkSession,
    lake: LakeLayout,
    files: list[tuple[str, str]],
    timestamp_patterns: list[tuple[str, str]] | None,
    ingest_ts,
    archive: bool,
    write_reject_csv: bool,
) -> list[IngestResult]:
    """Ingest ``(path, run_id)`` pairs: per file gate → read → route, then
    one set of sinks for every routed file, then archive. Results keep the
    input order."""
    # A lake holding the other commit protocol's layout is a configuration
    # error, not a bad file: raise before any input moves.
    lake.silver_table.check_layout()
    results: list[IngestResult] = []
    passed: list[tuple[str, IngestResult]] = []  # the files past the gate
    splits: list[QualitySplit] = []
    try:
        for path, run_id in files:
            result = IngestResult("ok", os.path.basename(path), run_id)
            results.append(result)
            result.file_errors = validate_file_head(path)
            if result.file_errors:
                result.status = "file_rejected"
                kind = "system" if "empty_file" in result.file_errors else "structural"
                _quarantine(path, lake, kind, result, {"errors": result.file_errors}, archive)
                log.warning("file rejected %s: %s", result.source_file, result.file_errors)
                continue
            passed.append((path, result))
            extracted, _meta = read_flexible_csv(spark, path)
            splits.append(
                split_quality(
                    extracted,
                    ingest_run_id=run_id,
                    source_file=result.source_file,
                    timestamp_patterns=timestamp_patterns,
                    ingest_ts=ingest_ts,
                )
            )
        if splits:
            _write_sinks(spark, lake, splits, write_reject_csv)
    except Exception as exc:
        # The reference's K7 intent (glue_job_raw_to_processed.py:421-443)
        # with a working rollback: every file past the gate is quarantined
        # and never retried, so whatever the silver append left of their
        # runs is undone before the error propagates.
        for path, result in passed:
            _quarantine(path, lake, "system", result, {"error": str(exc)[:2000]}, archive)
        if passed:
            try:
                lake.silver_table.undo_append(spark, [r.ingest_run_id for _, r in passed])
            except Exception as purge_exc:  # keep the original error primary
                log.error("silver purge after failed ingest also failed: %s", purge_exc)
        log.error("ingest failed, %d file(s) quarantined to rejected/system: %s", len(passed), exc)
        raise
    finally:
        for split in splits:
            for df in split.cached or []:
                df.unpersist()

    for (path, result), split in zip(passed, splits):
        if archive:
            name = lineage_name(result.source_file, result.ingest_run_id)
            move_file(path, lake.archive("validated"), name)
        result.counts = dict(split.resolve_counts())
        log.info("DATA QUALITY REPORT %s: %s", result.source_file, result.counts)
    return results


def ingest_file(
    spark: SparkSession,
    path: str,
    lake: LakeLayout,
    ingest_run_id: str | None = None,
    timestamp_patterns: list[tuple[str, str]] | None = None,
    ingest_ts=None,
    archive: bool = True,
    write_reject_csv: bool = True,
) -> IngestResult:
    """Ingest one raw delimited file into the lake's silver zone, under the
    lake's commit protocol (``lake.commit``): a batch of one.

    A failure after the gate quarantines the file to ``rejected/system``
    and undoes its silver append (:meth:`~retail_aws_etl_pipeline_spark.lake.LakeTable.undo_append`)
    before the error propagates.
    """
    return _ingest(
        spark, lake, [(path, ingest_run_id or new_run_id())],
        timestamp_patterns, ingest_ts, archive, write_reject_csv,
    )[0]


def ingest_batch(
    spark: SparkSession,
    paths: list[str],
    lake: LakeLayout,
    timestamp_patterns: list[tuple[str, str]] | None = None,
    ingest_ts=None,
    archive: bool = True,
    write_reject_csv: bool = True,
) -> list[IngestResult]:
    """Batched ingest: N raw files as ONE unioned plan and one silver write.

    Per-file semantics are preserved — each file keeps its own sniffed
    projection, run id, within-file exact-line dedup, and per-file class
    counts (one Observation per run id) — but the cluster executes a
    single write job over the union, so many small files no longer
    serialize into per-file job barriers (the reference's
    one-Glue-run-per-file shape). This also sidesteps the committer hazard
    of CONCURRENT appends to one parquet root (parallel ``ingest_file``
    calls share ``_temporary``): one job, one committer, full parallelism
    across files.

    Files failing the head gate are quarantined individually and do not
    poison the batch. A failure after the gate fails the whole batch, as
    in :func:`ingest_file`: every file that passed the gate moves to
    ``rejected/system`` with a reason file, their silver rows are undone
    in one pass, and the error is re-raised. This replaces the earlier
    policy for batches (inputs left in place, partial silver rows kept,
    the batch retried whole by the next run): one bad file now
    quarantines every file of its batch.
    """
    return _ingest(
        spark, lake, [(p, new_run_id()) for p in paths],
        timestamp_patterns, ingest_ts, archive, write_reject_csv,
    )


def ingest_pending(
    spark: SparkSession,
    incoming_dir: str,
    lake: LakeLayout,
    ledger_path: str | None = None,
    batch_size: int = 1,
    **ingest_kwargs,
) -> list[IngestResult]:
    """Incremental directory ingest: process files not yet in the ledger.

    The batch analog of the reference's S3-PUT→Lambda→Glue event trigger
    (lambda_validator.py:117-177) and of a Structured Streaming file source
    with ``Trigger.AvailableNow``: each run picks up exactly the files that
    have not been processed before, in name order. The ledger (JSON lines
    of processed file names) is the checkpoint; a file is ledgered only
    after its ingest fully succeeds, so a crashed run simply reprocesses
    the unfinished work (idempotent: silver appends are per-run-id, gold
    compaction dedups by key).

    Files go through :func:`ingest_batch` in chunks of ``batch_size`` —
    one unioned plan and one silver write per chunk (the scale path for
    backlogs of many small files); a chunk is ledgered after it succeeds.
    A failed chunk raises with its files quarantined, so nothing of it is
    ledgered or retried. The default of 1 keeps the reference's
    file-at-a-time granularity.
    """
    ledger_path = ledger_path or os.path.join(lake.root, "ingest_ledger.jsonl")
    seen: set[str] = set()
    if os.path.exists(ledger_path):
        with open(ledger_path) as f:
            seen = {json.loads(line)["file"] for line in f if line.strip()}
    pending = [
        name
        for name in sorted(os.listdir(incoming_dir))
        if name not in seen and os.path.isfile(os.path.join(incoming_dir, name))
    ]
    results: list[IngestResult] = []
    for i in range(0, len(pending), batch_size):
        chunk = pending[i : i + batch_size]
        paths = [os.path.join(incoming_dir, n) for n in chunk]
        batch = ingest_batch(spark, paths, lake, **ingest_kwargs)
        results.extend(batch)
        os.makedirs(os.path.dirname(ledger_path), exist_ok=True)
        with open(ledger_path, "a") as f:
            for name, r in zip(chunk, batch):
                line = {"file": name, "run_id": r.ingest_run_id, "status": r.status}
                f.write(json.dumps(line) + "\n")
    return results
