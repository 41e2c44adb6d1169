"""One-file ingestion: raw CSV → silver Parquet + quarantined rejects.

Collapses the reference's Lambda→Glue two-process flow
(lambda_validator.py:117-177 + glue_job_raw_to_processed.py) into one
library entry point with the same zones and semantics:

1. file-level validation on a 64 KB head sample: empty file → system
   reject; undetectable delimiter or header missing required columns →
   structural reject with a ``_reason.json`` (lambda_validator.py:140-161).
   Unlike the reference Lambda (SURVEY.md §1.4 inconsistency), the header
   check uses the SAME normalization + synonym pass as row-level parsing.
2. row-level quality routing via ``operators.validate.split_quality``.
3. sinks: silver partitioned by ``date`` (an append under the lake's
   commit protocol, K1); rejects as
   JSON-lines (machine, K3) + single coalesced CSV (analyst, K4); summary
   metrics JSON (K5, replaces SNS publish with a returned/logged dict).
4. archive the input under a lineage name (K6).

Scale notes: the driver reads only an O(1) head of the file — the gate's
64 KB sample, from which the reader also takes its ≤20-line dialect sniff,
so no Spark job runs before the plan exists — and builds each plan from a
few SQL-text projections (a handful of py4j calls, not one per Column). All row work of a file is one labeled lineage (read → ``raw_row``
fan-out shuffle → timestamp cascade → dedup window → cleaning), persisted
once: the silver write fills the cache and fires the single class-count
Observation, and the JSON and CSV reject sinks read the cache (the
reference recomputed the full lineage 5×, SURVEY.md §4).
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
from retail_aws_etl_pipeline_spark.schema import build_index_map, missing_required
from retail_aws_etl_pipeline_spark.sources.reader import read_flexible_csv
from retail_aws_etl_pipeline_spark.sources.sniff import sniff_delimiter, sniff_text

log = logging.getLogger(__name__)


@dataclass
class IngestResult:
    status: str  # "ok" | "file_rejected"
    source_file: str
    ingest_run_id: str
    counts: dict = field(default_factory=dict)
    file_errors: list[str] = field(default_factory=list)
    silver_path: str | None = None


def validate_file_head(path: str, max_bytes: int = 65536) -> list[str]:
    """File-level structural checks on a head sample; [] means pass."""
    sample = sniff_text(path, max_bytes)
    if not sample.strip():
        return ["empty_file"]
    delimiter = sniff_delimiter(sample)
    header_line = next(
        (ln for ln in sample.splitlines() if ln.strip()), ""
    ).lstrip("﻿")
    index_map = build_index_map(header_line.split(delimiter))
    missing = missing_required(index_map)
    errors: list[str] = []
    if missing:
        errors.append(f"missing_columns:{missing}")
    return errors


def _reject_file(
    path: str, lake: LakeLayout, source_file: str, run_id: str, file_errors: list[str], archive: bool
) -> IngestResult:
    """Quarantine a file that failed the head gate: an empty file goes to
    ``rejected/system``, any other failure to ``rejected/structural``, each
    with a ``_reason.json`` beside it."""
    reject_dir = lake.rejected("structural" if "empty_file" not in file_errors else "system")
    os.makedirs(reject_dir, exist_ok=True)
    dst = move_file(path, reject_dir, lineage_name(source_file, run_id)) if archive else path
    with open(os.path.join(reject_dir, f"{os.path.basename(dst)}_reason.json"), "w") as f:
        json.dump({"file": source_file, "errors": file_errors}, f)
    log.warning("file rejected %s: %s", source_file, file_errors)
    return IngestResult("file_rejected", source_file, run_id, file_errors=file_errors)


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
    lake's commit protocol (``lake.commit``).

    A failure after the gate quarantines the file to ``rejected/system``
    and undoes its silver append (:meth:`~retail_aws_etl_pipeline_spark.lake.LakeTable.undo_append`)
    before the error propagates.
    """
    run_id = ingest_run_id or new_run_id()
    source_file = os.path.basename(path)

    # -- 1. file-level gate -------------------------------------------------
    file_errors = validate_file_head(path)
    if file_errors:
        return _reject_file(path, lake, source_file, run_id, file_errors, archive)

    # -- 2+3. parse + route + sinks; on ANY failure the input file is
    # quarantined to rejected/system with a reason file and the error
    # re-raised — the reference's K7 intent (glue_job_raw_to_processed.py:
    # 421-443) with a working rollback: since a quarantined file is never
    # retried, whatever its silver append left behind is undone before the
    # error propagates (LakeTable.undo_append).
    split: QualitySplit | None = None
    try:
        extracted, meta = read_flexible_csv(spark, path)
        split = split_quality(
            extracted,
            ingest_run_id=run_id,
            source_file=source_file,
            timestamp_patterns=timestamp_patterns,
            ingest_ts=ingest_ts,
        )
        _write_sinks(spark, lake, [split], write_reject_csv)
    except Exception as exc:
        reject_dir = lake.rejected("system")
        os.makedirs(reject_dir, exist_ok=True)
        dst_name = lineage_name(source_file, run_id)
        if archive and os.path.exists(path):
            move_file(path, reject_dir, dst_name)
        with open(os.path.join(reject_dir, f"{dst_name}_reason.json"), "w") as f:
            json.dump({"file": source_file, "error": str(exc)[:2000]}, f)
        try:
            lake.silver_table.undo_append(spark, run_id)
        except Exception as purge_exc:  # keep the original error primary
            log.error("silver purge after failed ingest also failed: %s", purge_exc)
        log.error("ingest failed, file quarantined to rejected/system: %s", exc)
        raise
    finally:
        if split is not None and split.cached:
            for df in split.cached:
                df.unpersist()

    # -- 4. archive + summary ----------------------------------------------
    if archive:
        move_file(path, lake.archive("validated"), lineage_name(source_file, run_id))

    summary = dict(split.counts)
    log.info("DATA QUALITY REPORT %s: %s", source_file, summary)
    return IngestResult(
        "ok", source_file, run_id, counts=summary, silver_path=lake.processed
    )


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
    counts (namespaced Observations) — but the cluster executes a single
    write job over the union, so many small files no longer serialize into
    per-file job barriers (the reference's one-Glue-run-per-file shape).
    This also sidesteps the committer hazard of CONCURRENT appends to one
    parquet root (parallel ``ingest_file`` calls share ``_temporary``):
    one job, one committer, full parallelism across files.

    Failure anywhere in the batch leaves the inputs in place and nothing
    ledgered: rerun is at-least-once, and replayed rows collapse in gold's
    keep-latest dedup. Files failing the head gate are quarantined
    individually and do not poison the batch.
    """
    gate_results: dict[str, IngestResult] = {}
    entries: list[tuple[str, str, str, QualitySplit]] = []
    try:
        for i, path in enumerate(paths):
            source_file = os.path.basename(path)
            run_id = new_run_id()
            file_errors = validate_file_head(path)
            if file_errors:
                gate_results[path] = _reject_file(
                    path, lake, source_file, run_id, file_errors, archive
                )
                continue
            extracted, _meta = read_flexible_csv(spark, path)
            entries.append(
                (
                    path,
                    source_file,
                    run_id,
                    split_quality(
                        extracted,
                        ingest_run_id=run_id,
                        source_file=source_file,
                        timestamp_patterns=timestamp_patterns,
                        ingest_ts=ingest_ts,
                        obs_prefix=f"b{i}_",
                    ),
                )
            )

        if entries:
            _write_sinks(spark, lake, [s for _, _, _, s in entries], write_reject_csv)
    finally:
        for _, _, _, s in entries:
            for df in s.cached or []:
                df.unpersist()

    results: list[IngestResult] = []
    by_path = {p: (sf, rid, s) for p, sf, rid, s in entries}
    for path in paths:
        if path in gate_results:
            results.append(gate_results[path])
            continue
        source_file, run_id, split = by_path[path]
        if archive:
            move_file(path, lake.archive("validated"), lineage_name(source_file, run_id))
        results.append(
            IngestResult(
                "ok",
                source_file,
                run_id,
                counts=dict(split.resolve_counts()),
                silver_path=lake.processed,
            )
        )
    return results


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

    ``batch_size`` > 1 runs :func:`ingest_batch` over chunks of pending
    files — one unioned plan and one silver write per chunk (the scale
    path for backlogs of many small files); the chunk is ledgered as a
    unit after it succeeds. The default preserves the reference's
    file-at-a-time granularity.
    """
    ledger_path = ledger_path or os.path.join(lake.root, "ingest_ledger.jsonl")
    seen: set[str] = set()
    if os.path.exists(ledger_path):
        with open(ledger_path) as f:
            seen = {json.loads(line)["file"] for line in f if line.strip()}

    def ledger(name: str, result: IngestResult) -> None:
        os.makedirs(os.path.dirname(ledger_path), exist_ok=True)
        with open(ledger_path, "a") as f:
            f.write(
                json.dumps(
                    {"file": name, "run_id": result.ingest_run_id, "status": result.status}
                )
                + "\n"
            )

    pending = [
        name
        for name in sorted(os.listdir(incoming_dir))
        if name not in seen and os.path.isfile(os.path.join(incoming_dir, name))
    ]
    results: list[IngestResult] = []
    if batch_size > 1:
        for i in range(0, len(pending), batch_size):
            chunk = pending[i : i + batch_size]
            batch = ingest_batch(
                spark, [os.path.join(incoming_dir, n) for n in chunk], lake, **ingest_kwargs
            )
            results.extend(batch)
            for name, result in zip(chunk, batch):
                ledger(name, result)
    else:
        for name in pending:
            result = ingest_file(spark, os.path.join(incoming_dir, name), lake, **ingest_kwargs)
            results.append(result)
            ledger(name, result)
    return results
