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
3. sinks: silver parquet partitioned by ``date`` (append, K1); rejects as
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

from pyspark.sql import SparkSession

from retail_aws_etl_pipeline_spark.lake import LakeLayout, lineage_name, move_file, new_run_id
from retail_aws_etl_pipeline_spark.operators.validate import QualitySplit, split_quality
from retail_aws_etl_pipeline_spark.schema import SILVER_SCHEMA, build_index_map, missing_required
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


def purge_run_from_silver(spark: SparkSession, lake: LakeLayout, run_id: str) -> int:
    """Remove any task-committed rows of ``run_id`` from silver.

    The session's committer (fileoutputcommitter v2) makes task output
    visible at TASK commit, so a silver append that fails mid-job can leave
    some of its rows behind. When the source file is then quarantined
    (never retried), those rows would flow into gold as real transactions
    from a file the lake says was rejected. This rewrites exactly the date
    partitions containing the failed run's rows (dynamic partition
    overwrite), deleting empty partitions outright; rows of other runs in
    those partitions are preserved. Returns the number of rows purged.

    Failure-path only — the scan to locate debris costs one silver read,
    paid exclusively when an ingest job has already crashed.
    """
    import shutil

    from pyspark.sql import functions as F

    from retail_aws_etl_pipeline_spark.operators.compact import _read_table, list_date_partitions

    present = list_date_partitions(lake.processed)
    if not present:
        return 0  # no silver partition yet → nothing committed
    silver = _read_table(spark, lake.processed, SILVER_SCHEMA, present[0])
    if "ingest_run_id" not in silver.columns:
        return 0
    debris = silver.filter(F.col("ingest_run_id") == run_id)
    dates = [r["date"] for r in debris.select("date").distinct().collect()]
    if not dates:
        return 0
    n_debris = debris.count()
    keep = silver.filter(F.col("date").isin(dates)).filter(
        F.col("ingest_run_id") != run_id
    )
    # dynamic overwrite only rewrites partitions PRESENT in the new data —
    # dates whose every row came from the failed run must be deleted by path
    keep_dates = {r["date"] for r in keep.select("date").distinct().collect()}
    if keep_dates:
        (
            keep.repartition(spark.sparkContext.defaultParallelism, "date")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("date")
            .parquet(lake.processed)
        )
    for d in set(dates) - keep_dates:
        shutil.rmtree(os.path.join(lake.processed, f"date={d}"), ignore_errors=True)
    log.warning("purged %d partial rows of failed run %s from silver", n_debris, run_id)
    return n_debris


def ingest_file(
    spark: SparkSession,
    path: str,
    lake: LakeLayout,
    ingest_run_id: str | None = None,
    timestamp_patterns: list[tuple[str, str]] | None = None,
    ingest_ts=None,
    archive: bool = True,
    write_reject_csv: bool = True,
    commit_protocol: str = "direct",
) -> IngestResult:
    """Ingest one raw delimited file into the lake's silver zone.

    ``commit_protocol="manifest"`` routes the silver append through
    :class:`~retail_aws_etl_pipeline_spark.lake_manifest.ManifestedTable`:
    a crashed write publishes NOTHING (readers stay at the pre-write
    snapshot) so the direct path's post-crash purge becomes a vacuum of
    never-published staging files. Use the same protocol for compaction
    (``compact_pending(commit_protocol="manifest")``) — readers of a
    manifested zone must go through its snapshot, and the streaming file
    source (streams.py) requires the direct layout.
    """
    if commit_protocol not in ("direct", "manifest"):
        raise ValueError(f"commit_protocol must be direct|manifest, got {commit_protocol!r}")
    run_id = ingest_run_id or new_run_id()
    source_file = os.path.basename(path)

    # -- 1. file-level gate -------------------------------------------------
    file_errors = validate_file_head(path)
    if file_errors:
        return _reject_file(path, lake, source_file, run_id, file_errors, archive)

    # -- 2+3. parse + route + sinks; on ANY failure the input file is
    # quarantined to rejected/system with a reason file and the error
    # re-raised — the reference's K7 intent (glue_job_raw_to_processed.py:
    # 421-443) with a working rollback: the session committer (v2) makes
    # task output visible at task commit, so a failed job CAN leave
    # partial rows in silver; since a quarantined file is never retried,
    # those rows are purged by run id before the error propagates
    # (purge_run_from_silver).
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
        # repartition by the partition key first: otherwise every task holds
        # rows of every date and a D-date file writes T×D small files
        # (observed 32×550 on the bench); this way each date lands in one
        # task → one file per date. The partition COUNT is explicit: with a
        # bare repartition("date") AQE coalesces the small shuffle to a
        # single task, which then creates every date directory serially
        # (~16 ms each — measured 9 s for 550 dates); pinning N keeps the
        # directory/file creation spread across the cluster.
        #
        # The silver write goes FIRST: it is the action that fills the
        # labeled frame's cache and fires its count Observation, so the
        # class counts (and the reject-write decision below) cost zero extra
        # jobs and both reject sinks read the cache.
        good_out = split.good.repartition(spark.sparkContext.defaultParallelism, "date")
        if commit_protocol == "manifest":
            from retail_aws_etl_pipeline_spark.lake_manifest import ManifestedTable

            ManifestedTable(lake.processed, partition_col="date").append(good_out)
        else:
            good_out.write.mode("append").partitionBy("date").parquet(lake.processed)
        if split.resolve_counts()["reject_rows"] > 0:
            split.rejects.write.mode("append").json(lake.rejected("data_quality/json"))
            if write_reject_csv:
                (
                    split.rejects.coalesce(1)
                    .write.mode("append")
                    .option("header", True)
                    .csv(lake.rejected("data_quality/csv"))
                )
    except Exception as exc:
        reject_dir = lake.rejected("system")
        os.makedirs(reject_dir, exist_ok=True)
        dst_name = lineage_name(source_file, run_id)
        if archive and os.path.exists(path):
            move_file(path, reject_dir, dst_name)
        with open(os.path.join(reject_dir, f"{dst_name}_reason.json"), "w") as f:
            json.dump({"file": source_file, "error": str(exc)[:2000]}, f)
        try:
            if commit_protocol == "manifest":
                # nothing was published — reclaim the crashed commit's
                # debris: gc_manifests drops an unpointered version file if
                # the crash hit between claim and pointer flip, then vacuum
                # reclaims the now-unreferenced staging files (single-
                # writer, so no in-flight peer commit can be swept)
                from retail_aws_etl_pipeline_spark.lake_manifest import ManifestedTable

                mt = ManifestedTable(lake.processed, partition_col="date")
                mt.gc_manifests(keep_versions=None)  # debris only, keep history
                # explicit 0: ingest is the table's single writer, so the
                # young debris dir is provably our own crashed commit —
                # the conservative default window would strand it for an hour
                mt.vacuum(min_age_seconds=0)
            else:
                purge_run_from_silver(spark, lake, run_id)
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
            good_all = entries[0][3].good
            for _, _, _, s in entries[1:]:
                good_all = good_all.unionByName(s.good)
            good_all.repartition(
                spark.sparkContext.defaultParallelism, "date"
            ).write.mode("append").partitionBy("date").parquet(lake.processed)
            reject_frames = [
                s.rejects for _, _, _, s in entries if s.resolve_counts()["reject_rows"] > 0
            ]
            if reject_frames:
                rej = reject_frames[0]
                for r in reject_frames[1:]:
                    rej = rej.unionByName(r)
                rej.write.mode("append").json(lake.rejected("data_quality/json"))
                if write_reject_csv:
                    (
                        rej.coalesce(1)
                        .write.mode("append")
                        .option("header", True)
                        .csv(lake.rejected("data_quality/csv"))
                    )
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
