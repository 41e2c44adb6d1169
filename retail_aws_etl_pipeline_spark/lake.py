"""Zoned lake layout, its commit protocol, and file lifecycle on any
Hadoop-compatible filesystem.

Replaces the reference's S3 zone conventions and boto3 copy+delete moves
(docs/s3_layout.md, lambda_validator.py:98-101, glue_job_raw_to_processed.py:64-88,
398-407) with a filesystem-agnostic layout object and atomic renames.

The commit protocol of the date-partitioned silver and gold zones is a
deployment setting of the lake, ``LakeLayout(root, commit=...)``, chosen by
the storage:

- ``"direct"`` (default): hive ``date=`` directories written through
  Spark's file committer. Rename is atomic on local FS/HDFS, but the
  session's committer (fileoutputcommitter v2) publishes task output at
  TASK commit, so a silver append that fails mid-job can leave some rows
  behind.
- ``"manifest"``: :class:`~retail_aws_etl_pipeline_spark.lake_manifest.ManifestedTable`,
  for object stores where rename is copy + delete. Visibility is one
  atomic pointer update, so an append that fails mid-job publishes
  nothing.

Under either protocol an append can succeed and the ingest still fail in
a later sink; :meth:`LakeTable.undo_append` then removes the failed
runs' rows by run id with one algorithm (rewrite the touched dates, drop
the emptied ones).

:class:`LakeTable` is the only code that knows the protocol: every silver
and gold listing, read, write and rollback goes through it. This is the
reference's K7 rollback intent (glue_job_raw_to_processed.py:421-443) kept
on both storages: a zone whose directory holds the other protocol's
layout raises instead of acknowledging rows no reader can see.
"""

from __future__ import annotations

import logging
import os
import re
import shutil
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from retail_aws_etl_pipeline_spark.functions.sqltext import sql_lit
from retail_aws_etl_pipeline_spark.lake_manifest import MANIFEST_DIR, ManifestedTable
from retail_aws_etl_pipeline_spark.schema import GOLD_SCHEMA, SILVER_SCHEMA

log = logging.getLogger(__name__)

DATE_PARTITION_RE = re.compile(r"date=(\d{4}-\d{2}-\d{2})$")

COMMIT_PROTOCOLS = ("direct", "manifest")


@dataclass(frozen=True)
class LakeLayout:
    """Directory layout mirroring docs/s3_layout.md:3-49, and the commit
    protocol (``"direct"`` or ``"manifest"``) of its silver and gold zones."""

    root: str
    commit: str = "direct"

    def __post_init__(self) -> None:
        if self.commit not in COMMIT_PROTOCOLS:
            raise ValueError(f"commit must be direct|manifest, got {self.commit!r}")

    @property
    def raw(self) -> str:
        return os.path.join(self.root, "raw")

    @property
    def validated(self) -> str:
        return os.path.join(self.root, "validated")

    @property
    def processed(self) -> str:
        return os.path.join(self.root, "processed")

    @property
    def gold(self) -> str:
        return os.path.join(self.root, "gold", "fact_sales")

    def rejected(self, kind: str) -> str:
        # kind ∈ {system, structural, data_quality/json, data_quality/csv}
        return os.path.join(self.root, "rejected", kind)

    @property
    def audit(self) -> str:
        return os.path.join(self.root, "audit", "gold_compaction")

    def archive(self, zone: str) -> str:
        return os.path.join(self.root, "archive", zone)

    @property
    def silver_table(self) -> LakeTable:
        return LakeTable(self.processed, SILVER_SCHEMA, self.commit)

    @property
    def gold_table(self) -> LakeTable:
        return LakeTable(self.gold, GOLD_SCHEMA, self.commit)


def list_date_partitions(path: str) -> list[str]:
    """Sorted date partition values under a hive-layout directory (S6, fixed:
    the reference's double-escaped regex never matched)."""
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        m = DATE_PARTITION_RE.search(name)
        if m and os.path.isdir(os.path.join(path, name)):
            out.append(m.group(1))
    return sorted(out)


def _in_dates(dates: list[str]) -> str:
    """``date IN (...)`` over partition values (each matched
    :data:`DATE_PARTITION_RE`)."""
    return f"`date` IN ({', '.join(sql_lit(d) for d in dates)})"


#: Parquet physical types Spark writes for the lake's column types.
_PARQUET_KINDS = {
    "string": "is_string",
    "int": "is_int32",
    "bigint": "is_int64",
    "double": "is_float64",
    "timestamp": "is_timestamp",
    "date": "is_date32",
}


def _footer_conforms(partition_dir: str, schema: T.StructType) -> bool:
    """Whether the first parquet file under ``partition_dir`` holds only
    columns of ``schema``, each in the physical type Spark writes for it
    (read on the driver: one footer, no Spark job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        name = min(n for n in os.listdir(partition_dir) if n.endswith(".parquet"))
        fields = pq.read_schema(os.path.join(partition_dir, name))
    except (OSError, ValueError, pa.ArrowException):  # no file, or not parquet
        return False
    kinds = {f.name: _PARQUET_KINDS.get(f.dataType.simpleString()) for f in schema.fields}
    return all(kinds.get(f.name) and getattr(pa.types, kinds[f.name])(f.type) for f in fields)


@dataclass(frozen=True)
class LakeTable:
    """One date-partitioned zone (silver or gold) under the lake's commit
    protocol; ``schema`` is the layer's declared schema, which this
    package's writers produce.

    Every operation first checks that ``root`` holds no layout of the other
    protocol (``date=`` directories in a manifest zone, ``_manifests/`` in a
    direct one) and raises ``ValueError`` if it does."""

    root: str
    schema: T.StructType
    commit: str

    def _manifest(self) -> ManifestedTable | None:
        """The zone's manifest table, or None under the direct protocol."""
        names = os.listdir(self.root) if os.path.isdir(self.root) else []
        if self.commit == "manifest":
            stray = sorted(n for n in names if DATE_PARTITION_RE.search(n))
            if stray:
                raise ValueError(
                    f"{self.root} holds direct-layout partitions {stray[:3]}; "
                    "this lake commits through the manifest"
                )
            return ManifestedTable(self.root, partition_col="date")
        if MANIFEST_DIR in names:
            raise ValueError(
                f"{self.root} holds a manifested table; this lake commits direct"
            )
        return None

    def check_layout(self) -> None:
        """Raise ``ValueError`` if the zone holds the other protocol's layout."""
        self._manifest()

    def partitions(self) -> list[str]:
        """Sorted date partitions: the manifest's snapshot, or the listing."""
        table = self._manifest()
        return table.partitions() if table else list_date_partitions(self.root)

    def read(self, spark: SparkSession, dates: list[str] | None = None) -> DataFrame:
        """The zone as a DataFrame, only ``dates`` when given (a
        partition-pruned filter over one read of the root, not one read per
        partition). When a file of the sampled partition (``dates[0]``, else
        the first) conforms to ``schema`` the read declares it: no
        footer-inference job, and a column missing from a file reads as a
        typed NULL. Otherwise — a table written by hand or by another tool —
        Spark infers the schema, which also samples one footer and assumes
        the other files agree."""
        table = self._manifest()
        if table is None:
            sample = dates[0] if dates else next(iter(list_date_partitions(self.root)), None)
            sample_dir = sample and os.path.join(self.root, f"date={sample}")
        else:
            files = sorted(
                (f["partition"], f["path"])
                for f in table.snapshot()["files"]
                if not dates or f["partition"] == dates[0]
            )
            sample_dir = files and os.path.dirname(os.path.join(self.root, files[0][1]))
        schema = self.schema if sample_dir and _footer_conforms(sample_dir, self.schema) else None
        if table is not None:
            df = table.read(spark, schema=schema)
        else:
            reader = spark.read.option("basePath", self.root)
            df = (reader.schema(schema) if schema else reader).parquet(self.root)
        return df.filter(_in_dates(dates)) if dates else df

    def append(self, df: DataFrame) -> None:
        table = self._manifest()
        if table:
            table.append(df)
        else:
            df.write.mode("append").partitionBy("date").parquet(self.root)

    def overwrite_partitions(self, df: DataFrame) -> None:
        """Replace the partitions ``df`` holds; every other partition keeps
        its files. Dynamic per write, not via the session conf: a static
        overwrite would drop every partition outside ``df``."""
        table = self._manifest()
        if table:
            table.overwrite_partitions(df)
        else:
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("date")
                .parquet(self.root)
            )

    def undo_append(self, spark: SparkSession, run_ids: list[str]) -> int:
        """Undo a failed append of the rows tagged ``ingest_run_id`` in
        ``run_ids``; returns the number of rows removed.

        Some or all of those rows may be readable (a direct append
        publishes at TASK commit; a manifest append publishes before the
        ingest's later sinks run), and a quarantined file is never retried,
        so they would flow into gold as rows of a rejected file. One
        algorithm serves both protocols: rewrite the dates holding the
        runs' rows without them (:meth:`overwrite_partitions`) and drop the
        dates left empty (direct: delete the directory; manifest: a commit
        without their files). The scan is one read of the zone, paid only
        after an append has already failed.

        Manifest first reclaims unpublished debris: ``gc_manifests`` drops
        an unpointered version file if the crash hit between claim and
        pointer flip, then ``vacuum`` deletes the now-unreferenced staging
        files. ``min_age_seconds=0`` because ingest is the table's single
        writer, so the young debris dir is provably its own crashed commit;
        the conservative default window would strand it for an hour."""
        table = self._manifest()
        if table:
            table.gc_manifests(keep_versions=None)  # debris only, keep history
            table.vacuum(min_age_seconds=0)
        if not self.partitions():
            return 0  # nothing committed
        rows = self.read(spark)
        if "ingest_run_id" not in rows.columns:
            return 0
        of_runs = F.col("ingest_run_id").isin(run_ids)
        debris = rows.filter(of_runs)
        dates = [r["date"] for r in debris.select("date").distinct().collect()]
        if not dates:
            return 0
        n_debris = debris.count()
        keep = rows.filter(F.col("date").isin(dates)).filter(~of_runs)
        # an overwrite only rewrites partitions PRESENT in the new data —
        # dates whose every row came from the failed runs are dropped
        keep_dates = {r["date"] for r in keep.select("date").distinct().collect()}
        if keep_dates:
            n_parts = spark.sparkContext.defaultParallelism
            self.overwrite_partitions(keep.repartition(n_parts, "date"))
        empty = {str(d) for d in dates} - {str(d) for d in keep_dates}
        if table:
            table.drop_partitions(empty)
        else:
            for d in empty:
                shutil.rmtree(os.path.join(self.root, f"date={d}"), ignore_errors=True)
        log.warning("purged %d partial rows of failed runs %s from %s", n_debris, run_ids, self.root)
        return n_debris


def lineage_name(source_file: str, ingest_run_id: str) -> str:
    """``<file>_<YYYYMMDDTHHMMSS>_<ingest_run_id>`` archive naming
    (glue_job_raw_to_processed.py:398-400, README.md:74)."""
    ts = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S")
    return f"{source_file}_{ts}_{ingest_run_id}"


def move_file(src: str, dst_dir: str, dst_name: str | None = None) -> str:
    """Atomic move (rename) of one file into a zone directory."""
    os.makedirs(dst_dir, exist_ok=True)
    dst = os.path.join(dst_dir, dst_name or os.path.basename(src))
    os.replace(src, dst)
    return dst


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
