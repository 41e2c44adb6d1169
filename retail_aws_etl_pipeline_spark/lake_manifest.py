"""Object-store-safe table commits: manifest protocol for silver/gold.

The direct commit (Spark's file committer into ``date=`` directories) is
atomic on local FS/HDFS but NOT on object stores — S3 "rename" is copy +
delete, and the classic file-output committers can expose partial output
(reference intent K7, glue_job_raw_to_processed.py:421-443). A lake built
as ``LakeLayout(root, commit="manifest")`` commits its silver and gold
zones through this module instead; :class:`retail_aws_etl_pipeline_spark.lake.LakeTable`
is the only caller. This module implements the standard open-table answer
(the same core protocol as Delta/Iceberg commit logs, re-expressed
minimally):

- **Data files are immutable and written to a unique, unpublished
  directory** ``data/<commit_id>/`` — a crashed write leaves garbage in a
  directory no reader ever looks at.
- **Visibility is a single atomic pointer update**: a manifest JSON lists
  exactly the files of a snapshot; ``_manifests/LATEST`` names the current
  manifest. Readers resolve LATEST → manifest → file list. On S3 a
  single-object PUT is atomic; locally we use write-temp + ``os.replace``.
- **Every crash point is safe**: dying during the data write, after the
  data write, or after the manifest write but before the pointer update
  all leave LATEST — and therefore every reader — at the pre-write
  snapshot. The half-finished commit becomes unreferenced garbage that
  :meth:`ManifestedTable.vacuum` reclaims.

Multi-writer safety: data staging runs unlocked (long Spark writes never
serialize against each other), then the COMMIT — re-read snapshot, merge
file lists, publish — runs under an exclusive advisory lock
(``_manifests/_commit.lock``, ``flock``), with the version manifest
created ``O_CREAT|O_EXCL`` so a version number can never be claimed
twice (crash debris from an unpointered manifest is probed past, never
overwritten). Concurrent ingest + compact therefore serialize at the
pointer, and neither can lose the other's snapshot: each merge is
computed against the version the other just published. ``flock`` is the
local-FS/NFS stand-in for the object-store equivalent (S3 conditional
PUT / DynamoDB lock table) — swap inside ``_commit`` for deployment.

At 100 TB: a commit adds O(files) manifest entries and ONE pointer
update, independent of table size; snapshot reads list zero directories
(the manifest is the listing — on S3 that also removes the
eventually-consistent LIST from the read path).

Maintenance and the reader grace window: run ``gc_manifests`` (reclaim
old snapshot manifests) then ``vacuum`` (delete data no retained
manifest references), in that order. Retention is manifest-driven, not
reader-driven — a reader pinned to an old snapshot is only safe while
either a retained manifest references its files or the vacuum age
window covers it. **Sizing rule**: ``min_age_seconds`` (default 1 h)
must be at least the longest expected reader/job runtime PLUS the
longest staging write, never 0 while writers or readers may be active —
the same retention discipline as Delta's VACUUM. Both sides of the
contract are pinned by ``tests/test_failure_recovery.py``
(``test_manifest_vacuum_retention_spares_inflight_staging``,
``test_manifest_vacuum_reader_grace_contract``).
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import uuid
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST_DIR = "_manifests"
LATEST = "LATEST"
COMMIT_LOCK = "_commit.lock"

#: Default in-flight-writer retention for :meth:`ManifestedTable.vacuum` —
#: conservative by default (Delta-style): a freshly staged commit dir may
#: belong to a writer mid-commit, so reclaiming it requires either age
#: beyond this window or an explicit ``min_age_seconds=0`` opt-in.
DEFAULT_VACUUM_MIN_AGE_SECONDS = 3600.0


class CommitConflict(RuntimeError):
    """The snapshot advanced underneath a commit that cannot merge blindly
    (currently only :meth:`ManifestedTable.rewrite`)."""


def _atomic_write(path: str, content: str) -> None:
    """Single-file atomic publish: temp + rename (S3 analog: one PUT)."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(content)
    os.replace(tmp, path)


class ManifestedTable:
    """A parquet table whose visible state is defined by a manifest, not by
    directory listing. Supports partitioned append and dynamic-partition
    overwrite — the two write shapes silver and gold need."""

    def __init__(self, root: str, partition_col: str | None = "date"):
        self.root = root
        self.partition_col = partition_col

    # -- snapshot state ----------------------------------------------------

    def _manifest_path(self) -> str | None:
        latest = os.path.join(self.root, MANIFEST_DIR, LATEST)
        if not os.path.exists(latest):
            return None
        with open(latest) as f:
            name = f.read().strip()
        return os.path.join(self.root, MANIFEST_DIR, name)

    def snapshot(self, version: int | None = None) -> dict:
        """A manifest: {"version": int, "files": [{"path", "partition"}]}.

        Default = the LIVE snapshot (what LATEST names). Passing ``version``
        reads that historical snapshot instead — time travel, bounded by
        :meth:`gc_manifests`'s ``keep_versions`` retention. Raises
        FileNotFoundError for a version that was GC'd (or never published)."""
        if version is None:
            path = self._manifest_path()
            if path is None:
                return {"version": 0, "files": []}
        else:
            path = os.path.join(self.root, MANIFEST_DIR, f"v{version:08d}.json")
            if not os.path.exists(path):
                raise FileNotFoundError(
                    f"snapshot v{version} of {self.root} does not exist "
                    "(GC'd past the retention window, or never published)"
                )
        with open(path) as f:
            return json.load(f)

    def exists(self) -> bool:
        return self._manifest_path() is not None

    def partitions(self) -> list[str]:
        """Distinct partition values in the current snapshot (sorted)."""
        return sorted({f["partition"] for f in self.snapshot()["files"] if f["partition"]})

    # -- reads -------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        schema: StructType | None = None,
    ) -> DataFrame:
        """A snapshot as a DataFrame — the live one by default, or a
        retained historical ``version`` (time travel; see
        :meth:`gc_manifests` for what is retained). A time-travel read is
        safe against concurrent writers by construction: data files are
        immutable and a version's file list never changes after publish —
        only :meth:`vacuum`/:meth:`gc_manifests` retention bounds how far
        back reads can go.

        A ``schema`` is declared on every commit group's read, so no group
        pays a footer-inference job; without one Spark infers per group.

        Files are grouped by commit directory so each group keeps its own
        ``basePath`` (partition column recovery); groups are unioned by
        name. Long chains of tiny commits should be folded by a periodic
        ``overwrite_partitions`` rewrite (normal table maintenance).
        """
        snap = self.snapshot(version)
        if not snap["files"]:
            raise FileNotFoundError(f"manifested table {self.root} has no snapshot")
        by_commit: dict[str, list[str]] = {}
        for f in snap["files"]:
            commit_dir = f["path"].split("/", 2)[1]  # data/<cid>/...
            by_commit.setdefault(commit_dir, []).append(os.path.join(self.root, f["path"]))
        out = None
        for cid, files in sorted(by_commit.items()):
            base = os.path.join(self.root, "data", cid)
            reader = spark.read.option("basePath", base)
            df = (reader.schema(schema) if schema else reader).parquet(*sorted(files))
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        return out

    # -- writes ------------------------------------------------------------

    def _stage(self, df: DataFrame) -> tuple[str, list[dict]]:
        """Write ``df`` into a fresh unpublished commit dir; return
        (commit_id, manifest entries)."""
        cid = uuid.uuid4().hex[:12]
        commit_dir = os.path.join(self.root, "data", cid)
        writer = df.write.mode("error")
        if self.partition_col:
            writer = writer.partitionBy(self.partition_col)
        writer.parquet(commit_dir)
        entries = []
        for dirpath, _dirs, files in os.walk(commit_dir):
            for name in files:
                if name.startswith(("_", ".")) or not name.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, self.root)
                part = None
                if self.partition_col:
                    for piece in rel.split(os.sep):
                        if piece.startswith(f"{self.partition_col}="):
                            part = piece.split("=", 1)[1]
                entries.append({"path": rel.replace(os.sep, "/"), "partition": part})
        return cid, entries

    @contextmanager
    def _commit_lock(self):
        """Exclusive advisory lock serializing the commit critical section.

        ``flock`` releases on process death (no stale-lock recovery needed)
        and is the local-FS stand-in for the store-side primitive a real
        deployment plugs in here (S3 conditional PUT / DynamoDB lock)."""
        mdir = os.path.join(self.root, MANIFEST_DIR)
        os.makedirs(mdir, exist_ok=True)
        with open(os.path.join(mdir, COMMIT_LOCK), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            yield

    def _commit(self, merge: Callable[[dict], list[dict]]) -> int:
        """Serialize merge-and-publish: under the commit lock, re-read the
        CURRENT snapshot (it may have advanced since this writer staged its
        data), merge this commit's entries into it, publish. Because the
        merge input is always the latest published snapshot, a concurrent
        ingest and compact each see the other's files — neither can lose a
        snapshot."""
        with self._commit_lock():
            snap = self.snapshot()
            return self._publish(merge(snap), snap["version"])

    def _publish(self, files: list[dict], parent_version: int) -> int:
        """Write the next version manifest and flip LATEST — the ONLY step
        that changes what readers see; single atomic pointer update.

        The manifest file is created ``O_CREAT|O_EXCL``: a version number
        can never be claimed twice, so a crashed commit's unpointered
        manifest (debris — LATEST never reached it) is probed past rather
        than silently overwritten. Callers hold the commit lock."""
        mdir = os.path.join(self.root, MANIFEST_DIR)
        os.makedirs(mdir, exist_ok=True)
        version = parent_version + 1
        while True:
            name = f"v{version:08d}.json"
            try:
                fd = os.open(
                    os.path.join(mdir, name), os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                break
            except FileExistsError:
                version += 1
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps({"version": version, "files": files}, indent=1))
        _atomic_write(os.path.join(mdir, LATEST), name)
        return version

    def append(self, df: DataFrame) -> int:
        """Commit an append: new snapshot = current files + this write's
        files. Staging runs unlocked (Spark writes never serialize); only
        the pointer merge is in the critical section."""
        _cid, entries = self._stage(df)
        return self._commit(lambda snap: snap["files"] + entries)

    def overwrite_partitions(self, df: DataFrame) -> int:
        """Dynamic-partition overwrite: partitions present in ``df`` are
        replaced wholesale; all other partitions keep their files."""
        if not self.partition_col:
            raise ValueError("overwrite_partitions requires a partition_col")
        _cid, entries = self._stage(df)
        replaced = {e["partition"] for e in entries}
        return self._commit(
            lambda snap: [f for f in snap["files"] if f["partition"] not in replaced]
            + entries
        )

    def drop_partitions(self, values: set[str]) -> int:
        """Commit a snapshot without the files of the partitions ``values``
        (their data stays on disk for the retained history)."""
        return self._commit(lambda snap: [f for f in snap["files"] if f["partition"] not in values])

    # -- maintenance -------------------------------------------------------

    def rewrite(self, spark: SparkSession) -> int:
        """Fold the snapshot into ONE commit: read the current state, stage
        it as a single commit dir, publish a manifest listing only that.

        Normal table maintenance for append-heavy tables (e.g. silver at
        one commit per ingested file): :meth:`read` unions one scan branch
        per commit dir, so a thousand-commit chain is a thousand-branch
        plan. Folding restores O(1) branches; follow with :meth:`vacuum`
        to reclaim the superseded commit dirs.

        Unlike append/overwrite, a fold REPLACES the whole file list, so it
        cannot blindly merge with a snapshot that advanced while it staged:
        that would silently drop the concurrent commit. Raises
        :class:`CommitConflict` in that case — retry the fold."""
        snap = self.snapshot()
        _cid, entries = self._stage(self.read(spark))

        def merge(cur: dict) -> list[dict]:
            if cur["version"] != snap["version"]:
                raise CommitConflict(
                    f"rewrite staged against v{snap['version']} but snapshot "
                    f"is now v{cur['version']}; retry"
                )
            return entries

        return self._commit(merge)

    def _retained_commit_dirs(self) -> set[str]:
        """Commit dirs referenced by ANY retained manifest file — the live
        snapshot, retained history, and crash-debris manifests alike. This
        is the set :meth:`vacuum` must never touch: every one of those
        manifests is readable via ``read(version=...)`` until
        :meth:`gc_manifests` reclaims it, so its data must survive it."""
        mdir = os.path.join(self.root, MANIFEST_DIR)
        live: set[str] = set()
        if os.path.isdir(mdir):
            for name in os.listdir(mdir):
                if not (name.startswith("v") and name.endswith(".json")):
                    continue
                try:
                    with open(os.path.join(mdir, name)) as f:
                        snap = json.load(f)
                except (OSError, json.JSONDecodeError):
                    continue  # concurrently removed / partial debris
                live |= {f2["path"].split("/", 2)[1] for f2 in snap["files"]}
        return live

    def vacuum(self, min_age_seconds: float = DEFAULT_VACUUM_MIN_AGE_SECONDS) -> list[str]:
        """Delete commit directories referenced by NO retained manifest
        (stage-only crash debris, and commits whose every referencing
        snapshot was reclaimed by :meth:`gc_manifests`). Returns removed
        dirs. Retention is manifest-driven: a historical version readable
        via ``read(version=...)`` keeps its data alive — run
        ``gc_manifests`` first, then ``vacuum``, as the maintenance pair.

        ``min_age_seconds`` is the in-flight-writer guard: staging runs
        unlocked by design, so a commit dir younger than the window may
        belong to a writer that hasn't reached its pointer merge yet —
        skip it (same reason Delta's VACUUM has a retention window; it
        also lets in-flight readers of older snapshots finish). The
        default is a conservative one-hour window, safe-by-default for
        multi-writer deployments; pass an explicit ``min_age_seconds=0``
        only where no peer writer can be mid-commit (single-writer
        crash recovery, tests).

        **Reader contract (vacuum-under-reader race)**: retention is
        manifest-driven, NOT reader-driven — vacuum has no registry of
        open readers. A long-running reader pinned to a historical
        snapshot (``read(version=N)`` is lazy; executors resolve file
        paths at action time) stays safe only while a retained manifest
        references its files: ``gc_manifests`` first makes the version
        unreadable, THEN its data becomes vacuum-eligible, in that order.
        The remaining window is a reader that resolved paths BEFORE a
        concurrent ``gc_manifests`` + ``vacuum`` pair removed them — the
        same window Delta/Iceberg close with a retention period, closed
        here the same way: run maintenance with ``min_age_seconds`` at
        least as large as the longest expected reader/job runtime (the
        1 h default covers typical batch jobs), never 0 while readers may
        be active. ``tests/test_failure_recovery.py::``
        ``test_manifest_vacuum_reader_grace_contract`` pins both sides of
        this contract."""
        import time

        live = self._retained_commit_dirs()
        data_dir = os.path.join(self.root, "data")
        removed = []
        now = time.time()
        if os.path.isdir(data_dir):
            for cid in os.listdir(data_dir):
                full = os.path.join(data_dir, cid)
                if cid in live:
                    continue
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue  # concurrently removed
                if age < min_age_seconds:
                    continue
                shutil.rmtree(full, ignore_errors=True)
                removed.append(cid)
        return removed

    def gc_manifests(self, keep_versions: int | None = 3) -> list[str]:
        """Reclaim manifest files: superseded snapshots beyond the
        ``keep_versions`` most recent (time-travel retention) AND
        unpointered debris manifests — the leftovers of a commit that
        claimed its version file (``O_CREAT|O_EXCL`` in :meth:`_publish`)
        but crashed before the LATEST flip. ``keep_versions=None`` removes
        ONLY the >live debris and keeps every historical snapshot (the
        crash-recovery mode — recovery must never silently shrink the
        time-travel window). Returns removed file names.

        Runs under the commit lock: a live writer publishes (claim + flip)
        inside the same lock, so a version file seen here without a
        pointer is guaranteed crash debris, not a commit mid-flip. The
        LIVE manifest (the one LATEST names) is never a candidate — a GC
        pass cannot strand readers — and with ``keep_versions >= 1`` the
        retained history is the live snapshot plus its most recent
        predecessors."""
        if keep_versions is not None and keep_versions < 1:
            raise ValueError("keep_versions must be >= 1 (the live snapshot)")
        with self._commit_lock():
            mdir = os.path.join(self.root, MANIFEST_DIR)
            latest = os.path.join(mdir, LATEST)
            if not os.path.exists(latest):
                return []  # nothing published yet -> nothing is superseded
            with open(latest) as f:
                live_name = f.read().strip()
            versions = sorted(
                n for n in os.listdir(mdir)
                if n.startswith("v") and n.endswith(".json") and n != live_name
            )
            live_version = int(live_name[1:-5])
            history = {n for n in versions if int(n[1:-5]) < live_version}
            if keep_versions is None:  # debris-only: keep ALL history
                keep = history
            elif keep_versions > 1:
                # keep the (keep_versions - 1) newest predecessors of live;
                # everything else — older history AND >live debris — goes.
                keep = set(sorted(history)[-(keep_versions - 1):])
            else:
                keep = set()
            removed = []
            for name in versions:
                if name in keep:
                    continue
                try:
                    os.remove(os.path.join(mdir, name))
                    removed.append(name)
                except OSError:
                    pass
            return removed
