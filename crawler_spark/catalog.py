"""Snapshot-committed table catalog — the engine's checkpoint layer.

The reference keeps all state in Redis + SQLite and recovers by being
a long-lived process (cmd/crawler.go:24-78); the north_rule instead
demands Iceberg-style checkpointed tables with resume + per-partition
lineage. PySpark in this environment has no Iceberg jars, so this is
a thin, Iceberg-shaped implementation over partitioned Parquet:

 - every commit writes a NEW immutable version directory
   `<root>/<table>/v<NNNN>/` (parquet, optionally partitioned), then
   atomically renames a manifest `_snapshots.json.tmp` into place —
   readers always see a complete snapshot (atomic-rename commit);
 - the manifest records, per version: epoch, row count, the file
   list with per-file sizes (per-partition lineage), and free-form
   metrics — a crawl resumes by reading the manifest and loading each
   table's current version (Engine.resume);
 - time travel = read any retained older version.

Everything the engine layers on top (MERGE-shaped rewrites, bucketed
layout via partition columns) is expressed so that swapping in real
Iceberg (`MERGE INTO`, hidden bucket partitioning) is a sink change,
not an engine change.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    version: int
    path: str
    epoch: int
    n_rows: int
    created_unix: float
    files: list[dict] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)
    # set by Catalog.rollback: the snapshot is no longer servable
    # (its version dir is deleted) but its manifest row is KEPT as
    # the audit trail, so lineage stays complete and version numbers
    # are never reused
    rolled_back: bool = False


class Catalog:
    """One directory per table; one manifest per table."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- manifest handling ----
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_snapshots.json")

    def _load_manifest(self, table: str) -> list[dict]:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    def _commit_manifest(self, table: str, snaps: list[dict]) -> None:
        p = self._manifest_path(table)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snaps, f, indent=1)
        os.replace(tmp, p)  # atomic commit point

    @staticmethod
    def _ensure_readable(vdir: str, df: DataFrame) -> None:
        """A partitioned write of an empty DataFrame emits no files
        (dynamic partitioning) — land one schema-only file so the
        snapshot stays loadable."""
        for dirpath, _, names in os.walk(vdir):
            if any(n.endswith(".parquet") for n in names):
                return
        df.limit(0).coalesce(1).write.mode("append").parquet(vdir)

    @staticmethod
    def _scan_committed(vdir: str) -> tuple[list[dict], int]:
        """File manifest + row count for a just-committed version dir,
        from the parquet FOOTERS on the driver — zero Spark jobs. A
        commit previously paid one `read.parquet(vdir).count()` job
        per table per epoch (6 jobs of pure scheduling latency for a
        number the footers already hold)."""
        import pyarrow.parquet as pq

        files, n_rows = [], 0
        for dirpath, _, names in os.walk(vdir):
            for name in names:
                if name.endswith(".parquet"):
                    full = os.path.join(dirpath, name)
                    files.append(
                        {
                            "path": os.path.relpath(full, vdir),
                            "bytes": os.path.getsize(full),
                        }
                    )
                    n_rows += pq.ParquetFile(full).metadata.num_rows
        return files, n_rows

    # ---- public API ----
    def tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )

    @staticmethod
    def _active(snaps: list[dict]) -> list[dict]:
        return [s for s in snaps if not s.get("rolled_back")]

    def snapshots(self, table: str) -> list[Snapshot]:
        """Servable snapshots (rolled-back versions excluded — their
        manifest rows remain on disk as the audit trail; read the
        manifest directly or lineage() for the full history)."""
        return [Snapshot(**s) for s in self._active(self._load_manifest(table))]

    def current(self, table: str) -> Snapshot | None:
        snaps = self._active(self._load_manifest(table))
        return Snapshot(**snaps[-1]) if snaps else None

    def rollback(self, table: str, version: int | None) -> bool:
        """Make `version` the table's current snapshot again (the
        Iceberg rollback-to-snapshot shape); `version=None` retires
        every snapshot. Returns True when anything was retired.

        Newer snapshots are MARKED rolled_back, never removed from
        the manifest: lineage keeps the full history including the
        torn commit (the audit trail), and version numbers are never
        reused (writes allocate past the highest manifest version,
        rolled back or not — mirroring Iceberg, which never reuses
        snapshot ids). Crash-safe order: the marked manifest is the
        commit point (atomic rename), the retired version dirs are
        deleted AFTER it — a crash in between leaves stale dirs that
        the write paths clear defensively. Resume uses this so that
        after a cross-table epoch rollback the CATALOG agrees with
        the in-memory state: partition-pruned reads and
        partial-commit hardlink bases serve the rolled-back
        snapshot, not the torn one."""
        snaps = self._load_manifest(table)
        drop = [
            s for s in snaps
            if not s.get("rolled_back")
            and (version is None or s["version"] > version)
        ]
        if not drop:
            return False
        for s in drop:
            s["rolled_back"] = True
        self._commit_manifest(table, snaps)
        for s in drop:
            shutil.rmtree(s["path"], ignore_errors=True)
        return True

    def write(
        self,
        table: str,
        df: DataFrame,
        epoch: int = 0,
        partition_by: list[str] | None = None,
        metrics: dict | None = None,
        keep_versions: int = 3,
    ) -> Snapshot:
        """Commit a new snapshot of `table`. The parquet write happens
        into an uncommitted version dir; the manifest rename is the
        commit point, so a crash mid-write leaves the previous
        snapshot intact (resume-safe)."""
        snaps = self._load_manifest(table)
        version, vdir = self._new_version_dir(table, snaps)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(vdir)
        return self._seal(
            table, snaps, version, vdir, df, epoch, metrics or {}, keep_versions
        )

    def write_partial(
        self,
        table: str,
        df: DataFrame,
        changed_buckets: list[int],
        epoch: int = 0,
        bucket_col: str = "bucket",
        metrics: dict | None = None,
        keep_versions: int = 3,
    ) -> Snapshot:
        """MERGE-shaped commit: write ONLY the listed bucket
        partitions from `df`; every other bucket is HARDLINKED from
        the previous snapshot (same inode — byte-identical by
        construction, no read, no write). This is the Iceberg
        overwrite-by-partition shape the engine's incremental
        operators need: at a 10^12-row walk store a small delta
        commits in O(|changed buckets|), not O(|store|).

        The caller guarantees df's unchanged buckets are logically
        identical to the previous snapshot (the engine's repair and
        delta operators pass untouched rows through unmodified)."""
        snaps = self._load_manifest(table)
        active = self._active(snaps)
        if not active:
            raise FileNotFoundError(
                f"partial write of {table!r} needs a base snapshot"
            )
        # base = last SERVABLE snapshot; version allocated past the
        # highest manifest version (rolled back or not) — never reused
        prev_dir = active[-1]["path"]
        version, vdir = self._new_version_dir(table, snaps)
        changed = sorted(set(int(b) for b in changed_buckets))
        if changed:
            (
                df.filter(df[bucket_col].isin(changed))
                .write.mode("overwrite")
                .partitionBy(bucket_col)
                .parquet(vdir)
            )
        else:
            os.makedirs(vdir, exist_ok=True)
        changed_names = {f"{bucket_col}={b}" for b in changed}
        for entry in os.listdir(prev_dir):
            if (
                entry.startswith(f"{bucket_col}=")
                and entry not in changed_names
            ):
                src_dir = os.path.join(prev_dir, entry)
                dst_dir = os.path.join(vdir, entry)
                os.makedirs(dst_dir, exist_ok=True)
                for fn in os.listdir(src_dir):
                    if fn.endswith(".parquet"):
                        os.link(
                            os.path.join(src_dir, fn),
                            os.path.join(dst_dir, fn),
                        )
        m = dict(metrics or {})
        m["changed_buckets"] = changed
        return self._seal(table, snaps, version, vdir, df, epoch, m, keep_versions)

    def _new_version_dir(self, table: str, snaps: list[dict]) -> tuple[int, str]:
        """Allocate the next version past the highest manifest
        version (rolled back or not — never reused) and clear its dir
        if an orphan of a crashed rollback still holds it."""
        version = (snaps[-1]["version"] + 1) if snaps else 0
        vdir = os.path.join(self.root, table, f"v{version:04d}")
        if os.path.exists(vdir):
            shutil.rmtree(vdir, ignore_errors=True)
        return version, vdir

    def _seal(
        self,
        table: str,
        snaps: list[dict],
        version: int,
        vdir: str,
        df: DataFrame,
        epoch: int,
        metrics: dict,
        keep_versions: int,
    ) -> Snapshot:
        """The shared commit tail of write/write_partial: make the
        written dir readable, record its files, and commit the
        manifest (the commit point), then vacuum old versions."""
        self._ensure_readable(vdir, df)
        files, n_rows = self._scan_committed(vdir)
        snap = Snapshot(
            version=version,
            path=vdir,
            epoch=epoch,
            n_rows=n_rows,
            created_unix=time.time(),
            files=files,
            metrics=metrics,
        )
        snaps.append(snap.__dict__)
        self._commit_manifest(table, snaps)
        self._vacuum(table, snaps, keep_versions)
        return snap

    def read(self, spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
        snaps = self._active(self._load_manifest(table))
        if not snaps:
            raise FileNotFoundError(f"no snapshot for table {table!r}")
        if version is None:
            chosen = snaps[-1]
        else:
            # rolled-back versions are excluded: their data files are
            # deleted at rollback (only the manifest row survives)
            match = [s for s in snaps if s["version"] == version]
            if not match:
                raise FileNotFoundError(f"{table!r} has no version {version}")
            chosen = match[0]
        return spark.read.parquet(chosen["path"])

    def _vacuum(self, table: str, snaps: list[dict], keep: int) -> None:
        """Drop version dirs older than the last `keep` ACTIVE
        snapshots (manifest keeps the full history for lineage;
        rolled-back entries don't consume retention slots — their
        dirs are already gone, and counting them would shrink the
        rollback window _snapshot_capped depends on). Also sweeps
        data dirs of rolled-back rows: versions are never reused, so
        a rollback that crashed between its manifest commit and the
        dir delete would otherwise strand the dir forever (the write
        paths' defensive clear only fires on a version collision)."""
        act = self._active(snaps)
        for s in act[:-keep] if keep > 0 else []:
            if os.path.isdir(s["path"]):
                shutil.rmtree(s["path"], ignore_errors=True)
        for s in snaps:
            if s.get("rolled_back") and os.path.isdir(s["path"]):
                shutil.rmtree(s["path"], ignore_errors=True)

    # ---- lineage (north_star: resumable crawls with per-partition
    # lineage + metrics; the manifest keeps full history even after
    # _vacuum drops old version DIRS) ----

    LINEAGE_SCHEMA = (
        "table string, version int, epoch int, n_rows long, "
        "created_unix double, n_files int, bytes long, "
        "changed_buckets array<int>, metrics string"
    )
    FILE_LINEAGE_SCHEMA = (
        "table string, version int, epoch int, file string, "
        "bucket int, bytes long, rewritten boolean"
    )

    def lineage(self, spark: SparkSession, table: str | None = None) -> DataFrame:
        """Snapshot-level lineage as a queryable DataFrame: one row
        per committed version with its epoch, row count, file
        count/bytes, the bucket partitions that commit actually
        REWROTE (null = full snapshot), and the commit metrics as a
        JSON string. Driver-side manifest scan — manifests are
        O(tables x versions) JSON, never data files."""
        rows = []
        for t in [table] if table is not None else self.tables():
            for s in self._load_manifest(t):
                m = dict(s.get("metrics") or {})
                if s.get("rolled_back"):
                    # torn commits retired by resume stay in the
                    # lineage as the audit trail, flagged here
                    m["rolled_back"] = True
                cb = m.get("changed_buckets")
                rows.append(
                    (
                        t,
                        int(s["version"]),
                        int(s["epoch"]),
                        int(s["n_rows"]),
                        float(s["created_unix"]),
                        len(s.get("files", [])),
                        sum(int(f["bytes"]) for f in s.get("files", [])),
                        None if cb is None else [int(b) for b in cb],
                        json.dumps(m, sort_keys=True),
                    )
                )
        return spark.createDataFrame(rows, schema=self.LINEAGE_SCHEMA)

    def file_lineage(self, spark: SparkSession, table: str) -> DataFrame:
        """Per-partition file lineage for one table: every data file
        of every version, its bucket (parsed from the Hive-style
        partition dir; null for unpartitioned tables), and whether
        that version REWROTE the file's bucket (false = inherited by
        hardlink from the previous snapshot — the partial-commit
        audit trail)."""
        rows = []
        for s in self._load_manifest(table):
            m = s.get("metrics") or {}
            cb = m.get("changed_buckets")
            changed = None if cb is None else {int(b) for b in cb}
            for f in s.get("files", []):
                rel = f["path"]
                bucket = None
                if "=" in rel.split("/", 1)[0]:
                    try:
                        bucket = int(rel.split("/", 1)[0].split("=", 1)[1])
                    except ValueError:
                        bucket = None
                rewritten = (
                    True
                    if changed is None  # full snapshot
                    else (bucket is not None and bucket in changed)
                )
                rows.append(
                    (
                        table,
                        int(s["version"]),
                        int(s["epoch"]),
                        rel,
                        bucket,
                        int(f["bytes"]),
                        rewritten,
                    )
                )
        return spark.createDataFrame(rows, schema=self.FILE_LINEAGE_SCHEMA)
