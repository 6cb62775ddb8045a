"""Snapshot-versioned parquet tables: append-only snapshots, reusable
delta manifests, time-travel reads, rollback, orphan expiry.

The north rule's storage model is an Iceberg table — every write is a
snapshot whose manifest list pins the exact file set, readers bind to a
snapshot id, and lineage records ``input_snapshot_id``. The real Iceberg
runtime needs JVM jars this image doesn't ship, so this module implements
the *concepts* from the public Iceberg table-spec (snapshots, manifest
lists, reusable manifest files, a version-hint current pointer, time
travel, expiry) as a minimal from-scratch layer:

- data files are ordinary parquet written by Spark's own writer into an
  immutable per-snapshot directory ``data/snap-<seq>/`` — the 100 TB path
  stays entirely on Spark's distributed write/scan machinery;
- metadata is tiny JSON through the :mod:`tsdat_spark.io.fs` scheme
  registry (``metadata/snap-<seq>.json`` + ``metadata/version-hint.text``),
  so an object-store deployment is one ``register_filesystem`` call;
- file lists live in immutable, REUSABLE **manifest files**
  (``metadata/manifest-<seq>.json``), exactly like Iceberg's manifest
  list → manifest file split: a snapshot's JSON carries only the list of
  manifest paths whose union is the table state, so an append writes
  O(files_added) metadata — never the O(total_files) full list — and
  parent manifests are reused byte-for-byte by every descendant;
- every ``compact_every`` commits (default 16) the chain is folded into
  ONE full-state manifest, bounding a read to ≤ ``compact_every`` + 1
  small JSON gets regardless of history length (amortized commit cost
  stays O(files_added + total/compact_every));
- row counts ride an ``Observation`` on the write job — no second scan;
- the written schema is recorded on the snapshot, so reads skip parquet's
  schema-inference job (snapshot JSON from before the field existed has
  no schema and still infers).

Commit protocol (single writer, documented like Iceberg without a
catalog lock): (1) write data files into a fresh snapshot dir, (2) PUT
the immutable manifest file, (3) PUT the immutable snapshot JSON, (4)
flip ``version-hint.text``. A crash before (4) leaves unreferenced
objects that ``expire()`` sweeps; the next writer is NOT wedged because
snapshot ids are allocated past ``max(hint, on-disk snapshots, data
dirs)`` — a crashed commit's half-written ``data/snap-N`` is simply
skipped, never collided with. Readers resolve files only through a
committed snapshot, so they never see partial state. History is never
mutated: ``expire()`` deletes whole objects and the ancestry walk stops
at the first missing manifest (no re-parenting rewrite).
"""

from __future__ import annotations

import json
import posixpath
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .fs import get_filesystem
from .writers import schema_reader

# Fold the manifest chain into one full-state manifest every N commits:
# bounds reads to <= N+1 metadata gets and keeps amortized commit
# metadata at O(files_added + total_files/N).
DEFAULT_COMPACT_EVERY = 16


@dataclass
class Snapshot:
    snapshot_id: int            # monotonically increasing sequence number
    parent_id: int | None
    operation: str              # append | overwrite | rollback
    timestamp: float
    manifest_files: list[str]   # immutable manifests; union = table state
    added_files: list[str]      # this commit's delta (O(batch), for CDC)
    n_rows_added: int
    n_rows_total: int
    n_files_total: int
    summary: dict = field(default_factory=dict)
    schema: dict | None = None  # StructType.jsonValue() of the data files


class SnapshotTable:
    """A snapshot-versioned parquet table rooted at ``root``."""

    def __init__(self, root: str, compact_every: int = DEFAULT_COMPACT_EVERY):
        self.root = root.rstrip("/")
        self.compact_every = max(1, int(compact_every))
        self.fs = get_filesystem(self.root)
        self.fs.makedirs(self._meta_dir)

    # ------------------------------------------------------------ layout
    @property
    def _meta_dir(self) -> str:
        return posixpath.join(self.root, "metadata")

    def _snapshot_path(self, sid: int) -> str:
        return posixpath.join(self._meta_dir, f"snap-{sid:06d}.json")

    def _manifest_path(self, sid: int) -> str:
        return posixpath.join(self._meta_dir, f"manifest-{sid:06d}.json")

    @property
    def _hint_path(self) -> str:
        return posixpath.join(self._meta_dir, "version-hint.text")

    def _data_dir(self, sid: int) -> str:
        return posixpath.join(self.root, "data", f"snap-{sid:06d}")

    # ------------------------------------------------------------ reads
    def current_snapshot_id(self) -> int | None:
        if not self.fs.exists(self._hint_path):
            return None
        return int(self.fs.read_text(self._hint_path).strip())

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            raise FileNotFoundError(f"{self.root}: no committed snapshot")
        path = self._snapshot_path(sid)
        if not self.fs.exists(path):
            raise FileNotFoundError(f"{self.root}: snapshot {sid} not found")
        d = json.loads(self.fs.read_text(path))
        if "files" in d and "manifest_files" not in d:
            # Migration: the pre-delta-manifest layout carried the FULL
            # file list inline on the snapshot json. Adapt it so old
            # tables stay readable; new commits write the current format.
            legacy = d.pop("files")
            snap = Snapshot(manifest_files=[], n_files_total=len(legacy), **d)
            snap.legacy_files = legacy
            return snap
        return Snapshot(**d)

    def snapshots(self) -> list[Snapshot]:
        """Committed history, oldest first: the ancestry of the current
        hint, truncated where ``expire()`` removed older snapshots (the
        walk stops at the first missing snapshot JSON — history is never
        rewritten to hide the truncation)."""
        out: list[Snapshot] = []
        sid = self.current_snapshot_id()
        while sid is not None:
            try:
                s = self.snapshot(sid)
            except FileNotFoundError:
                break
            out.append(s)
            sid = s.parent_id
        return list(reversed(out))

    def files(self, snapshot: Snapshot) -> list[str]:
        """Resolve a snapshot's full data-file list: the ordered union of
        its manifest files (<= ``compact_every`` + 1 small JSON reads)."""
        legacy = getattr(snapshot, "legacy_files", None)
        if legacy is not None:          # pre-delta-manifest layout
            return list(legacy)
        out: list[str] = []
        for mpath in snapshot.manifest_files:
            out.extend(json.loads(self.fs.read_text(mpath))["files"])
        return out

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """Scan the table as of a snapshot (default: current). The file
        list comes from the snapshot's bounded manifest chain; the scan
        itself is Spark's ordinary distributed parquet read."""
        s = self.snapshot(snapshot_id)
        files = self.files(s)
        if not files:
            raise FileNotFoundError(f"{self.root}@{s.snapshot_id}: empty table")
        return schema_reader(spark, s.schema).parquet(*files)

    # ------------------------------------------------------------ writes
    def _commit(self, snap: Snapshot) -> Snapshot:
        self.fs.write_text(self._snapshot_path(snap.snapshot_id),
                           json.dumps(asdict(snap), indent=1))
        self.fs.write_text(self._hint_path, str(snap.snapshot_id))
        return snap

    def _next_id(self) -> int:
        """One past everything ever allocated — hint, snapshot JSONs,
        manifest files AND data dirs — so a crash between data write and
        hint flip never wedges the next append on ``errorifexists``."""
        hi = self.current_snapshot_id() or 0
        for name in self.fs.listdir(self._meta_dir):
            if name.startswith(("snap-", "manifest-")) and name.endswith(".json"):
                hi = max(hi, int(name.split("-")[1][:6]))
        data_root = posixpath.join(self.root, "data")
        if self.fs.exists(data_root):
            for name in self.fs.listdir(data_root):
                if name.startswith("snap-"):
                    hi = max(hi, int(name[5:11]))
        return hi + 1

    def _write_data(self, df: DataFrame, sid: int) -> tuple[list[str], int]:
        obs = Observation(f"snap-{sid}")
        out_dir = self._data_dir(sid)
        (df.observe(obs, F.count(F.lit(1)).alias("n"))
           .write.mode("errorifexists").parquet(out_dir))
        files = [posixpath.join(out_dir, f)
                 for f in self.fs.listdir(out_dir)
                 if f.endswith(".parquet")]
        return files, int(obs.get["n"])

    def _write_manifest(self, sid: int, files: list[str]) -> str:
        path = self._manifest_path(sid)
        self.fs.write_text(path, json.dumps({"files": files}))
        return path

    def append(self, df: DataFrame, timestamp: float | None = None,
               summary: dict | None = None) -> Snapshot:
        sid = self._next_id()
        parent = self.current_snapshot_id()
        parent_manifests: list[str] = []
        prev_rows = prev_nfiles = 0
        if parent is not None:
            p = self.snapshot(parent)
            parent_manifests = p.manifest_files
            legacy = getattr(p, "legacy_files", None)
            if legacy is not None:
                # migrate a pre-delta-manifest parent: materialize its
                # inline file list as this commit's base manifest
                parent_manifests = [self._write_manifest(parent, legacy)]
            prev_rows, prev_nfiles = p.n_rows_total, p.n_files_total
        files, n = self._write_data(df, sid)
        if len(parent_manifests) + 1 > self.compact_every:
            # fold the chain: ONE full-state manifest (amortized O(total/N))
            full = [f for mp in parent_manifests
                    for f in json.loads(self.fs.read_text(mp))["files"]]
            manifests = [self._write_manifest(sid, full + files)]
        else:
            manifests = parent_manifests + [self._write_manifest(sid, files)]
        return self._commit(Snapshot(
            snapshot_id=sid, parent_id=parent, operation="append",
            timestamp=timestamp if timestamp is not None else time.time(),
            manifest_files=manifests, added_files=files,
            n_rows_added=n, n_rows_total=prev_rows + n,
            n_files_total=prev_nfiles + len(files),
            summary=summary or {}, schema=df.schema.jsonValue()))

    def overwrite(self, df: DataFrame, timestamp: float | None = None,
                  summary: dict | None = None) -> Snapshot:
        """Replace the table contents; old files stay until ``expire``."""
        sid = self._next_id()
        files, n = self._write_data(df, sid)
        return self._commit(Snapshot(
            snapshot_id=sid, parent_id=self.current_snapshot_id(),
            operation="overwrite",
            timestamp=timestamp if timestamp is not None else time.time(),
            manifest_files=[self._write_manifest(sid, files)],
            added_files=files, n_rows_added=n, n_rows_total=n,
            n_files_total=len(files), summary=summary or {},
            schema=df.schema.jsonValue()))

    def rollback(self, snapshot_id: int, timestamp: float | None = None) -> Snapshot:
        """New snapshot that restores an older file list by REUSING the
        target's manifest files byte-for-byte (history is never rewritten
        — same contract as Iceberg rollback; zero manifest writes)."""
        target = self.snapshot(snapshot_id)
        sid = self._next_id()
        manifests = list(target.manifest_files)
        legacy = getattr(target, "legacy_files", None)
        if legacy is not None:
            # migrate a pre-delta-manifest target (same as append): its
            # file list lives inline, not in manifests — materialize it,
            # else the rollback snapshot would resolve to zero files and
            # expire() could collect still-referenced data.
            manifests = [self._write_manifest(target.snapshot_id, legacy)]
        return self._commit(Snapshot(
            snapshot_id=sid, parent_id=self.current_snapshot_id(),
            operation="rollback",
            timestamp=timestamp if timestamp is not None else time.time(),
            manifest_files=manifests, added_files=[],
            n_rows_added=0, n_rows_total=target.n_rows_total,
            n_files_total=target.n_files_total,
            summary={"rolled_back_to": snapshot_id}, schema=target.schema))

    # ------------------------------------------------------------ expiry
    def expire(self, keep_last: int = 1) -> dict:
        """Drop all but the last ``keep_last`` snapshots from the reachable
        history and delete metadata/data no kept snapshot references —
        including orphans from crashed commits. Manifest files referenced
        by ANY kept snapshot survive (they are shared, immutable objects);
        nothing kept is ever mutated — the ancestry walk simply stops at
        the first expired snapshot. Local-scheme only for the actual
        deletes (object stores get the manifest of deletable keys back and
        delete out of band)."""
        import os
        import shutil

        history = self.snapshots()
        kept = history[-keep_last:] if keep_last > 0 else []
        keep_ids = {s.snapshot_id for s in kept}
        keep_manifests = {m for s in kept for m in s.manifest_files}
        live = {f for s in kept for f in self.files(s)}
        dropped_manifests, dropped_dirs = [], []
        for name in self.fs.listdir(self._meta_dir):
            full = posixpath.join(self._meta_dir, name)
            if name.startswith("snap-") and name.endswith(".json"):
                if int(name[5:11]) not in keep_ids:
                    dropped_manifests.append(full)
            elif name.startswith("manifest-") and full not in keep_manifests:
                dropped_manifests.append(full)
        data_root = posixpath.join(self.root, "data")
        if self.fs.exists(data_root):
            for d in self.fs.listdir(data_root):
                full = posixpath.join(data_root, d)
                refs = [f for f in live if f.startswith(full + "/")]
                if not refs:
                    dropped_dirs.append(full)
        from .fs import LocalFileSystem

        deleted = isinstance(self.fs, LocalFileSystem)
        if deleted:
            for p in dropped_manifests:
                os.remove(p)
            for d in dropped_dirs:
                shutil.rmtree(d)
        return {"manifests_removed": len(dropped_manifests),
                "data_dirs_removed": len(dropped_dirs),
                "deleted": deleted,
                "deletable_manifests": dropped_manifests,
                "deletable_dirs": dropped_dirs}
