"""Per-partition lineage manifests and checkpoint/resume.

North-rule requirement: jobs are resumable from per-partition checkpoints
carrying lineage manifests (input fingerprint, partition hash, QC counters)
and emit per-partition metrics. tsdat's analog is ``modified_since``
incremental reprocessing (``tsdat/io/storage/file_system.py:110-141``) and
``record_corrections_applied`` provenance notes
(``tsdat/utils/record_corrections_applied.py:5-20``).

Protocol:

1. ``partition_manifests(df)`` computes, in ONE distributed aggregation,
   per-day-partition: row count, an order-insensitive content hash
   (exact decimal SUM of per-row xxhash64 combined with their XOR and the
   row count — commutative, so partition layout cannot change it, and
   duplicate-row multiplicity affects it, which a bare XOR would cancel),
   and QC counters (sum of each ``qc_*`` column's nonzero flags).
   ``run_ingest`` fingerprints the committed partitions: its write
   observes which days it touched, and the manifests aggregate a
   partition-pruned scan of just those days of the stored table, so they
   describe what was actually stored and the standardize/QC plan runs once
   (a custom sink that cannot be read back fingerprints the plan instead).
2. ``write_manifests`` stores them as JSON sidecars under
   ``<table>/_manifests/<date>.json`` (an Iceberg deployment would put them
   in snapshot summary properties instead).
3. Resume: ``completed_partitions`` reads the sidecars;
   ``resume_remaining`` anti-filters the *input* down to days whose
   manifest is missing OR whose input fingerprint changed — so a crashed
   job redoes only unfinished days, and late-arriving input invalidates
   exactly the affected days.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class PartitionManifest:
    partition: str  # ISO date
    n_rows: int
    content_hash: str  # commutative sum64+xor64 of row xxhash64s, hex
    qc_counters: dict[str, int]
    input_snapshot_id: str  # fingerprint of the input slice for this day
    written_at: float = 0.0


def partition_manifests(
    df: DataFrame,
    ts_col: str = "ts",
    lineage_cols: list[str] | None = None,
) -> list[PartitionManifest]:
    """One aggregation job → per-day manifests (see module docstring)."""
    lineage_cols = lineage_cols or [c for c in df.columns if not c.startswith("__")]
    qc_cols = [c for c in df.columns if c.startswith("qc_")]
    day = F.to_date(F.col(ts_col)).cast("string").alias("__day")
    row_hash = F.xxhash64(*[F.col(c) for c in lineage_cols])
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        # xor: commutative ⇒ layout-independent, but an even number of
        # identical rows cancels to zero, so it cannot stand alone…
        F.bit_xor(row_hash).alias("__xor"),
        # …sum: multiplicity-sensitive. Exact DECIMAL(38,0) accumulation is
        # ANSI-overflow-safe at any realistic count (10^12 rows × 2^63 ≈
        # 10^31 ≪ 10^38); reduced mod 2^64 on the driver.
        F.sum(row_hash.cast("decimal(38,0)")).alias("__sum"),
    ]
    aggs += [F.sum((F.col(c) != 0).cast("long")).alias(f"__qc_{c}") for c in qc_cols]
    rows = df.groupBy(day).agg(*aggs).collect()
    out = []
    for r in rows:
        x = (r["__xor"] or 0) & 0xFFFFFFFFFFFFFFFF
        s = int(r["__sum"] or 0) % (1 << 64)
        h = f"{s:016x}{x:016x}"
        out.append(
            PartitionManifest(
                partition=r["__day"],
                n_rows=r["__n"],
                content_hash=h,
                qc_counters={c: int(r[f"__qc_{c}"] or 0) for c in qc_cols},
                input_snapshot_id=f"{h}:{r['__n']}",
                written_at=time.time(),
            )
        )
    return out


def _manifest_dir(table_path: str) -> str:
    return os.path.join(table_path, "_manifests")


def write_manifests(table_path: str, manifests: list[PartitionManifest]) -> None:
    from .fs import get_filesystem

    d = _manifest_dir(table_path)
    fs = get_filesystem(d)
    fs.makedirs(d)
    for m in manifests:
        fs.write_text(os.path.join(d, f"{m.partition}.json"),
                      json.dumps(asdict(m), indent=1))


def completed_partitions(table_path: str) -> dict[str, PartitionManifest]:
    """Read manifests through the same FS registry ``write_manifests`` uses,
    so resume works on registered object-store schemes too (os.path.isdir
    on an ``s3://...`` path would silently report no checkpoints and force a
    full reprocess)."""
    from .fs import get_filesystem

    d = _manifest_dir(table_path)
    fs = get_filesystem(d)
    if not fs.exists(d):
        return {}
    out = {}
    for name in fs.listdir(d):
        if name.endswith(".json"):
            data = json.loads(fs.read_text(os.path.join(d, name)))
            out[data["partition"]] = PartitionManifest(**data)
    return out


def stale_partitions(
    current: list[PartitionManifest], done: dict[str, PartitionManifest]
) -> list[PartitionManifest]:
    """The manifests in ``current`` whose day still needs work: a day is done
    iff ``done`` (from :func:`completed_partitions`) holds a manifest for it
    with the same input snapshot id."""
    return [
        m
        for m in current
        if (prev := done.get(m.partition)) is None
        or prev.input_snapshot_id != m.input_snapshot_id
    ]


def resume_remaining(
    input_df: DataFrame,
    table_path: str,
    ts_col: str = "ts",
    lineage_cols: list[str] | None = None,
) -> tuple[DataFrame, list[PartitionManifest], list[str]]:
    """Filter the input down to days still needing work.

    Returns (filtered input, fresh input manifests for those days, skipped
    day list), by :func:`stale_partitions`.
    """
    done = completed_partitions(table_path)
    current = partition_manifests(input_df, ts_col=ts_col, lineage_cols=lineage_cols)
    todo = stale_partitions(current, done)
    stale = {m.partition for m in todo}
    skipped = [m.partition for m in current if m.partition not in stale]
    if not todo:
        return input_df.limit(0), [], skipped
    days = [m.partition for m in todo]
    filtered = input_df.where(F.to_date(F.col(ts_col)).cast("string").isin(days))
    return filtered, todo, skipped
