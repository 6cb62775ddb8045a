"""Pipeline composition: the tsdat run lifecycle on Spark.

tsdat's two entry points (SURVEY §3) map to:

- ``IngestPipeline.run`` (retrieve → standardize → hook → QC → store,
  ``tsdat/pipeline/pipelines/ingest_pipeline.py:34-49``) →
  :func:`run_ingest` — one lazy DataFrame program ending in a partitioned
  write + per-partition lineage manifests.
- ``TransformationPipeline.run`` (fetch padded range → transform grid →
  QC → store, ``tsdat/pipeline/pipelines/transformation_pipeline.py:29-75``)
  → :func:`run_rollup_job` — tier cascade with checkpoint/resume: only
  days whose input fingerprint changed are recomputed (tsdat's
  ``modified_since`` analog), and each run is idempotent per day partition
  (dynamic partition overwrite).

Fetch padding (``storage_retriever.py:182-209``): the input scan is
widened by ``pad_s`` beyond the requested range before transforms so edge
bins see their neighbors, then output is trimmed to the owned range —
:func:`padded_range`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import date, datetime
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .config import DatasetSpec
from .io.checkpoint import (
    completed_partitions,
    partition_manifests,
    stale_partitions,
    write_manifests,
)
from .io.writers import PARTITION_COL, read_tier, write_tier
from .qc.checkers import QCContext
from .qc.manager import QualityManager, apply_qc
from .rollup import reaggregate_tier, rollup_tier
from .standardize import standardize, with_token_len, with_turn_latency


def padded_range(
    df: DataFrame,
    ts_col: str,
    start: str | datetime,
    end: str | datetime,
    pad_s: float,
) -> DataFrame:
    """Widen the scan window by pad_s (pushed into the source scan), for
    callers that trim to [start, end] after their windowed transform."""
    lo = F.lit(start).cast("timestamp") - F.expr(f"INTERVAL {int(pad_s)} SECOND")
    hi = F.lit(end).cast("timestamp") + F.expr(f"INTERVAL {int(pad_s)} SECOND")
    return df.where((F.col(ts_col) >= lo) & (F.col(ts_col) <= hi))


@dataclass
class IngestResult:
    df: DataFrame
    qc_bits: dict
    manifests: list


def run_ingest(
    raw: DataFrame,
    spec: DatasetSpec,
    ctx: QCContext,
    managers: list[QualityManager],
    dedup_keys: list[str] | None = None,
    table_path: str | None = None,
    hook_customize: Callable[[DataFrame], DataFrame] | None = None,
    hook_finalize: Callable[[DataFrame], DataFrame] | None = None,
    writer: Callable[[DataFrame, str], None] | None = None,
    hook_plot: Callable[[DataFrame], None] | None = None,
) -> IngestResult:
    """standardize → customize hook → QC → finalize hook → (store) → plot.

    ``writer``: optional storage sink ``(df, table_path) -> None`` (e.g.
    :class:`tsdat_spark.io.writers.CSVDatasetWriter`); default is the
    date-partitioned tier write. Lineage manifests are emitted either way:
    on the default path they fingerprint the committed partitions (the
    write observes which days it touched, and only those partitions are
    scanned back), so the standardize/QC plan runs once. A custom sink
    cannot be read back generically, so its manifests fingerprint the plan.

    ``hook_plot``: side-effect-only observer invoked with the FINAL
    DataFrame after storage — the ``hook_plot_dataset`` slot of the
    reference lifecycle (``tsdat/pipeline/pipelines/ingest_pipeline.py:
    51-87``, which renders matplotlib figures into
    ``storage.uploadable_dir``). The engine ships no plotting (data
    computation only); deployments hang dashboards/thumbnailers here.
    Exceptions propagate — like tsdat, a failing plot hook fails the run
    visibly rather than silently dropping the artifact."""
    df = standardize(raw, spec, dedup_keys=dedup_keys)
    # transcript enrichments only apply when the declared schema has the
    # transcript columns (yaml-configured datasets may not)
    if "text" in df.columns:
        df = with_token_len(df)
    if "conv_id" in df.columns and "turn_idx" in df.columns:
        df = with_turn_latency(df, conv_col="conv_id", ts_col=spec.ts_col)
    if hook_customize:
        df = hook_customize(df)
    df, bits = apply_qc(df, spec, ctx, managers)
    if hook_finalize:
        df = hook_finalize(df)
    manifests = []
    if table_path:
        if writer is not None:
            writer(df, table_path)
            manifests = partition_manifests(df, ts_col=spec.ts_col)
        else:
            day = F.to_date(F.col(spec.ts_col))
            touched = Observation()
            write_tier(df.observe(touched, F.collect_set(day).alias("days"),
                                  F.count_if(day.isNull()).alias("nulls")),
                       table_path, ts_col=spec.ts_col)
            got = touched.get
            keep = F.col(PARTITION_COL).isin(got["days"])
            if got["nulls"]:  # null-ts rows land in the null partition
                keep = keep | F.col(PARTITION_COL).isNull()
            stored = read_tier(df.sparkSession, table_path).where(keep)
            manifests = partition_manifests(stored, ts_col=spec.ts_col, lineage_cols=df.columns)
        write_manifests(table_path, manifests)
    if hook_plot:
        hook_plot(df)
    return IngestResult(df, bits, manifests)


@dataclass
class RollupJobResult:
    written_days: list[str] = field(default_factory=list)
    skipped_days: list[str] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)


def run_rollup_job(
    turns: DataFrame,
    out_root: str,
    series_keys: list[str] = ("conv_id", "tool", "role"),
    ts_col: str = "ts",
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
    hook_customize_inputs: Callable[[DataFrame], DataFrame] | None = None,
) -> RollupJobResult:
    """Checkpointed tier-cascade job (see module docstring).

    ``hook_customize_inputs``: the ``hook_customize_input_datasets`` slot of
    the reference transform lifecycle (``tsdat/pipeline/pipelines/
    transformation_pipeline.py:77-94``) — applied to the input turns BEFORE
    lineage fingerprinting and the tier cascade, so a hook edit changes the
    input snapshot ids and re-triggers exactly the affected partitions.

    Writes ``{out_root}/tier_{t}`` for each tier. Crash-resume protocol:

    - Every tier path keeps its OWN manifests, written only *after* that
      tier's data write succeeded, so a crash mid-cascade leaves the
      not-yet-written tiers' manifests missing/stale and the next run
      rebuilds exactly those tiers (from the already-written finer tier —
      never by re-reading raw turns).
    - Tier N+1 is computed from tier N's *written storage*, not an on-heap
      persist: digest-bearing rows cached on-heap are GC-bound at high core
      counts (measured in BENCH.md), and the parquet round-trip is also what
      makes per-tier resume possible at all.
    """
    spark = turns.sparkSession
    if hook_customize_inputs:
        turns = hook_customize_inputs(turns)
    current = partition_manifests(turns, ts_col=ts_col)
    per_tier_todo: dict[str, list] = {}
    for tier in tiers:
        done = completed_partitions(f"{out_root}/tier_{tier}")
        per_tier_todo[tier] = stale_partitions(current, done)
    todo_days_any = {m.partition for t in tiers for m in per_tier_todo[t]}
    result = RollupJobResult(
        skipped_days=sorted(m.partition for m in current if m.partition not in todo_days_any)
    )
    if not todo_days_any:
        return result

    base = tiers[0]
    base_path = f"{out_root}/tier_{base}"
    # Per-tier row metrics ride an Observation on each tier's write job, so
    # they count exactly the rows written this run at no extra scan; a tier
    # with nothing to do gets no metric.
    rows: dict[str, Observation] = {}
    base_days = sorted(m.partition for m in per_tier_todo[base])
    if base_days:
        filtered = turns.where(F.to_date(F.col(ts_col)).cast("string").isin(base_days))
        fine = rollup_tier(filtered, base, series_keys=series_keys, ts_col=ts_col)
        rows[base] = Observation()
        write_tier(fine.observe(rows[base], F.count(F.lit(1)).alias("n")),
                   base_path, ts_col="bin_start")
        write_manifests(base_path, per_tier_todo[base])
    result.written_days = base_days

    prev_path = base_path
    for tier in tiers[1:]:
        path = f"{out_root}/tier_{tier}"
        days = [date.fromisoformat(m.partition) for m in per_tier_todo[tier]]
        if days:
            # partition-pruned scan of the finer tier's written table
            finer = read_tier(spark, prev_path).where(F.col(PARTITION_COL).isin(days))
            coarser = reaggregate_tier(finer, tier, series_keys=series_keys)
            rows[tier] = Observation()
            write_tier(coarser.observe(rows[tier], F.count(F.lit(1)).alias("n")),
                       path, ts_col="bin_start")
            write_manifests(path, per_tier_todo[tier])
        prev_path = path

    for tier, obs in rows.items():
        result.metrics[f"tier_{tier}_rows"] = obs.get["n"]
    return result


def run_rollup_job_snapshot(
    table,
    spark,
    out_root: str,
    **kwargs,
) -> RollupJobResult:
    """Tier-cascade over a :class:`~tsdat_spark.io.snapshots.SnapshotTable`.

    Two-level resume protocol (the north rule's Iceberg shape):

    1. **O(1) table-level short-circuit**: the consumed snapshot id is
       persisted at ``{out_root}/_consumed_snapshot.json``; when the
       table's current snapshot hasn't moved, the job returns WITHOUT
       launching any Spark work — no scan, no fingerprint job. Only a
       snapshot commit can change table contents, so id equality is proof.
    2. **Per-day fingerprint resume** (:func:`run_rollup_job`): when the
       snapshot DID move, the content fingerprints recompute exactly the
       affected day partitions — an append touching 2 days rebuilds 2
       days, not the table.

    The input is pinned to one snapshot id for the whole cascade, so a
    concurrent append mid-job cannot tear the read; the marker is written
    only after every tier committed (crash → next run redoes the cascade
    against the same pinned state, and per-day manifests skip the done
    work).
    """
    import json as _json

    from .io.fs import get_filesystem

    fs = get_filesystem(out_root)
    marker = f"{out_root}/_consumed_snapshot.json"
    sid = table.current_snapshot_id()
    if sid is None:
        return RollupJobResult(metrics={"snapshot_unchanged": False})
    if fs.exists(marker):
        prev = _json.loads(fs.read_text(marker))
        if prev.get("snapshot_id") == sid and prev.get("table_root") == table.root:
            r = RollupJobResult(metrics={"snapshot_unchanged": True,
                                         "snapshot_id": sid})
            return r
    result = run_rollup_job(table.read(spark, sid), out_root, **kwargs)
    result.metrics["snapshot_unchanged"] = False
    result.metrics["snapshot_id"] = sid
    fs.makedirs(out_root)
    fs.write_text(marker, _json.dumps({"snapshot_id": sid,
                                       "table_root": table.root}))
    return result


def run_corpus_export(
    spark,
    docs: DataFrame,
    out_root: str,
    merges: list | None = None,
    n_merges: int = 32,
    seq_len: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    shards: int | None = None,
) -> dict:
    """End-to-end training-data export: tokenize → pack → write shards.

    The last mile of the LLM-data pipeline, composed from the engine's own
    operators so every stage keeps its audited scale shape:

    1. **tokenize** — :func:`~tsdat_spark.text.bpe.encode_bpe` with the
       given merges (or ``train_bpe`` on the corpus when none are passed);
       Arrow-batched, per-distinct-word cached;
    2. **pack** — :func:`~tsdat_spark.text.packing.pack_sequences` over the
       BPE token counts (two-phase distributed prefix scan, zero-exchange
       final plan): every document gets its global ``start_offset`` /
       ``seq_id`` / ``pos_in_seq`` under the stable ``id_col`` order;
    3. **shard** — ``repartitionByRange(seq_id)`` + in-partition sort by
       ``(seq_id, pos_in_seq)``, so each parquet shard holds a contiguous,
       internally-ordered run of training sequences (a reader streams
       shards in name order and sees the exact packed stream);
    4. **manifest** — ``merges.json`` (the tokenizer) + ``manifest.json``
       (doc/token/sequence counts) beside the shards, both through the FS
       scheme registry (object-store ready).

    Returns the manifest dict. Deterministic end to end: same corpus +
    same merges → byte-identical shard contents.
    """
    import json as _json

    from .io.fs import get_filesystem
    from .text.bpe import encode_bpe, train_bpe
    from .text.packing import pack_sequences

    if merges is None:
        merges = train_bpe(docs, n_merges=n_merges, text_col=text_col)
    enc = encode_bpe(docs, merges, text_col=text_col, out_col="bpe_tokens")
    enc = enc.withColumn("n_bpe", F.size("bpe_tokens").cast("long"))
    packed = pack_sequences(
        enc, seq_len, id_col=id_col, count_col="n_bpe", text_col=text_col
    )
    joined = enc.join(
        packed.select(id_col, "start_offset", "seq_id", "pos_in_seq", "n_spans"),
        id_col,
    )
    n_shards = shards or max(joined.rdd.getNumPartitions() // 4, 1)
    out = (
        joined.repartitionByRange(n_shards, F.col("seq_id"), F.col(id_col))
        .sortWithinPartitions("seq_id", "pos_in_seq", id_col)
        .select(id_col, "seq_id", "pos_in_seq", "start_offset", "n_bpe",
                "n_spans", "bpe_tokens")
    )
    out.write.mode("overwrite").parquet(f"{out_root}/shards")

    written = spark.read.parquet(f"{out_root}/shards")
    totals = written.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").alias("n_tokens"),
        (F.max(F.col("start_offset") + F.col("n_bpe"))).alias("stream_end"),
    ).first()
    manifest = {
        "n_docs": int(totals[0] or 0),
        "n_tokens": int(totals[1] or 0),
        "stream_end": int(totals[2] or 0),
        "n_sequences": int(-(-(totals[2] or 0) // seq_len)),
        "seq_len": seq_len,
        "n_merges": len(merges),
        "shards": n_shards,
    }
    fs = get_filesystem(out_root)
    fs.makedirs(out_root)
    fs.write_text(f"{out_root}/merges.json",
                  _json.dumps([[m[0], m[1]] for m in merges]))
    fs.write_text(f"{out_root}/manifest.json", _json.dumps(manifest))
    return manifest
