"""Structured Streaming tier maintenance — continuous aggregates on a stream.

tsdat is batch-only (eager xarray, one file at a time); the Spark-native way
to keep the 1m/1h/1d retention tiers fresh against a continuously-landing
transcript stream is:

1. **Append mergeable partials** (:func:`stream_append_tier`): a
   ``foreachBatch`` sink runs the SAME ``rollup_tier`` program on
   each micro-batch and APPENDS the resulting tier rows. Because every tier
   row is a mergeable partial (counts add, t-digests merge — see
   ``rollup/tdigest.py``), a tier table with duplicate (series, bin) keys is
   a valid "unmerged" state; readers and the compactor collapse duplicates
   with :func:`tsdat_spark.rollup.reaggregate_tier` at the SAME grain, which
   is associative and therefore exactly-once-insensitive to micro-batch
   boundaries. Checkpointing is Spark's own streaming checkpoint (source
   offsets), composing with the per-partition lineage manifests of the
   batch path.
2. **Watermarked windowed aggregate** (:func:`stream_windowed_counts`): the
   pure-streaming formulation for the exact columns (counts/sums/distinct),
   with late data bounded by the watermark — use when no sketch columns are
   needed and end-to-end latency matters.

Scale notes: foreachBatch reuses the batch engine, so skew handling and the
zero-shuffle phase-1 partials apply per micro-batch; the windowed aggregate
keeps state per (series, bin), which the watermark bounds to
``watermark / tier_width`` windows per series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.writers import read_tier, schema_reader
from .rollup import reaggregate_tier, rollup_tier
from .rollup.tiers import TIER_SECONDS


def stream_append_tier(
    spark: SparkSession,
    source_path: str,
    source_schema: str,
    tier_path: str,
    checkpoint_path: str,
    tier: str = "1m",
    series_keys: list[str] = ("conv_id", "tool", "role"),
    ts_col: str = "ts",
    available_now: bool = True,
):
    """Start (and with ``available_now`` run to completion) a streaming query
    that appends per-micro-batch tier partials (see module docstring).

    Returns the StreamingQuery; callers own ``awaitTermination``.
    """
    stream = spark.readStream.schema(source_schema).parquet(source_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tier_rows = rollup_tier(batch_df, tier, series_keys=list(series_keys), ts_col=ts_col)
        (
            tier_rows.withColumn("p_date", F.to_date(F.col("bin_start")))
            .write.partitionBy("p_date")
            .mode("append")
            .parquet(tier_path)
        )

    writer = stream.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_tier(
    spark: SparkSession,
    tier_path: str,
    tier: str,
    series_keys: list[str] = ("conv_id", "tool", "role"),
) -> DataFrame:
    """Collapse duplicate (series, bin) partials by re-aggregating the tier
    at its OWN grain (merge is associative; same operator as the tier
    cascade). Returns the compacted frame; callers decide whether to
    rewrite the table or just read through it."""
    df = read_tier(spark, tier_path)
    return reaggregate_tier(df, tier, series_keys=list(series_keys))


def stream_windowed_counts(
    stream_df: DataFrame,
    tier: str = "1m",
    series_keys: list[str] = ("conv_id", "role"),
    ts_col: str = "ts",
    token_col: str = "token_len",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked windowed aggregate of the exact tier columns
    (n_turns / token_len_sum / n_latency) — the pure-streaming tier path."""
    secs = TIER_SECONDS[tier]
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), f"{secs} seconds").alias("w"), *series_keys)
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(token_col).alias("token_len_sum"),
            F.count("latency_us").alias("n_latency"),
        )
        .select(F.col("w.start").alias("bin_start"), *series_keys,
                "n_turns", "token_len_sum", "n_latency")
    )


# ---------------------------------------------------------------------------
# Custom stateful streaming operator: session windows with a gap timeout,
# via applyInPandasWithState (the engine's batch sessionize semantics —
# queries.q_sessionize — kept exactly: a session closes when the gap since
# the previous turn of the conversation exceeds gap_s).
# ---------------------------------------------------------------------------

_SESS_STATE = (
    "session_idx long, session_start long, last_us long, n_turns long, token_sum long"
)
_SESS_OUT = (
    "conv_id string, session_idx long, n_turns long, "
    "session_start timestamp, session_end timestamp, token_len_sum long"
)


def sessionize_stream(
    stream_df: DataFrame,
    gap_s: int = 1800,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    token_col: str = "token_len",
):
    """Stateful streaming sessionization (gap > ``gap_s`` starts a new
    session). Emits each session exactly once, when it is CLOSED by a later
    turn of the same conversation; the open tail session rides in the group
    state across micro-batches (so sessions spanning batch boundaries merge
    correctly). Per-batch work is vectorized numpy (gap boundaries via
    flatnonzero + reduceat), never a per-row Python loop.

    Arrival contract: micro-batches must be per-key time-ordered (each
    batch's turns for a conversation are no earlier than the previous
    batch's) — the standard file-drop / log-append premise that watermarked
    streaming assumes. Disorder WITHIN a batch is fine (rows are sorted
    per batch); disorder ACROSS batches would need fragment-merge state +
    event-time-timeout emission, which this operator intentionally trades
    away for exactly-one-emission-per-closed-session simplicity. The
    contract is self-enforcing: a batch whose earliest turn for a key
    precedes that key's state timestamp raises (failing the streaming
    query) instead of silently mis-sessionizing.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = int(gap_s) * 1_000_000

    def fn(key, pdfs, state):
        chunks = [p for p in pdfs if not p.empty]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(ts_col, ignore_index=True)
        us = pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
        tok = pdf[token_col].to_numpy(dtype="float64", na_value=0.0)

        if state.exists:
            idx0, start0, last0, n0, tok0 = state.get
            if us[0] < last0:
                # Arrival-contract self-enforcement (see docstring): a batch
                # whose earliest turn predates the state's last seen turn is
                # cross-batch disorder; fail loudly instead of silently
                # mis-sessionizing.
                raise ValueError(
                    f"sessionize_stream: cross-batch disorder for conv {key[0]!r}: "
                    f"batch min ts ({us[0]} us) precedes state last ts ({last0} us); "
                    "micro-batches must be per-key time-ordered"
                )
        else:
            idx0, start0, last0, n0, tok0 = -1, None, None, 0, 0

        prev = np.concatenate([[last0 if last0 is not None else -(1 << 62)], us[:-1]])
        new_start = (us - prev) > gap_us
        bounds = np.flatnonzero(new_start)  # indices where a NEW session begins
        # segment [seg_start[i], seg_end[i]) belongs to session idx0 + i(+1)
        seg_starts = np.concatenate([[0], bounds]) if (bounds.size == 0 or bounds[0] != 0) else bounds
        seg_starts = np.unique(seg_starts)
        seg_ends = np.concatenate([seg_starts[1:], [len(us)]])
        n_per = seg_ends - seg_starts
        tok_per = np.add.reduceat(tok, seg_starts).astype("int64")
        first_us = us[seg_starts]
        last_us = us[seg_ends - 1]

        # does the first segment continue the open state session?
        continues = state.exists and not new_start[0]
        seg_idx = idx0 + np.arange(len(seg_starts)) + (0 if continues else 1)
        seg_start_us = first_us.copy()
        seg_n = n_per.copy()
        seg_tok = tok_per.copy()
        if continues:
            seg_start_us[0] = start0
            seg_n[0] += n0
            seg_tok[0] += tok0

        # all but the last segment are closed by a later turn -> emit
        closed = slice(0, len(seg_starts) - 1)
        out = pd.DataFrame(
            {
                "conv_id": key[0],
                "session_idx": seg_idx[closed],
                "n_turns": seg_n[closed],
                "session_start": pd.to_datetime(seg_start_us[closed], unit="us"),
                "session_end": pd.to_datetime(last_us[closed], unit="us"),
                "token_len_sum": seg_tok[closed],
            }
        )
        if state.exists and not continues:
            # The micro-batch boundary landed exactly on a session gap: the
            # open session held in state is closed by this batch's first turn
            # but belongs to no segment above — emit it explicitly (it was
            # silently dropped before this guard).
            head = pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "session_idx": np.array([idx0], dtype="int64"),
                    "n_turns": np.array([n0], dtype="int64"),
                    "session_start": pd.to_datetime([start0], unit="us"),
                    "session_end": pd.to_datetime([last0], unit="us"),
                    "token_len_sum": np.array([tok0], dtype="int64"),
                }
            )
            out = pd.concat([head, out], ignore_index=True) if len(out) else head
        state.update((
            int(seg_idx[-1]), int(seg_start_us[-1]), int(last_us[-1]),
            int(seg_n[-1]), int(seg_tok[-1]),
        ))
        if len(out):
            yield out

    return stream_df.groupBy(conv_col).applyInPandasWithState(
        fn, _SESS_OUT, _SESS_STATE, "append", GroupStateTimeout.NoTimeout
    )


def stream_session_counts(
    stream_df: DataFrame,
    gap_s: int = 1800,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    token_col: str = "token_len",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session aggregates via Spark's BUILT-IN ``session_window`` — the
    zero-custom-state formulation of the same gap semantics. Compared to
    the applyInPandasWithState operators: no session_idx (sessions are
    keyed by their window), aggregates limited to what SQL expresses, and
    emission at watermark expiry — but the state store, merge logic, and
    disorder handling are all Spark's own, which is the right default when
    count/sum/min/max per session is all a job needs. Scale: state is per
    (key, open window), merged by the engine, bounded by the watermark."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), f"{gap_s} seconds").alias("w"), conv_col)
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.coalesce(F.sum(token_col), F.lit(0)).alias("token_len_sum"),
        )
        .select(conv_col, "session_start", "session_end", "n_turns", "token_len_sum")
    )


def sessionize_stream_eventtime(
    stream_df: DataFrame,
    gap_s: int = 1800,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    token_col: str = "token_len",
    watermark: str = "1 hour",
    counter_ttl_s: int = 30 * 86400,
):
    """Disorder-tolerant streaming sessionization: the opt-in variant that
    LIFTS :func:`sessionize_stream`'s per-key ordered-batches arrival
    contract. Sessions here are interval-union session windows (each turn
    covers ``[ts, ts+gap)``; a session is a maximal union of overlapping
    covers) — for point events this is exactly the ordered gap rule, but it
    stays well-defined under arbitrary cross-batch disorder.

    State per conversation is the set of OPEN session fragments as
    (start, last, n_turns, token_sum) tuples — sufficient statistics that
    are EXACT for interval-union semantics: a fragment's time cover is the
    contiguous ``[start, last+gap)``, so a late turn merges iff it lands in
    ``[start-gap, last+gap]`` and two fragments merge iff their covers
    touch; no interior turn timestamps are ever needed. Each batch:
    vectorized gap-split of the batch's turns (same numpy as the ordered
    path), then a sweep-merge of batch fragments with state fragments.

    Emission is watermark-gated instead of next-turn-gated: a fragment is
    closed — and emitted exactly once, in event-time order with a stable
    per-conversation ``session_idx`` — only when the watermark passes
    ``last + gap`` (no admissible turn can extend it). Quiet conversations
    are flushed by an event-time TIMEOUT armed at the earliest possible
    close; turns older than the watermark are dropped by Spark before the
    operator, which is what bounds fragment state. Emitted-counter state
    (kept after all fragments close so a resuming conversation continues
    its session_idx) is bounded separately by ``counter_ttl_s``: an
    event-time TTL evicts counters quiet longer than the TTL, and a
    conversation resuming past it restarts numbering at 0 — state size
    therefore tracks conversations active within the TTL window, never
    all conv_ids ever seen. The trade vs the ordered path:
    emission latency ≥ the watermark delay, and per-key state is a fragment
    list instead of one tuple.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = int(gap_s) * 1_000_000

    def _batch_fragments(pdf):
        """Vectorized gap-split of one batch's turns → fragment arrays."""
        pdf = pdf.sort_values(ts_col, ignore_index=True)
        us = pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
        tok = pdf[token_col].to_numpy(dtype="float64", na_value=0.0)
        new_start = np.empty(len(us), dtype=bool)
        new_start[0] = True
        new_start[1:] = (us[1:] - us[:-1]) > gap_us
        seg_starts = np.flatnonzero(new_start)
        seg_ends = np.concatenate([seg_starts[1:], [len(us)]])
        return (
            us[seg_starts],
            us[seg_ends - 1],
            (seg_ends - seg_starts).astype("int64"),
            np.add.reduceat(tok, seg_starts).astype("int64"),
        )

    def fn(key, pdfs, state):
        if state.exists:
            starts, lasts, ns, toks, emitted = state.get
            frags = list(zip(starts, lasts, ns, toks))
        else:
            frags, emitted = [], 0

        if not state.hasTimedOut:
            chunks = [p for p in pdfs if not p.empty]
            if chunks:
                bs, bl, bn, bt = _batch_fragments(pd.concat(chunks, ignore_index=True))
                frags.extend(zip(bs.tolist(), bl.tolist(), bn.tolist(), bt.tolist()))
        else:
            # timeout invocation: no data, just re-evaluate closures below
            for p in pdfs:  # pragma: no cover - iterator must be drained
                pass

        wm_us = state.getCurrentWatermarkMs() * 1000

        if not frags:
            if emitted and not state.hasTimedOut:
                # keep the counter so a resumed conversation continues
                # session_idx instead of restarting at 0 — but bounded:
                # re-arm the TTL so a permanently-quiet conversation's
                # counter is eventually evicted (state can't grow forever
                # with distinct conv_ids).
                state.update(([], [], [], [], emitted))
                state.setTimeoutTimestamp(wm_us // 1000 + counter_ttl_s * 1000)
            else:
                # never emitted, or the counter TTL expired: drop the state
                # (a conversation resuming past the TTL restarts at idx 0)
                state.remove()
            return

        # sweep-merge: fragments sorted by start merge while covers touch
        frags.sort()
        merged = [list(frags[0])]
        for s, l, n, t in frags[1:]:
            cur = merged[-1]
            if s <= cur[1] + gap_us:
                cur[1] = max(cur[1], l)
                cur[2] += n
                cur[3] += t
            else:
                merged.append([s, l, n, t])

        closed = [f for f in merged if f[1] + gap_us < wm_us]
        still_open = [f for f in merged if f[1] + gap_us >= wm_us]

        if still_open:
            state.update((
                [f[0] for f in still_open], [f[1] for f in still_open],
                [f[2] for f in still_open], [f[3] for f in still_open],
                emitted + len(closed),
            ))
            # flush when the watermark passes the earliest possible close
            state.setTimeoutTimestamp(min(f[1] for f in still_open) // 1000 + gap_s * 1000 + 1)
        else:
            # all fragments closed: keep ONLY the emitted counter (empty
            # fragment arrays) so a conversation that goes quiet and later
            # resumes keeps its stable per-conversation session_idx — the
            # exactly-once numbering contract, mirroring the ordered
            # sessionize_stream. The counter-only state is TTL-bounded: a
            # timeout ``counter_ttl_s`` past the watermark evicts it (see
            # the empty-frags branch), so state size tracks conversations
            # active within the TTL window, not all conv_ids ever seen.
            state.update(([], [], [], [], emitted + len(closed)))
            state.setTimeoutTimestamp(wm_us // 1000 + counter_ttl_s * 1000)

        if closed:
            yield pd.DataFrame(
                {
                    "conv_id": key[0],
                    "session_idx": np.arange(emitted, emitted + len(closed), dtype="int64"),
                    "n_turns": np.array([f[2] for f in closed], dtype="int64"),
                    "session_start": pd.to_datetime([f[0] for f in closed], unit="us"),
                    "session_end": pd.to_datetime([f[1] for f in closed], unit="us"),
                    "token_len_sum": np.array([f[3] for f in closed], dtype="int64"),
                }
            )

    state_schema = (
        "starts array<long>, lasts array<long>, ns array<long>, toks array<long>, emitted long"
    )
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(conv_col)
        .applyInPandasWithState(
            fn, _SESS_OUT, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def dedup_stream(
    stream_df: DataFrame,
    key_cols=("text_md5",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: one occurrence of each key within the
    watermark horizon survives; duplicates arriving in LATER micro-batches
    are always dropped — the incremental-ingest twin of the batch
    ``dedup_exact`` keeper query. Within a single micro-batch the surviving
    copy is whichever row Spark's state store sees first (partition order,
    not event order) — byte-identical duplicates make the choice
    immaterial; callers needing the min-doc_id keeper run the batch
    ``dedup_exact`` over the deduped stream's output.

    Built on Structured Streaming's own ``dropDuplicates`` state store: the
    watermark bounds state to keys seen in the last ``watermark`` of event
    time (exactly the contract a continuously-landing crawl needs — a
    duplicate landing a month later is a new document version, not a
    replay). State is partitioned by key hash across executors, so the
    dedup scales with the cluster like any keyed aggregation; an unbounded
    no-watermark variant would grow state forever and is deliberately not
    offered.
    """
    # dropDuplicatesWithinWatermark (not plain dropDuplicates): state for a
    # key is evicted once the watermark passes it even though the event-time
    # column is NOT part of the dedup key — the exact semantics above.
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(key_cols))


def snapshot_sink(table, batch_df: DataFrame, batch_id: int,
                  stream_id: str | None = None) -> bool:
    """Idempotent foreachBatch sink body for snapshot tables.

    ``foreachBatch`` is at-least-once: if the process dies after the
    snapshot commit but before Structured Streaming commits the batch to
    its checkpoint, restart replays the same ``batch_id``. The snapshot
    summary stamps every streamed batch, so the guard is the standard
    Iceberg-style one: walk current-snapshot ancestry to the most recent
    STREAMED snapshot (skipping interleaved manual commits) and skip the
    append when its ``stream_batch_id >= batch_id``. Batch ids are
    strictly increasing only WITHIN one checkpoint — a new checkpoint
    (reprocessing, moved dir, second source) restarts them at 0 — so pass
    ``stream_id`` (e.g. the checkpoint path) to scope the guard: stamps
    from other streams are walked past, never compared. Without a
    ``stream_id`` the guard compares against ANY streamed ancestor (the
    single-stream contract).

    Returns True when the batch was appended, False when skipped as a
    replay.
    """
    sid = table.current_snapshot_id()
    while sid is not None:
        try:
            s = table.snapshot(sid)
        except FileNotFoundError:      # expired tail — no streamed ancestor
            break
        prev = s.summary.get("stream_batch_id")
        # A stamp WITHOUT a stream_id predates the scoping (single-stream
        # era): treat it as ours, else upgraded tables lose replay
        # protection for exactly the crash window the guard closes.
        # KNOWN HAZARD (ADVICE r6): the mirror image — a genuinely NEW
        # stream started on an upgraded table whose latest streamed
        # ancestor is a legacy stamp will have its first batches
        # (batch_id <= legacy stamp) skipped as replays. Before pointing a
        # new checkpoint at a pre-stream_id table, either start the new
        # stream's batch ids above the legacy stamp or rewrite legacy
        # stamps with an explicit stream_id (one snapshot append per
        # stamp); the engine does not guess which of the two crash/upgrade
        # scenarios applies.
        stamp_stream = s.summary.get("stream_id")
        if prev is not None and (
            stream_id is None or stamp_stream is None
            or stamp_stream == stream_id
        ):
            if int(prev) >= batch_id:
                return False
            break
        sid = s.parent_id
    summary = {"stream_batch_id": batch_id}
    if stream_id is not None:
        summary["stream_id"] = stream_id
    table.append(batch_df, summary=summary)
    return True


def stream_append_snapshots(
    spark: SparkSession,
    source_path: str,
    source_schema: str,
    table,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Stream a file source into a snapshot-versioned table: each
    micro-batch commits ONE snapshot (``io/snapshots.SnapshotTable``), so
    downstream consumers get the Iceberg-style contract from a live feed —
    readers pin a snapshot id mid-stream and never see a torn batch, and
    ``run_rollup_job_snapshot``'s O(1) unchanged-check works between
    micro-batches. Exactly-once composition: Structured Streaming's
    checkpoint dedupes clean-restart replays, and :func:`snapshot_sink`
    closes the crash window (commit landed, checkpoint didn't) by skipping
    any ``batch_id`` at or below the last streamed snapshot's stamp.

    Returns the StreamingQuery; callers own ``awaitTermination``.
    """
    stream = spark.readStream.schema(source_schema).parquet(source_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # stream_id = the checkpoint path: batch ids are only monotonic
        # within one checkpoint, so the replay guard must be scoped to it.
        snapshot_sink(table, batch_df, batch_id, stream_id=checkpoint_path)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def history_dedup_sink(
    table,
    key_cols=("text",),
    order_col: str = "doc_id",
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    stream_id: str | None = None,
):
    """foreachBatch sink: dedup each micro-batch against ALL history.

    The incremental-ingest pattern a continuously-landing crawl needs
    beyond :func:`dedup_stream`'s watermark horizon: every batch is
    deduplicated against the ENTIRE previously-ingested corpus (held in a
    snapshot-versioned table), and the survivors become history for the
    next batch. The cross-batch membership test is the Bloom prefilter
    from :mod:`tsdat_spark.text.bloom`, kept INCREMENTALLY:

    - bootstrap: one O(history) bloom build from the table's current
      snapshot, once per (re)start;
    - per batch: bloom-negative rows skip the history entirely (no scan,
      no shuffle); only candidates (true dups + false positives) run the
      exact anti-join confirm, so the result is EXACT; the appended rows'
      bits OR into the driver-held bitmap — O(batch), never O(history).

    Within a batch, the keeper is the minimum ``order_col`` row per key
    (deterministic).

    NULL-key caveat (ADVICE r6): the composite key is ``concat_ws`` over
    ``key_cols``, which skips NULLs — a NULL-text row and an
    empty-string-text row key identically and dedupe against each other,
    unlike ``bloom_dedup``'s NULL-never-matches contract. Pre-filter or
    sentinel-encode NULL key columns upstream if that distinction matters
    for your stream. Crash replays reuse :func:`snapshot_sink`'s
    ``stream_batch_id`` ancestry guard — a replayed batch appends nothing;
    re-ORing its bits is harmless because the bloom only prefilters.

    At 100 TB: the confirm join reads the history table per batch — lay
    the table out bucketed/partitioned by key hash so that scan prunes to
    the candidate buckets; and size ``n_bits`` to the corpus horizon
    (false-positive rate, and with it confirm-join traffic, degrades
    gracefully as history outgrows capacity — rebuild at the next
    bootstrap with a bigger table to restore it).

    Returns the sink callable for ``foreachBatch``.
    """
    import numpy as np

    from .text.bloom import bloom_contains, build_bloom

    from pyspark.sql import Window

    state: dict = {"bloom": None, "bc": None}
    keys = list(key_cols)

    def _key(df: DataFrame):
        return F.concat_ws("\x1f", *[F.col(c) for c in keys])

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        has_history = table.current_snapshot_id() is not None
        if state["bloom"] is None:
            if has_history:
                state["bloom"] = np.frombuffer(
                    build_bloom(table.read(spark), _key(table.read(spark)),
                                n_bits=n_bits, n_hashes=n_hashes),
                    dtype=np.uint8,
                ).copy()
            else:
                state["bloom"] = np.zeros(n_bits // 8, dtype=np.uint8)

        w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
        b = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # broadcast lifecycle (round 7, ADVICE r6): re-broadcast only when
        # the bitmap changed since the last batch, and unpersist the
        # superseded broadcast — a long-running stream previously
        # accumulated one n_bits/8-byte broadcast per micro-batch
        if state["bc"] is None:
            state["bc"] = spark.sparkContext.broadcast(state["bloom"].tobytes())
        flagged = bloom_contains(
            b, _key(b), state["bc"], n_hashes=n_hashes
        )
        definite_new = flagged.filter(~F.col("__bloom_hit")).drop("__bloom_hit")
        candidates = flagged.filter(F.col("__bloom_hit")).drop("__bloom_hit")
        if has_history:
            hist_keys = (
                table.read(spark).select(_key(table.read(spark)).alias("__k")).distinct()
            )
            confirmed = candidates.join(
                hist_keys, on=_key(candidates) == F.col("__k"), how="left_anti"
            )
        else:
            confirmed = candidates
        new_rows = definite_new.unionByName(confirmed)
        appended = snapshot_sink(table, new_rows, batch_id,
                                 stream_id=stream_id)
        if appended:
            # Rebuild the increment from the files the commit just wrote —
            # O(batch) read-back — instead of re-executing the dedup plan
            # (probe + anti-join + window) a second time.
            snap = table.snapshot()
            if snap.added_files:
                committed = schema_reader(spark, snap.schema).parquet(*snap.added_files)
                state["bloom"] |= np.frombuffer(
                    build_bloom(committed, _key(committed),
                                n_bits=n_bits, n_hashes=n_hashes),
                    dtype=np.uint8,
                )
                # bitmap changed: retire the old broadcast, next batch
                # re-broadcasts lazily
                state["bc"].unpersist()
                state["bc"] = None

    return sink
