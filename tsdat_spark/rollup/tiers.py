"""Retention-tier rollups: 1m / 1h / 1d continuous aggregates.

The engine's headline pipeline (BASELINE.json north rule): per
(conv_id, tool, role) series, every tier row carries

    n_turns, token_len_sum, n_latency, latency_p50/p95, latency_tdigest

where the t-digest is a *mergeable* binary sketch, so coarser tiers are
computed by RE-AGGREGATING the finer tier (merge digests, add counts) —
never by re-reading raw turns. This is the continuous-aggregate design of
TimescaleDB/Druid-style rollup stores re-expressed on Spark.

Plan: ``rollup_tier`` builds the finest tier from raw turns with one native
Spark groupBy per (series, bin) — counts, token sums and each group's
sorted latency list, partially aggregated map-side in the JVM — and then
one ``mapInPandas`` finish that turns every latency list into a digest
blob plus p50/p95. Coarser tiers come from ``reaggregate_tier`` over the
finer tier: the same native groupBy adds counts and collects the finer
digests, and one ``mapInPandas`` finish merges each group's blobs.

Plain counts/sums are algebraic, so Spark's hash aggregate combines them
map-side; the Python finish exists for the digest, which Spark has no
built-in mergeable equivalent for (percentile_approx is not re-aggregable
across tiers).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}


_FINAL_FIELDS = (
    "n_turns long, token_len_sum long, n_latency long, "
    "latency_p50 double, latency_p95 double, latency_tdigest binary"
)


def _tier_window(ts_col: str, tier: str):
    secs = TIER_SECONDS[tier]
    return F.timestamp_seconds((F.unix_micros(F.col(ts_col)) / 1_000_000 / secs).cast("long") * secs)


def _key_schema(df: DataFrame, keys: list[str]) -> str:
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return ", ".join(f"{k} {by_name[k]}" for k in keys)


def rollup_tier(
    df: DataFrame,
    tier: str,
    series_keys: list[str] = ("conv_id", "tool", "role"),
    ts_col: str = "ts",
    token_col: str = "token_len",
    latency_col: str = "latency_us",
    salt: int = 0,  # kept for API compat; native partial agg makes it moot
    compression: float = 100.0,
) -> DataFrame:
    """Raw turns → one tier.

    Round-7 shape (guide §2.3 "aggregate before you shuffle" + §4.1):
    counts/sums/sorted-latency-lists are ONE native Spark aggregation
    (map-side partial agg in the JVM — the raw 7M-row Arrow round trip of
    the old pandas phase 1 disappears), and a single mapInPandas finish
    stage builds the digest blob + quantiles per group with the batch-
    vectorized helper (``tdigest.batch_digests_from_sorted``). Plan: scan →
    hash-aggregate (partial) → exchange on the group keys → hash-aggregate
    (final) → one Python stage over group-grain rows. Was: scan → Arrow →
    pandas phase 1 → exchange → Arrow → pandas phase 2.

    Digest parity: ``sort_array(collect_list)`` delivers each group's
    non-null latencies sorted, so unit-weight blobs (every group at fine
    tier grain, n <= 4·compression) are byte-identical to the old
    two-phase merge; oversized groups are now digested from ALL their
    values directly — at least as accurate as merging per-batch partials
    (the bracket invariants pytest asserts are unchanged).

    Scale note: the exchange carries each latency value once (8 B), vs the
    old per-(group, upstream-batch) partial blobs — equivalent at fine
    grain where groups are near-singletons. Coarse tiers over mega-series
    should be produced by ``reaggregate_tier`` from a finer tier (the
    engine's documented cascade), which still merges bounded partials.
    """
    series_keys = list(series_keys)
    secs = TIER_SECONDS[tier]
    binned = df.select(
        *series_keys,
        _tier_window(ts_col, tier).alias("bin_start"),
        F.col(token_col).alias("__tok"),
        F.col(latency_col).cast("double").alias("__lat"),
    )

    keys = [*series_keys, "bin_start"]
    key_schema = _key_schema(binned, series_keys)
    final_schema = f"{key_schema}, bin_start timestamp, {_FINAL_FIELDS}"

    agg = binned.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.coalesce(F.sum("__tok"), F.lit(0)).cast("long").alias("token_len_sum"),
        F.count("__lat").alias("n_latency"),
        F.sort_array(F.collect_list("__lat")).alias("__lats"),
    )

    def finish(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .tdigest import batch_digests_from_sorted

        for pdf in batches:
            if pdf.empty:
                continue
            arrs = [np.asarray(a, dtype=np.float64) for a in pdf["__lats"]]
            blobs, (p50, p95) = batch_digests_from_sorted(arrs, compression)
            out = pdf[[*keys, "n_turns", "token_len_sum", "n_latency"]].copy()
            out["latency_p50"] = p50
            out["latency_p95"] = p95
            out["latency_tdigest"] = blobs
            yield out

    out = agg.mapInPandas(finish, final_schema)
    return out.withColumn("bin_end", F.col("bin_start") + F.expr(f"INTERVAL {secs} SECOND"))


def reaggregate_tier(
    tier_df: DataFrame,
    to_tier: str,
    series_keys: list[str] = ("conv_id", "tool", "role"),
    compression: float = 100.0,
) -> DataFrame:
    """Finer tier → coarser tier by merging (counts add, digests merge).

    Verifiable invariant (tested): re-aggregation equals the direct rollup
    of the raw data up to t-digest sketch error; counts/sums are exact.

    Round-7 shape (guide §2.3): counts/sums and blob collection are ONE
    native Spark aggregation (JVM partial agg, no fine-tier-grain Arrow
    round trip); the Python stage then merges each group's blob list at
    COARSE-group grain — ~input/output-ratio fewer rows cross the Python
    boundary than the old repartition→concat→sort→merge pandas pass.
    """
    series_keys = list(series_keys)
    secs = TIER_SECONDS[to_tier]
    df = tier_df.withColumn("bin_start", _tier_window("bin_start", to_tier))
    keys = [*series_keys, "bin_start"]

    key_schema = _key_schema(df, series_keys)
    final_schema = f"{key_schema}, bin_start timestamp, {_FINAL_FIELDS}"

    agg = df.groupBy(*keys).agg(
        F.sum("n_turns").alias("n_turns"),
        F.sum("token_len_sum").alias("token_len_sum"),
        F.sum("n_latency").alias("n_latency"),
        F.collect_list("latency_tdigest").alias("__blobs"),
    )

    def finish(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .tdigest import batch_merge_blob_lists

        for pdf in batches:
            if pdf.empty:
                continue
            # batch merge (round 7): groups whose total value count is
            # within the unit-weight limit ride the vectorized
            # sorted-values path; the rest fall back to per-group
            # fast_merge_bytes inside the helper — byte-identical either
            # way (see batch_merge_blob_lists)
            blobs, (p50s, p95s) = batch_merge_blob_lists(
                list(pdf["__blobs"]), pdf["n_latency"].to_numpy(), compression
            )
            out = pdf[[*keys, "n_turns", "token_len_sum", "n_latency"]].copy()
            out["latency_p50"] = p50s
            out["latency_p95"] = p95s
            out["latency_tdigest"] = blobs
            yield out

    out = agg.mapInPandas(finish, final_schema)
    return out.withColumn("bin_end", F.col("bin_start") + F.expr(f"INTERVAL {secs} SECOND"))


def tier_summary(
    tier_df: DataFrame,
    by: list[str] = ("tool", "role"),
    conv_col: str = "conv_id",
) -> DataFrame:
    """Cross-conversation summary at (by..., bin_start) grain.

    ``n_distinct_convs`` is EXACT here: the finer tier still carries
    conv_id, so distinct-count happens at this rollup grain rather than by
    (impossible) merging of per-conv distinct counts — the tier-boundary
    semantics SURVEY §7.4 pins down. Spark plans countDistinct as a
    two-phase expand + partial agg (skew-safe).
    """
    return tier_df.groupBy(*by, "bin_start").agg(
        F.sum("n_turns").alias("n_turns"),
        F.countDistinct(F.col(conv_col)).alias("n_distinct_convs"),
        F.sum("token_len_sum").alias("token_len_sum"),
        F.sum("n_latency").alias("n_latency"),
    )
