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

from .tdigest import batch_digests_from_sorted, batch_merge_blob_lists

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


def _tier(df: DataFrame, series_keys: list[str], tier: str, aggs: list, digest) -> DataFrame:
    """The one tier plan: a native groupBy on (series, bin_start) computing
    ``aggs`` (n_turns, token_len_sum, n_latency and a ``__digest_in``
    column), one mapInPandas finish where ``digest(pdf)`` turns each
    batch's ``__digest_in`` into (blobs, (p50s, p95s)), then ``bin_end``."""
    keys = [*series_keys, "bin_start"]
    schema = f"{_key_schema(df, series_keys)}, bin_start timestamp, {_FINAL_FIELDS}"

    def finish(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            blobs, (p50, p95) = digest(pdf)
            out = pdf[[*keys, "n_turns", "token_len_sum", "n_latency"]].copy()
            out["latency_p50"] = p50
            out["latency_p95"] = p95
            out["latency_tdigest"] = blobs
            yield out

    out = df.groupBy(*keys).agg(*aggs).mapInPandas(finish, schema)
    secs = TIER_SECONDS[tier]
    return out.withColumn("bin_end", F.col("bin_start") + F.expr(f"INTERVAL {secs} SECOND"))


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

    Counts, token sums and each group's sorted latency list are ONE native
    Spark aggregation (map-side partial aggregation in the JVM), and the
    mapInPandas finish builds every group's digest blob + quantiles with
    the batch-vectorized ``tdigest.batch_digests_from_sorted``. Plan: scan →
    hash-aggregate (partial) → exchange on the group keys → hash-aggregate
    (final) → one Python stage over group-grain rows.

    ``sort_array(collect_list)`` delivers each group's non-null latencies
    sorted; groups of more than 4·compression values are compressed from
    all their values at once.

    Scale note: the exchange carries each latency value once (8 B), and the
    whole list of a group sits in one buffer. Coarse tiers over
    mega-series should be produced by ``reaggregate_tier`` from a finer
    tier (the engine's documented cascade), which merges bounded digests.
    """
    series_keys = list(series_keys)
    binned = df.select(
        *series_keys,
        _tier_window(ts_col, tier).alias("bin_start"),
        F.col(token_col).alias("__tok"),
        F.col(latency_col).cast("double").alias("__lat"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_turns"),
        F.coalesce(F.sum("__tok"), F.lit(0)).cast("long").alias("token_len_sum"),
        F.count("__lat").alias("n_latency"),
        F.sort_array(F.collect_list("__lat")).alias("__digest_in"),
    ]

    def digest(pdf: pd.DataFrame):
        arrs = [np.asarray(a, dtype=np.float64) for a in pdf["__digest_in"]]
        return batch_digests_from_sorted(arrs, compression)

    return _tier(binned, series_keys, tier, aggs, digest)


def reaggregate_tier(
    tier_df: DataFrame,
    to_tier: str,
    series_keys: list[str] = ("conv_id", "tool", "role"),
    compression: float = 100.0,
) -> DataFrame:
    """Finer tier → coarser tier by merging (counts add, digests merge).

    Verifiable invariant (tested): re-aggregation equals the direct rollup
    of the raw data up to t-digest sketch error; counts/sums are exact.

    Counts/sums and the finer digests are ONE native Spark aggregation, so
    the Python finish sees coarse-group grain rows and merges each group's
    blob list with ``tdigest.batch_merge_blob_lists``: groups whose total
    value count is within the unit-weight limit ride its vectorized
    sorted-values path, the rest fall back to per-group
    ``fast_merge_bytes`` — byte-identical either way.
    """
    series_keys = list(series_keys)
    df = tier_df.withColumn("bin_start", _tier_window("bin_start", to_tier))
    aggs = [
        F.sum("n_turns").alias("n_turns"),
        F.sum("token_len_sum").alias("token_len_sum"),
        F.sum("n_latency").alias("n_latency"),
        F.collect_list("latency_tdigest").alias("__digest_in"),
    ]

    def digest(pdf: pd.DataFrame):
        return batch_merge_blob_lists(list(pdf["__digest_in"]), pdf["n_latency"].to_numpy(), compression)

    return _tier(df, series_keys, to_tier, aggs, digest)


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
