"""Measured single-node reference baseline for the tier rollup.

The reference (tsdat) publishes no benchmark numbers (BASELINE.md), so the
"matches-or-beats the reference's single-node throughput at the same data
scale" claim needs a measured stand-in. This script times TWO single-process
implementations of the same 1m/1h/1d rollup (counts, token sums, latency
count, discrete p50/p95 per (conv_id, role, bin)) on the same deterministic
synthetic transcript table the engine benches use:

1. ``reference-style``: pandas groupby + per-group numpy quantile — the
   granularity of tsdat's transform core, which loops output bins in Python
   (``tsdat/transform_v2/bin_average/calculate_bin_average.py:75-109``).
   This is the faithful analog of what the reference would do, NOT a
   strawman: each group's math is numpy, only the loop is Python.
2. ``vectorized``: the strongest single-node formulation we know — global
   sort + ``np.add.reduceat`` boundary slicing, one pass per grain (the
   same kernel shape as the engine's phase-1, minus Spark).

Each grain recomputes from raw (a single-node reference has no mergeable
tier state). Output: one JSON line with seconds + rolled-up points/s per
variant, comparable to ``scaling_bench.py`` / ``bench.py`` numbers.

Usage: python scripts/singlenode_baseline.py [n_turns] (default 2_400_000)
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GRAIN_US = {"1m": 60_000_000, "1h": 3_600_000_000, "1d": 86_400_000_000}


def make_input(n_turns: int) -> pd.DataFrame:
    """Generate the synthetic transcript table via the engine's deterministic
    generator (one Spark pass), then hand it to pandas — generation is NOT
    timed; both baselines below are pure single-process."""
    from tsdat_spark.session import get_spark
    from tsdat_spark.standardize import with_token_len, with_turn_latency
    from tsdat_spark.synth import SynthSpec, generate_transcripts

    spark = get_spark(app_name="singlenode_gen", cores=16, shuffle_partitions=16)
    n_convs = max(n_turns // 4000, 8)
    spec = SynthSpec(n_convs=n_convs, base_turns=4000, n_mega=max(n_convs // 100, 1),
                     mega_turns=40_000, partitions=32)
    df = with_turn_latency(with_token_len(generate_transcripts(spark, spec)))
    pdf = df.select("conv_id", "role", "ts", "token_len", "latency_us").toPandas()
    spark.stop()
    return pdf


def prep(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pd.DataFrame({
        "conv_id": pdf["conv_id"].astype("category"),
        "role": pdf["role"].astype("category"),
        "ts_us": pdf["ts"].astype("datetime64[us]").astype("int64"),
        "token_len": pdf["token_len"].fillna(0).astype("int64"),
        "latency_us": pdf["latency_us"].astype("float64"),
    })
    return out


def rollup_reference_style(t: pd.DataFrame, grain_us: int) -> int:
    """Per-group Python loop with numpy math per group (tsdat granularity)."""
    b = t.assign(bin_us=(t["ts_us"] // grain_us) * grain_us)
    n_groups = 0
    for _, g in b.groupby(["conv_id", "role", "bin_us"], observed=True, sort=False):
        lat = g["latency_us"].to_numpy()
        lat = lat[~np.isnan(lat)]
        _ = len(g)
        _ = g["token_len"].to_numpy().sum()
        if lat.size:
            lat = np.sort(lat)
            _ = lat[int((lat.size - 1) * 0.5)]
            _ = lat[int((lat.size - 1) * 0.95)]
        n_groups += 1
    return n_groups


def rollup_vectorized(t: pd.DataFrame, grain_us: int) -> int:
    """Sort + reduceat: the best single-node shape (engine phase-1 kernel)."""
    conv = t["conv_id"].cat.codes.to_numpy().astype("int64")
    role = t["role"].cat.codes.to_numpy().astype("int64")
    bins = (t["ts_us"].to_numpy() // grain_us)
    key = (conv * 8 + role) * (bins.max() + 1) + bins
    lat = t["latency_us"].to_numpy()
    tok = t["token_len"].to_numpy()

    order = np.lexsort((lat, key))  # group-major, latency-minor: quantiles by slicing
    k, la, to = key[order], lat[order], tok[order]
    starts = np.flatnonzero(np.concatenate([[True], k[1:] != k[:-1]]))
    ends = np.concatenate([starts[1:], [len(k)]])
    n_per = ends - starts
    _ = np.add.reduceat(to, starts)
    nn = (~np.isnan(la)).astype("int64")
    n_lat = np.add.reduceat(nn, starts)
    # NaNs sort last within each group, so the q-th non-null element is at
    # start + floor((n_lat-1)*q) — fully vectorized discrete quantiles.
    has = n_lat > 0
    p50_idx = starts + np.floor((np.maximum(n_lat, 1) - 1) * 0.5).astype("int64")
    p95_idx = starts + np.floor((np.maximum(n_lat, 1) - 1) * 0.95).astype("int64")
    _ = np.where(has, la[np.minimum(p50_idx, len(la) - 1)], np.nan)
    _ = np.where(has, la[np.minimum(p95_idx, len(la) - 1)], np.nan)
    return len(starts)


def rollup_engine_kernel(pdf: pd.DataFrame, outdir: str) -> dict:
    """IDENTICAL-WORK single-node cascade: same columns, same t-digest
    kernel, same tier dataflow as the engine's pinned legs
    (``scaling_bench.WORKER``) — 1m from raw incl. per-group digest blobs
    written to parquet, 1h re-aggregated from the written 1m tier (digest
    MERGE, not recompute) and written, 1d re-aggregated from 1h (computed,
    not written, exactly like the leg's ``.count()``). The vectorized /
    reference_style variants above measure a LIGHTER job (no digests, no
    persistence); this one is the apples-to-apples single-node ceiling the
    "matches-or-beats single-node throughput" claim compares against.
    Reuses the engine's own kernels (``group_slices``,
    ``fast_bytes_from_sorted``, ``fast_merge_bytes``) single-threaded."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tsdat_spark.rollup.tdigest import fast_bytes_from_sorted, fast_merge_bytes
    from tsdat_spark.grouping import group_slices

    os.makedirs(outdir, exist_ok=True)
    keys = ["conv_id", "role", "bin_us"]
    timings: dict[str, float] = {}
    points = 0

    # --- 1m from raw ------------------------------------------------------
    t0 = time.time()
    t = pdf[["conv_id", "role", "ts_us", "token_len", "latency_us"]].copy()
    t["bin_us"] = (t["ts_us"] // GRAIN_US["1m"]) * GRAIN_US["1m"]
    t, starts, ends = group_slices(t, keys)
    tok = t["token_len"].to_numpy(np.float64, na_value=np.nan)
    lat = t["latency_us"].to_numpy(np.float64, na_value=np.nan)
    lat_ok = ~np.isnan(lat)
    out = t.iloc[starts][keys].reset_index(drop=True)
    out["n_turns"] = (ends - starts).astype("int64")
    out["token_len_sum"] = np.add.reduceat(np.nan_to_num(tok), starts).astype("int64")
    out["n_latency"] = np.add.reduceat(lat_ok.astype(np.int64), starts)
    out["latency_tdigest"] = [
        fast_bytes_from_sorted(np.sort(lat[s:e][lat_ok[s:e]]), 100.0)
        for s, e in zip(starts, ends)
    ]
    pq.write_table(pa.Table.from_pandas(out, preserve_index=False), f"{outdir}/t1m.parquet")
    timings["1m"] = time.time() - t0
    points += len(out)

    # --- coarser tiers by digest merge from the WRITTEN finer tier --------
    prev_path = f"{outdir}/t1m.parquet"
    for grain, write in (("1h", True), ("1d", False)):
        t0 = time.time()
        fine = pq.read_table(prev_path).to_pandas()
        fine["bin_us"] = (fine["bin_us"] // GRAIN_US[grain]) * GRAIN_US[grain]
        fine, starts, ends = group_slices(fine, keys)
        out = fine.iloc[starts][keys].reset_index(drop=True)
        for c in ("n_turns", "token_len_sum", "n_latency"):
            out[c] = np.add.reduceat(fine[c].to_numpy(np.float64), starts).astype("int64")
        blobs = fine["latency_tdigest"].tolist()
        out["latency_tdigest"] = [
            fast_merge_bytes(blobs[s:e], 100.0)[0] for s, e in zip(starts, ends)
        ]
        if write:
            prev_path = f"{outdir}/t{grain}.parquet"
            pq.write_table(pa.Table.from_pandas(out, preserve_index=False), prev_path)
        timings[grain] = time.time() - t0
        points += len(out)

    total = sum(timings.values())
    return {"sec": round(total, 2), "rolled_points": points,
            "points_per_sec": round(points / total, 1),
            "per_grain_sec": {k: round(v, 2) for k, v in timings.items()}}


def main() -> None:
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 2_400_000
    pdf = prep(make_input(n_turns))
    print(f"input: {len(pdf)} turns", flush=True)

    import tempfile

    results: dict[str, dict] = {}
    with tempfile.TemporaryDirectory(prefix="singlenode_tiers_") as td:
        results["engine_kernel_samejob"] = rollup_engine_kernel(pdf, td)
    print("engine_kernel_samejob:", json.dumps(results["engine_kernel_samejob"]), flush=True)
    for name, fn in (("vectorized", rollup_vectorized), ("reference_style", rollup_reference_style)):
        total_s, total_pts = 0.0, 0
        per = {}
        for grain, gus in GRAIN_US.items():
            t0 = time.time()
            pts = fn(pdf, gus)
            dt = time.time() - t0
            per[grain] = round(dt, 2)
            total_s += dt
            total_pts += pts
            print(f"{name} {grain}: {dt:.2f}s {pts} points", flush=True)
        results[name] = {
            "sec": round(total_s, 2),
            "rolled_points": total_pts,
            "points_per_sec": round(total_pts / total_s, 1),
            "per_grain_sec": per,
        }

    print(json.dumps({"n_turns": len(pdf), "single_node": results}))


if __name__ == "__main__":
    main()
