"""Goring & Nikora (2002) phase-space despiking, Wahl (2003) robust variant.

The reference's ``CheckGoringNikora2002`` defers to mhkit's ``GN2002``
(``tsdat/qc/checkers/oceanography/check_goring_nikora_2002.py:9-27``); mhkit
is not in this image, so the method is implemented here FROM THE PUBLISHED
ALGORITHM (Goring & Nikora, "Despiking Acoustic Doppler Velocimeter Data",
J. Hydraulic Eng. 128(1), 2002; Wahl, "Discussion of ...", 2003):

1. demean the block (Wahl: median instead of mean);
2. first/second central differences Δu, Δ²u;
3. scale estimates via the robust 1.483·MAD (Wahl) and the universal
   threshold λ = √(2 ln n);
4. a point is a spike if it falls outside ANY of the three phase-space
   ellipses: (u, Δu) and (Δu, Δ²u) axis-aligned, (u, Δ²u) rotated by
   θ = atan2(Σ u·Δ²u, Σ u²) with semi-axes solved from the paper's
   two-equation system;
5. iterate with spikes removed from the statistics until no new spikes
   (or ``max_iter``), processing in blocks of ``n_points``.

The kernel is pure vectorized numpy; the Spark wrapper runs it per series
inside ``mapInPandas`` (sort + boundary slicing — no per-group Python call).
"""

from __future__ import annotations

import numpy as np


def _central_diff(x: np.ndarray) -> np.ndarray:
    d = np.empty_like(x)
    d[1:-1] = (x[2:] - x[:-2]) / 2.0
    if x.size >= 2:
        d[0] = x[1] - x[0]
        d[-1] = x[-1] - x[-2]
    else:
        d[:] = 0.0
    return d


def _robust_sigma(x: np.ndarray) -> float:
    """Wahl (2003): 1.483 · median absolute deviation."""
    med = np.nanmedian(x)
    return 1.483 * float(np.nanmedian(np.abs(x - med)))


def _gn_block(u: np.ndarray, max_iter: int = 10, confirm: bool = False) -> np.ndarray:
    finite = np.isfinite(u)
    spike = np.zeros(u.size, dtype=bool)
    if finite.sum() < 4:
        return spike
    idx = np.arange(u.size)
    for _ in range(max_iter):
        valid = finite & ~spike
        n = int(valid.sum())
        if n < 4:
            break
        # the paper REPLACES detected spikes before re-deriving: keeping the
        # spike values in the series contaminates its neighbors' differences
        # (and deflates the robust scale), over-flagging clean points
        work = u.copy()
        bad = ~valid
        if bad.any():
            work[bad] = np.interp(idx[bad], idx[valid], u[valid])
        x = work - np.median(work[valid])
        du = _central_diff(x)
        d2u = _central_diff(du)
        lam = np.sqrt(2.0 * np.log(n))
        s_u = _robust_sigma(x[valid]) or np.nanstd(x[valid])
        s_du = _robust_sigma(du[valid]) or np.nanstd(du[valid])
        s_d2u = _robust_sigma(d2u[valid]) or np.nanstd(d2u[valid])
        if not (s_u and s_du and s_d2u):
            break

        def outside(a_vals, b_vals, a_ax, b_ax):
            return (a_vals / a_ax) ** 2 + (b_vals / b_ax) ** 2 > 1.0

        new = np.zeros_like(spike)
        # plane 1: (u, Δu); plane 2: (Δu, Δ²u) — axis-aligned ellipses
        new |= outside(x, du, lam * s_u, lam * s_du)
        new |= outside(du, d2u, lam * s_du, lam * s_d2u)
        # plane 3: (u, Δ²u) — rotated by the principal axis angle
        theta = np.arctan2(float(np.sum(x[valid] * d2u[valid])), float(np.sum(x[valid] ** 2)))
        ct, st = np.cos(theta), np.sin(theta)
        # semi-axes a, b from: (λσ_u)² = a²ct² + b²st² ; (λσ_d2u)² = a²st² + b²ct²
        denom = ct**4 - st**4
        if abs(denom) > 1e-12:
            lu2, ld2 = (lam * s_u) ** 2, (lam * s_d2u) ** 2
            a2 = (lu2 * ct**2 - ld2 * st**2) / denom
            b2 = (ld2 * ct**2 - lu2 * st**2) / denom
            if a2 > 0 and b2 > 0:
                xp = x * ct + d2u * st
                yp = -x * st + d2u * ct
                new |= (xp**2 / a2 + yp**2 / b2) > 1.0
        new &= finite & ~spike
        if not new.any():
            break
        spike |= new

    # OPT-IN confirmation pass (``confirm=True``) — NOT part of Goring-Nikora
    # 2002 / Wahl 2003 / mhkit's GN2002: the Δu planes flag the NEIGHBORS of
    # a spike too (their differences are contaminated by the spike value), so
    # this extension re-evaluates every flagged point against the cleaned
    # series with only ITSELF restored: a real spike still deviates (large u
    # or curvature); a contaminated neighbor normalizes and is dropped. The
    # default (False) is the raw published behavior, mhkit-comparable the day
    # an mhkit-equipped environment exists.
    if confirm and spike.any():
        valid = finite & ~spike
        if valid.sum() >= 4:
            w = u.copy()
            w[~valid] = np.interp(idx[~valid], idx[valid], u[valid])
            med = np.median(w[valid])
            x = u - med  # ORIGINAL values
            lam = np.sqrt(2.0 * np.log(int(valid.sum())))
            s_u = _robust_sigma((w - med)[valid]) or np.nanstd((w - med)[valid])
            # self-curvature with cleaned neighbors: (w[i+1] + w[i-1] - 2u[i]) / 2
            d2s = np.zeros_like(u)
            d2s[1:-1] = (w[2:] + w[:-2] - 2.0 * u[1:-1]) / 2.0
            s_d2 = _robust_sigma(d2s[valid]) or np.nanstd(d2s[valid])
            confirmed = np.abs(x) > lam * s_u
            if s_d2:
                confirmed |= np.abs(d2s) > lam * s_d2
            spike &= confirmed
    return spike


def goring_nikora_mask(
    u: np.ndarray, n_points: int = 5000, max_iter: int = 10, confirm: bool = False
) -> np.ndarray:
    """Spike mask for one series (block-wise, like mhkit's ``npt``).

    ``confirm=False`` (default) is the raw published method; ``confirm=True``
    adds the neighbor-confirmation extension (see ``_gn_block``) that trades
    a little recall risk for far fewer contaminated-neighbor false flags."""
    u = np.asarray(u, dtype=np.float64)
    out = np.zeros(u.size, dtype=bool)
    for s in range(0, u.size, n_points):
        e = min(s + n_points, u.size)
        out[s:e] = _gn_block(u[s:e], max_iter=max_iter, confirm=confirm)
    return out


def check_goring_nikora(
    df,
    var: str,
    series_keys: list[str],
    order_col: str = "ts",
    n_points: int = 5000,
    out_col: str | None = None,
    confirm: bool = False,
    block_parallel: bool = False,
):
    """Spark wrapper: per-series GN2002 spike mask as a boolean column
    ``out_col`` (default ``qc_gn_<var>``), one mapInPandas pass.
    ``confirm`` as in :func:`goring_nikora_mask`.

    ``block_parallel``: the published method is block-wise — every
    ``n_points`` block of a series is despiked INDEPENDENTLY (mhkit ``npt``
    semantics, zero coupling across block boundaries) — so a mega-series
    need not be bound to one task: with ``block_parallel=True`` rows get a
    per-series block index (one window rank) and the kernel repartitions on
    ``(series, block)``, spreading a single huge series across the cluster
    with BIT-IDENTICAL output to the sequential path. Costs one extra
    JVM-side sort/shuffle, so it's opt-in for skewed deployments."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ..grouping import group_slices

    out_col = out_col or f"qc_gn_{var}"
    keys = list(series_keys)
    is_ts = dict(df.dtypes).get(order_col) == "timestamp"
    xexpr = F.unix_micros(F.col(order_col)).cast("double") if is_ts else F.col(order_col).cast("double")
    staged = df.withColumn("__x", xexpr)
    if block_parallel and keys:
        w = W.partitionBy(*keys).orderBy("__x")
        staged = staged.withColumn(
            "__blk", F.floor((F.row_number().over(w) - 1) / n_points)
        )
        part_keys = [*keys, "__blk"]
    else:
        part_keys = keys
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema += f", {out_col} boolean"
    out_cols = [*df.columns, out_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [b for b in batches if not b.empty]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        pdf = pdf.sort_values([*part_keys, "__x"], kind="stable", ignore_index=True)
        pdf, gstarts, gends = group_slices(pdf, part_keys)
        vals = pdf[var].to_numpy(np.float64, na_value=np.nan)
        mask = np.zeros(len(pdf), dtype=bool)
        for s, e in zip(gstarts, gends):
            # block_parallel groups are single ≤ n_points blocks, so the
            # kernel's own block loop degenerates to one pass — same math
            mask[s:e] = goring_nikora_mask(vals[s:e], n_points=n_points, confirm=confirm)
        pdf[out_col] = mask
        yield pdf[out_cols]

    # Explicit partition count ahead of the Python-heavy kernel: repartition
    # by columns alone is AQE-coalescible toward byte targets, which would
    # serialize this CPU-bound stage onto a handful of cores (same hazard —
    # and same fix — as rollup/tiers.py's merge stage).
    if part_keys:
        n_shuffle = int(staged.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        grouped = staged.repartition(n_shuffle, *part_keys)
    else:
        grouped = staged.coalesce(1)
    return grouped.mapInPandas(run, schema)
