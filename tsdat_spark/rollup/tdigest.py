"""Mergeable t-digest quantile sketch (pure numpy, vectorized build).

Implements the *merging* t-digest of Dunning & Ertl, "Computing Extremely
Accurate Quantiles Using t-Digests" (arXiv:1902.04023) with the k1 scale
function k(q) = (δ/2π)·asin(2q−1): centroids are size-bounded so that each
spans at most one unit of k, giving ~δ centroids with relative accuracy
concentrated at the tails.

Why this exists: the tier cascade (1m → 1h → 1d) must re-aggregate
latency percentiles WITHOUT re-reading raw turns; exact percentiles are not
mergeable, t-digests are (merge = concat centroids + recompress, associative
up to sketch error). Serialized digests ride along tier rows as a binary
column; merging happens in one Arrow-vectorized mapInPandas finish per tier.

The build is vectorized: sort once, take cumulative weights, map to k-space,
and cut clusters where ⌊k⌋ advances — ``np.add.reduceat`` does all
per-cluster sums. No per-point Python loop (the reference engine's per-bin
loops are exactly what we refuse to reproduce — SURVEY §4.1).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

_MAGIC = b"TD01"
_HEADER = struct.Struct("<4sdddI")


def _pack(compression: float, mn: float, mx: float, means: np.ndarray, weights: np.ndarray) -> bytes:
    """The blob layout: TD01 header, then the means, then the weights."""
    return (
        _HEADER.pack(_MAGIC, compression, mn, mx, means.size)
        + means.astype("<f8").tobytes()
        + weights.astype("<f8").tobytes()
    )


def _parse(blob: bytes):
    """Blob → (means, weights, min, max, compression); the arrays are
    read-only views into ``blob``."""
    magic, comp, mn, mx, n = _HEADER.unpack_from(blob, 0)
    if magic != _MAGIC:
        raise ValueError("not a TD01 t-digest blob")
    off = _HEADER.size
    means = np.frombuffer(blob, dtype="<f8", count=n, offset=off)
    weights = np.frombuffer(blob, dtype="<f8", count=n, offset=off + 8 * n)
    return means, weights, mn, mx, comp


def _empty_blob(compression: float) -> bytes:
    return _pack(compression, np.inf, -np.inf, np.empty(0), np.empty(0))


@dataclass
class TDigest:
    """Decoded view of one digest blob; every method goes through the same
    functions that write and read tier rows."""

    means: np.ndarray  # float64, sorted ascending
    weights: np.ndarray  # float64, > 0
    min_val: float
    max_val: float
    compression: float = 100.0

    @staticmethod
    def empty(compression: float = 100.0) -> "TDigest":
        return TDigest.from_bytes(_empty_blob(compression))

    @staticmethod
    def from_values(values: np.ndarray, compression: float = 100.0) -> "TDigest":
        v = np.asarray(values, dtype=np.float64)
        return TDigest.from_bytes(fast_bytes_from_sorted(np.sort(v[~np.isnan(v)]), compression))

    @staticmethod
    def merge_all(digests: list["TDigest"], compression: float | None = None) -> "TDigest":
        comp = compression or next((d.compression for d in digests if d.weights.size), 100.0)
        return TDigest.from_bytes(fast_merge_bytes([d.to_bytes() for d in digests], comp)[0])

    @property
    def total_weight(self) -> float:
        return float(self.weights.sum())

    def quantile(self, q: float) -> float:
        return _quantiles_from_centroids(self.means, self.weights, self.min_val, self.max_val, (q,))[0]

    def to_bytes(self) -> bytes:
        return _pack(self.compression, self.min_val, self.max_val, self.means, self.weights)

    @staticmethod
    def from_bytes(data: bytes) -> "TDigest":
        means, weights, mn, mx, comp = _parse(data)
        return TDigest(means.copy(), weights.copy(), mn, mx, comp)


# ---------------------------------------------------------------------------
# Hot-path helpers for the tier rollup: at 1m grain the group count is close
# to the row count, so per-group cost is the whole game. These avoid class
# construction; raw sorted values are themselves valid unit-weight centroids,
# so compression only starts above 4·δ values (see ``_compress``).
# ---------------------------------------------------------------------------


def fast_bytes_from_sorted(v: np.ndarray, compression: float = 100.0) -> bytes:
    """Digest blob from an ALREADY nan-free, sorted float64 array."""
    if v.size == 0:
        return _empty_blob(compression)
    means, weights = _compress(v, np.ones_like(v), compression)
    return _pack(compression, float(v[0]), float(v[-1]), means, weights)


def _quantiles_from_centroids(
    means: np.ndarray, weights: np.ndarray, mn: float, mx: float, qs: tuple[float, ...]
) -> list[float]:
    """Standard t-digest quantiles: linear interpolation between centroid
    means at cumulative mid-weights, clamped to the observed min/max."""
    n = means.size
    if n == 0:
        return [float("nan")] * len(qs)
    if n == 1:
        return [float(means[0])] * len(qs)
    W = weights.sum()
    cum = np.cumsum(weights) - weights / 2.0
    out = []
    for q in qs:
        target = q * W
        if target <= cum[0]:
            frac = target / cum[0] if cum[0] > 0 else 0.0
            est = (1.0 - frac) * mn + frac * means[0]
        elif target >= cum[-1]:
            denom = W - cum[-1]
            frac = (target - cum[-1]) / denom if denom > 0 else 0.0
            est = (1.0 - frac) * means[-1] + frac * mx
        else:
            idx = np.searchsorted(cum, target) - 1
            span = cum[idx + 1] - cum[idx]
            frac = (target - cum[idx]) / span if span > 0 else 0.0
            # (1-f)*a + f*b, not a + f*(b-a): the latter cancels the small
            # mean when |a| >> |b| and f~1, escaping [min,max] by ~1 ulp of a.
            est = (1.0 - frac) * means[idx] + frac * means[idx + 1]
        out.append(float(min(max(est, mn), mx)))
    return out


def fast_merge_bytes(
    blobs, compression: float = 100.0, qs: tuple[float, ...] = (0.5, 0.95)
) -> tuple[bytes, list[float]]:
    """Merge digest blobs; returns (merged blob, quantiles). Single-blob
    groups (the common tier case) skip the re-sort entirely."""
    if len(blobs) == 1:
        means, weights, mn, mx, _ = _parse(blobs[0])
        return bytes(blobs[0]), _quantiles_from_centroids(means, weights, mn, mx, qs)
    parsed = [_parse(b) for b in blobs]
    parsed = [p for p in parsed if p[0].size]
    if not parsed:
        return _empty_blob(compression), [float("nan")] * len(qs)
    means = np.concatenate([p[0] for p in parsed])
    weights = np.concatenate([p[1] for p in parsed])
    order = np.argsort(means, kind="mergesort")
    means, weights = _compress(means[order], weights[order], compression)
    mn = min(p[2] for p in parsed)
    mx = max(p[3] for p in parsed)
    return _pack(compression, mn, mx, means, weights), _quantiles_from_centroids(means, weights, mn, mx, qs)


def batch_merge_blob_lists(
    blob_lists,
    n_latency,
    compression: float = 100.0,
    qs: tuple[float, ...] = (0.5, 0.95),
):
    """Merge a BATCH of digest-blob groups (round 7 reaggregate hot path:
    one group per coarse tier row, ~#fine-bins blobs each — per-group
    Python is the whole cost).

    ``n_latency[i]`` must be group i's total latency VALUE count (the
    native aggregate already carries it). The cascade invariant this
    exploits: every blob this module writes is unit-weight exactly while
    its group stayed within ``4·compression`` values, and a group whose
    total centroid count equals its total value count therefore consists
    ONLY of unit-weight children (compression can merge centroids, never
    split, and all weights are sums of ones). For such groups the merged
    digest is definitionally the unit-weight digest of the sorted
    concatenated means, so the whole group collapses into
    :func:`batch_digests_from_sorted`'s vectorized path — no per-group
    argsort/pack/quantile Python. Everything else (compressed children,
    oversized totals, empty groups, count mismatches from foreign blobs)
    falls back to :func:`fast_merge_bytes` unchanged, so the result is
    byte-identical to calling it per group (parity-tested).

    Returns (blobs list[bytes], per-q list of float64 arrays).
    """
    N = len(blob_lists)
    hs = _HEADER.size
    limit = 4 * compression
    comp_bytes = struct.pack("<d", compression)
    blobs_out: list[bytes] = [b""] * N
    out_q = [np.full(N, np.nan) for _ in qs]
    fast_arrs, fast_idx = [], []
    for i in range(N):
        lst = blob_lists[i]
        nl = int(n_latency[i])
        if 0 < nl <= limit:
            tot = 0
            for b in lst:
                tot += len(b)
            tot = (tot - hs * len(lst)) >> 4
            if tot == nl and (
                len(lst) != 1 or lst[0][4:12] == comp_bytes
            ):
                # single-blob groups additionally require the header's
                # compression field to equal ours: fast_merge_bytes
                # returns a lone blob verbatim, so a byte-exact rebuild
                # must not rewrite a foreign compression value
                vals = np.empty(tot)
                pos = 0
                for b in lst:
                    n = (len(b) - hs) >> 4
                    if n:
                        vals[pos : pos + n] = np.frombuffer(
                            b, dtype="<f8", count=n, offset=hs
                        )
                        pos += n
                vals.sort()
                fast_arrs.append(vals)
                fast_idx.append(i)
                continue
        blob, qvals = fast_merge_bytes(lst, compression, qs)
        blobs_out[i] = blob
        for j in range(len(qs)):
            out_q[j][i] = qvals[j]
    if fast_arrs:
        fblobs, fq = batch_digests_from_sorted(fast_arrs, compression, qs)
        for k, i in enumerate(fast_idx):
            blobs_out[i] = fblobs[k]
            for j in range(len(qs)):
                out_q[j][i] = fq[j][k]
    return blobs_out, out_q


def _k(q: np.ndarray, compression: float) -> np.ndarray:
    # k1 scale; the δ/π constant makes the total k-span equal δ (asin spans
    # [-π/2, π/2]), so compression=100 yields ~100 centroids.
    return compression / np.pi * np.arcsin(np.clip(2.0 * q - 1.0, -1.0, 1.0))


def _compress(means: np.ndarray, weights: np.ndarray, compression: float):
    """Cluster sorted (mean, weight) pairs so each cluster spans ≤1 unit of
    the k1 scale — but only above 4·δ pairs; up to that the pairs are
    returned as they are (the one compression rule every blob follows).
    Fully vectorized: cluster ids come from the floor of the k-value at
    each pair's *left* cumulative weight; per-cluster weighted means via
    np.add.reduceat."""
    if means.size <= 4 * compression:
        return means, weights
    W = weights.sum()
    q_left = (np.cumsum(weights) - weights) / W
    k_left = _k(q_left, compression)
    # new cluster whenever floor(k_left) advances
    cluster_change = np.empty(means.size, dtype=bool)
    cluster_change[0] = True
    fk = np.floor(k_left)
    cluster_change[1:] = fk[1:] != fk[:-1]
    starts = np.flatnonzero(cluster_change)
    w_sum = np.add.reduceat(weights, starts)
    m_sum = np.add.reduceat(weights * means, starts)
    return m_sum / w_sum, w_sum


_EMPTY_ONES_CACHE: dict[int, bytes] = {}


def _ones_bytes(n: int) -> bytes:
    b = _EMPTY_ONES_CACHE.get(n)
    if b is None:
        b = np.ones(n, dtype="<f8").tobytes()
        if len(_EMPTY_ONES_CACHE) < 4096:
            _EMPTY_ONES_CACHE[n] = b
    return b


def batch_digests_from_sorted(arrs, compression: float = 100.0,
                              qs: tuple[float, ...] = (0.5, 0.95)):
    """Blobs + quantiles for a BATCH of already-sorted nan-free value
    arrays (round 7 tier hot path: group count ~ row count, so per-group
    Python must be minimal). The unit-weight case (n <= 4*compression —
    every group at fine tier grain) is vectorized across the whole batch:
    one flat concatenation + closed-form index arithmetic replaces a
    per-group ``_quantiles_from_centroids`` call, reproducing its float
    expressions term for term (cum_i = i+0.5 exactly, span = 1.0 exactly,
    ceil(target-0.5) == searchsorted for target >= 0.5). Oversized groups
    fall back to the scalar compress path.

    Returns (blobs list[bytes], per-q list of float64 arrays).
    """
    N = len(arrs)
    lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=N)
    limit = 4 * compression
    out_q = [np.full(N, np.nan) for _ in qs]
    blobs: list[bytes] = [b""] * N
    empty_blob = _empty_blob(compression)

    big = lens > limit
    for i in np.flatnonzero(big):
        v = arrs[i]
        b = fast_bytes_from_sorted(v, compression)
        blobs[i] = b
        m, w, mn, mx, _ = _parse(b)
        for j, q in enumerate(_quantiles_from_centroids(m, w, mn, mx, qs)):
            out_q[j][i] = q

    small = np.flatnonzero(~big)
    for i in small:
        n = lens[i]
        if n == 0:
            blobs[i] = empty_blob
        else:
            v = arrs[i]
            vb = v.tobytes() if v.dtype == np.dtype("<f8") else v.astype("<f8").tobytes()
            blobs[i] = _HEADER.pack(_MAGIC, compression, v[0], v[n - 1], n) + vb + _ones_bytes(n)

    # vectorized unit-weight quantiles over the small groups with n >= 2
    sel = small[lens[small] >= 2]
    if sel.size:
        vs = [arrs[i] for i in sel]
        flat = np.concatenate(vs)
        ln = lens[sel].astype(np.float64)
        off = np.concatenate([[0], np.cumsum(lens[sel])[:-1]])
        first = flat[off]
        last = flat[off + lens[sel] - 1]
        for j, q in enumerate(qs):
            target = q * ln
            # middle branch (0.5 < target < n-0.5): idx = ceil(target-0.5)-1
            idx = np.ceil(target - 0.5).astype(np.int64) - 1
            idx_c = np.clip(idx, 0, lens[sel] - 2)
            frac = target - (idx_c + 0.5)
            est = (1.0 - frac) * flat[off + idx_c] + frac * flat[off + idx_c + 1]
            # low branch: target <= cum[0] = 0.5
            frac_lo = target / 0.5
            est = np.where(target <= 0.5, (1.0 - frac_lo) * first + frac_lo * first, est)
            # high branch: target >= cum[-1] = n-0.5 (denom = 0.5 exactly)
            frac_hi = (target - (ln - 0.5)) / 0.5
            est = np.where(target >= ln - 0.5, (1.0 - frac_hi) * last + frac_hi * last, est)
            out_q[j][sel] = np.minimum(np.maximum(est, first), last)
    ones = small[lens[small] == 1]
    if ones.size:
        v1 = np.fromiter((arrs[i][0] for i in ones), dtype=np.float64, count=ones.size)
        for j in range(len(qs)):
            out_q[j][ones] = v1
    return blobs, out_q
