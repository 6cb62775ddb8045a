"""t-digest sketch: accuracy, mergeability, serialization round-trip."""

import numpy as np
import pytest

from tsdat_spark.rollup.tdigest import TDigest


def test_quantile_accuracy_uniform():
    rng = np.random.RandomState(42)
    v = rng.uniform(0, 1000, 50_000)
    d = TDigest.from_values(v)
    for q in (0.01, 0.25, 0.5, 0.75, 0.95, 0.99):
        exact = np.quantile(v, q)
        assert d.quantile(q) == pytest.approx(exact, abs=1000 * 0.01), q


def test_quantile_accuracy_lognormal():
    rng = np.random.RandomState(7)
    v = rng.lognormal(3, 1.5, 50_000)
    d = TDigest.from_values(v)
    for q in (0.5, 0.95, 0.99):
        exact = np.quantile(v, q)
        assert d.quantile(q) == pytest.approx(exact, rel=0.05), q


def test_merge_equals_whole():
    rng = np.random.RandomState(1)
    v = rng.exponential(100, 30_000)
    parts = np.array_split(v, 17)
    merged = TDigest.merge_all([TDigest.from_values(p) for p in parts])
    whole = TDigest.from_values(v)
    assert merged.total_weight == pytest.approx(len(v))
    for q in (0.5, 0.95):
        assert merged.quantile(q) == pytest.approx(whole.quantile(q), rel=0.02), q
        assert merged.quantile(q) == pytest.approx(np.quantile(v, q), rel=0.05), q


def test_merge_associative_enough():
    """((a+b)+c) vs (a+(b+c)): identical weights, quantiles within sketch error."""
    rng = np.random.RandomState(3)
    a, b, c = (TDigest.from_values(rng.normal(50, 10, 5000)) for _ in range(3))
    left = TDigest.merge_all([TDigest.merge_all([a, b]), c])
    right = TDigest.merge_all([a, TDigest.merge_all([b, c])])
    assert left.total_weight == right.total_weight
    assert left.quantile(0.5) == pytest.approx(right.quantile(0.5), rel=0.01)
    assert left.quantile(0.95) == pytest.approx(right.quantile(0.95), rel=0.01)


def test_compression_bound():
    v = np.random.RandomState(9).uniform(0, 1, 100_000)
    d = TDigest.from_values(v, compression=100)
    assert d.means.size <= 200  # ~δ centroids


def test_serialization_roundtrip():
    d = TDigest.from_values(np.arange(1000.0))
    d2 = TDigest.from_bytes(d.to_bytes())
    assert np.array_equal(d.means, d2.means)
    assert np.array_equal(d.weights, d2.weights)
    assert (d2.min_val, d2.max_val, d2.compression) == (d.min_val, d.max_val, d.compression)
    assert d2.quantile(0.5) == d.quantile(0.5)


def test_empty_and_singleton():
    e = TDigest.empty()
    assert np.isnan(e.quantile(0.5))
    assert e.total_weight == 0
    one = TDigest.from_values(np.array([42.0]))
    assert one.quantile(0.0) == 42.0
    assert one.quantile(0.5) == 42.0
    assert one.quantile(1.0) == 42.0
    # nan-only input behaves like empty
    nans = TDigest.from_values(np.array([np.nan, np.nan]))
    assert nans.total_weight == 0
    # merging empties is harmless
    m = TDigest.merge_all([e, one, nans])
    assert m.quantile(0.5) == 42.0


def test_fast_paths_match_class_semantics():
    """fast_bytes_from_sorted / fast_merge_bytes: format-compatible with
    TDigest.from_bytes, quantiles within order-statistic brackets."""
    from tsdat_spark.rollup.tdigest import fast_bytes_from_sorted, fast_merge_bytes

    rng = np.random.RandomState(5)
    for _ in range(100):
        vals = [np.sort(rng.rand(rng.randint(1, 500)) * 100) for _ in range(rng.randint(1, 6))]
        blobs = [fast_bytes_from_sorted(v) for v in vals]
        blob, (p50, p95) = fast_merge_bytes(blobs)
        allv = np.sort(np.concatenate(vals))
        n = len(allv)
        rt = TDigest.from_bytes(blob)
        assert rt.total_weight == pytest.approx(n)
        for q, got in ((0.5, p50), (0.95, p95)):
            t = q * (n - 1)
            pad = max(1, int(0.02 * n))
            lo = allv[max(0, int(np.floor(t)) - pad)]
            hi = allv[min(n - 1, int(np.ceil(t)) + pad)]
            assert lo - 1e-9 <= got <= hi + 1e-9

    # empty / all-nan groups
    e = fast_bytes_from_sorted(np.array([]))
    blob, (p50, p95) = fast_merge_bytes([e, e])
    assert np.isnan(p50) and np.isnan(p95)
    assert TDigest.from_bytes(blob).total_weight == 0

    # large group gets compressed
    big = fast_bytes_from_sorted(np.sort(rng.rand(100_000)))
    assert TDigest.from_bytes(big).means.size <= 200


def test_batch_merge_blob_lists_parity():
    """batch_merge_blob_lists == per-group fast_merge_bytes, byte-for-byte,
    across unit-weight groups, compressed children, empties, singletons,
    boundary totals, and foreign-compression single blobs (round-7
    reaggregate fast path)."""
    import numpy as np

    from tsdat_spark.rollup.tdigest import (
        batch_merge_blob_lists,
        fast_bytes_from_sorted,
        fast_merge_bytes,
    )

    rng = np.random.default_rng(11)
    COMP = 100.0

    def grp(sizes, comp=COMP):
        return [fast_bytes_from_sorted(np.sort(rng.random(s) * 1e3), comp) for s in sizes]

    groups, nlat = [], []
    for _ in range(300):  # typical coarse groups: many tiny unit children
        sizes = rng.integers(0, 4, size=int(rng.integers(2, 40)))
        groups.append(grp(sizes))
        nlat.append(int(sizes.sum()))
    for _ in range(20):  # oversized totals / compressed children
        sizes = rng.integers(50, 800, size=int(rng.integers(3, 10)))
        groups.append(grp(sizes))
        nlat.append(int(sizes.sum()))
    groups += [
        grp([0]),            # single empty blob
        grp([0, 0, 0]),      # all empty
        grp([1]),            # singleton value
        grp([399, 0]),       # boundary: total 399 + empty child
        grp([200, 200]),     # total == 4*compression exactly
        grp([201, 200]),     # total just over the limit
        grp([5], comp=50.0),  # single blob with FOREIGN compression field
    ]
    nlat += [0, 0, 1, 399, 400, 401, 5]

    old = [fast_merge_bytes(g, COMP) for g in groups]
    blobs, (p50, p95) = batch_merge_blob_lists(groups, np.array(nlat), COMP)
    for i, (ob, (oq50, oq95)) in enumerate(old):
        assert blobs[i] == ob, f"group {i}: blob bytes diverged"
        for a, b in ((oq50, p50[i]), (oq95, p95[i])):
            assert (a == b) or (np.isnan(a) and np.isnan(b)), f"group {i}: quantile {a} != {b}"


@pytest.mark.parametrize("n", [0, 1, 399, 400, 401, 5000])
def test_tdigest_view_is_the_tier_path(n):
    """The TDigest class writes and merges exactly the blobs the tier hot
    paths do (same compression rule, same layout), and rejects non-TD01
    bytes."""
    from tsdat_spark.rollup.tdigest import fast_bytes_from_sorted, fast_merge_bytes

    v = np.random.RandomState(n).lognormal(3, 1, n)
    assert TDigest.from_values(v).to_bytes() == fast_bytes_from_sorted(np.sort(v))
    ds = [TDigest.from_values(p) for p in np.array_split(v, 3)]
    assert TDigest.merge_all(ds).to_bytes() == fast_merge_bytes([d.to_bytes() for d in ds])[0]
    with pytest.raises(ValueError):
        TDigest.from_bytes(b"XXXX" + TDigest.from_values(v).to_bytes()[4:])
