"""From-spec HDF5 subset reader/writer (io/hdf5.py, io/hdf5_write.py) —
NetCDF-4 ingest and the NetCDF-4-style sink.

Golden anchor: /root/reference/test/io/data/input.nc — a REAL
netcdf/HDF5-library-written file (superblock v0 + v2 object headers +
compact links + global-heap VLEN strings + contiguous layout), so decoding
it is interop evidence against the canonical implementation. The writer
round-trips cover the complementary v1 profile (symbol-table groups, v1
object headers, chunked B-tree storage with shuffle+deflate) the fixture
does not contain."""

import datetime as dt
import os

import numpy as np
import pytest

from tsdat_spark.io.hdf5 import Hdf5Boundary, read_hdf5
from tsdat_spark.io.hdf5_write import write_hdf5

REF_NC = "/root/reference/test/io/data/input.nc"
REF_ZARR = os.path.join(os.path.dirname(REF_NC), "input.zarr")
needs_ref = pytest.mark.skipif(
    not (os.path.exists(REF_NC) and os.path.exists(REF_ZARR)),
    reason="reference fixture not present")


def _ref_bytes():
    with open(REF_NC, "rb") as f:
        return f.read()


@needs_ref
def test_reference_fixture_decodes_exactly():
    dims, gattrs, vs = read_hdf5(_ref_bytes())
    assert dims == {"index": 3}
    assert set(vs) == {"index", "First Data Var", "timestamp"}
    assert vs["index"]["array"].tolist() == [0, 1, 2]
    assert vs["First Data Var"]["dims"] == ["index"]
    assert vs["First Data Var"]["array"].tolist() == [71.4, 71.2, 71.1]
    assert vs["timestamp"]["array"].tolist() == [
        "2022-03-24 21:43:00", "2022-03-24 21:44:00", "2022-03-24 21:45:00",
    ]


@needs_ref
def test_reference_fixture_via_netcdf_dispatch():
    """read_netcdf3 transparently dispatches HDF5 magic to the subset
    parser — same tuple shape as the classic path."""
    from tsdat_spark.io.netcdf3 import read_netcdf3

    dims, gattrs, vs = read_netcdf3(_ref_bytes())
    assert dims == {"index": 3}
    assert vs["First Data Var"]["array"].tolist() == [71.4, 71.2, 71.1]


@needs_ref
def test_reference_fixture_spark_scan(spark):
    from tsdat_spark.io.netcdf3 import NetCDF3Reader

    df = NetCDF3Reader(dim="index").read(spark, REF_NC)
    rows = df.orderBy("index").collect()
    assert len(rows) == 3
    assert [round(r["First Data Var"], 1) for r in rows] == [71.4, 71.2, 71.1]
    assert rows[0]["timestamp"] == "2022-03-24 21:43:00"


def _cols(n=1000):
    return {
        "time": np.arange(n, dtype="int64") * 10,
        "temp": np.linspace(0.0, 99.9, n),
        "flag": (np.arange(n, dtype="int32") % 5),
        "site": np.array([f"st{i % 7}" for i in range(n)]),
    }


def test_roundtrip_contiguous_v1_profile():
    cols = _cols()
    blob = write_hdf5(cols, "time", global_attrs={"datastream": "a.b.c1", "n": 3},
                      var_attrs={"temp": {"units": "degC"}})
    dims, gattrs, vs = read_hdf5(blob)
    assert dims == {"time": 1000}
    assert gattrs == {"datastream": "a.b.c1", "n": 3}
    assert vs["temp"]["dims"] == ["time"]
    assert vs["temp"]["attrs"]["units"] == "degC"
    assert np.array_equal(vs["temp"]["array"], cols["temp"])
    assert np.array_equal(vs["flag"]["array"].astype("int32"), cols["flag"])
    assert list(vs["site"]["array"]) == list(cols["site"])


def test_roundtrip_chunked_shuffle_deflate():
    """Chunked B-tree v1 layout + shuffle + deflate + edge-chunk trim."""
    cols = _cols(1000)
    blob = write_hdf5(cols, "time", chunk_rows=128)
    dims, _, vs = read_hdf5(blob)
    assert np.array_equal(vs["temp"]["array"], cols["temp"])
    assert np.array_equal(vs["flag"]["array"].astype("int32"), cols["flag"])
    # compression actually engaged (low-entropy int chunks shrink)
    assert len(blob) < len(write_hdf5(cols, "time"))


def test_roundtrip_many_vars_multiple_snods():
    """>8 links forces multiple SNOD leaf nodes under the group B-tree."""
    n = 64
    cols = {"time": np.arange(n, dtype="int64")}
    for i in range(12):
        cols[f"v{i:02d}"] = np.arange(n, dtype="float64") * (i + 1)
    blob = write_hdf5(cols, "time")
    dims, _, vs = read_hdf5(blob)
    assert len(vs) == 13
    for i in range(12):
        assert np.array_equal(vs[f"v{i:02d}"]["array"], cols[f"v{i:02d}"])
        assert vs[f"v{i:02d}"]["dims"] == ["time"]


def test_roundtrip_cf_time():
    n = 100
    base = np.datetime64("2024-05-01T00:00:00", "us")
    cols = {"time": base + np.arange(n).astype("timedelta64[s]"),
            "v": np.ones(n)}
    blob = write_hdf5(cols, "time")
    _, _, vs = read_hdf5(blob)
    assert " since " in vs["time"]["attrs"]["units"]
    from tsdat_spark.io.cf import decode_cf_time

    back = decode_cf_time(vs["time"]["array"], vs["time"]["attrs"]["units"])
    assert np.datetime64(back[0], "us") == base


def test_writer_spark_partitioned_parts_scan_back(spark, tmp_path):
    from pyspark.sql import functions as F

    from tsdat_spark.io.hdf5_write import NetCDF4DatasetWriter
    from tsdat_spark.io.netcdf3 import NetCDF3Reader

    df = spark.range(5000).select(
        (F.to_timestamp(F.lit("2024-01-01")) + F.make_interval(secs=F.col("id"))).alias("time"),
        (F.col("id") * 0.25).alias("v"),
        F.col("id").alias("i"),
    )
    out = str(tmp_path / "nc4")
    NetCDF4DatasetWriter(attrs={"datastream": "t.v.b1"},
                         var_attrs={"v": {"units": "1"}},
                         chunk_rows=512, partitions=3).write(df, out)
    back = NetCDF3Reader(dim="time").read(spark, out).orderBy("i").collect()
    assert len(back) == 5000
    assert back[0]["time"] == dt.datetime(2024, 1, 1)
    assert back[-1]["v"] == 4999 * 0.25

    # the sink's codec knob reaches the chunk encoder (round-5 bitshuffle)
    out2 = str(tmp_path / "nc4_bs")
    NetCDF4DatasetWriter(chunk_rows=512, partitions=2,
                         codec="bitshuffle_lz4").write(df, out2)
    back2 = NetCDF3Reader(dim="time").read(spark, out2).orderBy("i").collect()
    assert len(back2) == 5000 and back2[-1]["v"] == 4999 * 0.25


def test_dense_links_and_attrs_roundtrip():
    """Dense (fractal-heap + v2-B-tree) link AND attribute storage — the
    'new style' group shape netcdf-c emits past 8 links with non-default
    settings. The writer builds FRHP/FHDB/BTHD/BTLF per spec (lookup3
    checksums and name hashes); the reader walks the name-index B-tree and
    resolves managed heap IDs. Closes the round-4 boundary at the old
    io/hdf5.py:12-15."""
    cols = {"time": np.arange(30, dtype="<f8")}
    for i in range(12):  # past the 8-link compact threshold
        cols[f"var_{i:02d}"] = np.arange(30, dtype="<f8") * (i + 1)
    blob = write_hdf5(
        cols, dim="time",
        global_attrs={"title": "dense fixture", "n_vars": 12},
        var_attrs={"var_05": {"units": "K", "scale": 2.0}},
        dense_links=True, dense_attrs=True,
    )
    dims, gattrs, vs = read_hdf5(blob)
    assert dims == {"time": 30}
    assert gattrs == {"title": "dense fixture", "n_vars": 12}
    assert sorted(vs) == ["time"] + [f"var_{i:02d}" for i in range(12)]
    for i in range(12):
        assert np.array_equal(vs[f"var_{i:02d}"]["array"],
                              np.arange(30) * float(i + 1))
        assert vs[f"var_{i:02d}"]["dims"] == ["time"]
    assert vs["var_05"]["attrs"] == {"units": "K", "scale": 2.0}

    # dense links with compact root attrs (the independent switch)
    _, g2, v2 = read_hdf5(write_hdf5(cols, dim="time",
                                     global_attrs={"t": "x"},
                                     dense_links=True))
    assert g2 == {"t": "x"} and len(v2) == 13


def test_dense_links_chunked_storage_roundtrip():
    """Dense group whose members use chunked shuffle+deflate storage —
    dense traversal composes with the filtered read path."""
    n = 1000
    cols = {"time": np.arange(n, dtype="<i8"),
            "a": np.sin(np.arange(n) * 0.1),
            "b": np.arange(n, dtype="<i8") * 3}
    blob = write_hdf5(cols, dim="time", chunk_rows=256, dense_links=True)
    _, _, vs = read_hdf5(blob)
    assert np.allclose(vs["a"]["array"], np.sin(np.arange(n) * 0.1))
    assert np.array_equal(vs["b"]["array"], np.arange(n) * 3)


def test_lookup3_reference_vectors():
    """Jenkins lookup3 (HDF5's checksum + dense name hash) against the
    published self-test vectors from lookup3.c."""
    from tsdat_spark.io.hdf5_write import _lookup3

    assert _lookup3(b"", 0) == 0xDEADBEEF
    assert _lookup3(b"Four score and seven years ago", 0) == 0x17770551
    assert _lookup3(b"Four score and seven years ago", 1) == 0xCD628161


def test_boundaries_raise_named():
    with pytest.raises(ValueError, match="not an HDF5 file"):
        read_hdf5(b"\x00" * 64)
    bad_sb = b"\x89HDF\r\n\x1a\x0a" + bytes([7]) + b"\x00" * 80
    with pytest.raises(Hdf5Boundary, match="superblock version"):
        read_hdf5(bad_sb)
    with pytest.raises(ValueError, match="chunks exceeds"):
        write_hdf5({"time": np.arange(100000, dtype="int64"),
                    "v": np.zeros(100000)}, "time", chunk_rows=100)


@needs_ref
def test_reference_fixtures_via_generic_reader_dispatch(spark):
    """The regex reader dispatch (io/readers.py DEFAULT_READERS) ingests
    both reference fixtures end-to-end: .nc (NetCDF-4/HDF5, with the
    majority-dim fallback since its coordinate is 'index', not 'time')
    and .zarr (blosc/lz4)."""
    from tsdat_spark.io.readers import DEFAULT_READERS, read_input

    nc = read_input(spark, REF_NC, DEFAULT_READERS)
    assert nc.count() == 3
    assert sorted(nc.columns) == ["First Data Var", "index", "timestamp"]
    zr = read_input(spark, REF_ZARR, DEFAULT_READERS)
    assert zr.count() == 3


from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    n=st.integers(min_value=1, max_value=400),
    n_float=st.integers(min_value=0, max_value=3),
    n_int=st.integers(min_value=0, max_value=3),
    n_str=st.integers(min_value=0, max_value=2),
    chunked=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_hdf5_roundtrip_property(n, n_float, n_int, n_str, chunked, seed):
    """Any mix of float/int/string columns at any length round-trips
    byte-exactly through write_hdf5 -> read_hdf5, chunked or contiguous."""
    rng = np.random.RandomState(seed)
    cols = {"time": np.arange(n, dtype="int64")}
    for i in range(n_float):
        cols[f"f{i}"] = rng.standard_normal(n)
    for i in range(n_int):
        cols[f"i{i}"] = rng.randint(-1000, 1000, n).astype("int64")
    for i in range(n_str):
        cols[f"s{i}"] = np.array(
            ["".join(chr(97 + c) for c in rng.randint(0, 26, rng.randint(0, 9)))
             for _ in range(n)], dtype=object)
    blob = write_hdf5(cols, "time", chunk_rows=64 if chunked else None)
    dims, _, vs = read_hdf5(blob)
    assert dims == {"time": n}
    for name, a in cols.items():
        got = vs[name]["array"]
        if a.dtype == object:
            assert list(got) == list(a)
        else:
            assert np.array_equal(got.astype(a.dtype), a), name


def test_dense_links_multilevel_btree_roundtrip():
    """Round 5's last read boundary — v2 B-tree depth >= 2 — is gone:
    a dense group whose link-name index is a genuine depth-2 tree
    (small node_size forces real BTIN levels) reads back exactly.
    Reference shape: tsdat reads such groups through netcdf4/HDF5; here
    both sides are from-spec (hdf5_write._btree_v2_blob multi-level +
    hdf5._btree_v2_records any-depth walk)."""
    import struct as _struct

    n_vars = 50
    cols = {"time": np.arange(120).astype("datetime64[us]")}
    for i in range(n_vars):
        cols[f"var_{i:03d}"] = (np.arange(120) * (i + 1)).astype("<f8")
    blob = write_hdf5(cols, dim="time", dense_links=True, btree_node_size=88)
    at = blob.find(b"BTHD")
    assert _struct.unpack_from("<H", blob, at + 12)[0] >= 2  # real depth
    dims, _gattrs, vs = read_hdf5(blob)
    assert dims == {"time": 120}
    for i in range(n_vars):
        name = f"var_{i:03d}"
        assert np.array_equal(vs[name]["array"], cols[name]), name


def test_btree_v2_every_depth_walks_in_order():
    """The generalized walk yields hash-ordered records at depths 0-4
    (capacity formulas per HDF5 spec III.A.2 / H5B2 header init)."""
    import struct as _struct

    from tsdat_spark.io.hdf5 import _btree_v2_records
    from tsdat_spark.io.hdf5_write import _btree_v2_blob

    for node_size, n, want_depth in [(512, 3, 0), (88, 10, 1), (88, 40, 2),
                                     (88, 200, 3), (88, 1500, 4)]:
        recs = [_struct.pack("<I", i) + bytes([i % 251]) * 7
                for i in range(n)]
        hdr, nodes = _btree_v2_blob(recs, 11, 5, 4096, node_size)
        data = b"\x00" * 4096 + hdr + nodes
        assert _struct.unpack_from("<H", hdr, 12)[0] == want_depth
        assert list(_btree_v2_records(data, 4096)) == recs


def test_fractal_heap_indirect_children_roundtrip():
    """Round-5 boundary removed: a dense group whose link heap uses the
    real doubling table — root indirect block with INDIRECT child blocks
    past row 2 (spec III.E/F; H5HF doubling-table construction) — reads
    back exactly. heap_block_size=64 forces ~35 direct blocks behind 5
    child indirect blocks for 120 links."""
    n = 120
    cols = {"time": np.arange(50).astype("datetime64[us]")}
    for i in range(n):
        cols[f"v{i:03d}"] = (np.arange(50) * (i + 1)).astype("<f8")
    blob = write_hdf5(cols, dim="time", dense_links=True, heap_block_size=64)
    assert blob.count(b"FHIB") >= 2  # root + at least one indirect child
    _dims, _g, vs = read_hdf5(blob)
    assert len(vs) == n + 1
    for i in range(n):
        assert np.array_equal(vs[f"v{i:03d}"]["array"], cols[f"v{i:03d}"])


def test_fractal_heap_huge_objects_via_type1_btree():
    """HUGE heap objects (ID type 1): a link message above the huge
    threshold lands at a raw file address indexed by the heap's type-1
    v2 B-tree (addr + length + id records); the reader resolves it through
    the B-tree. Mixed with ordinary managed links in the same heap."""
    long_name = "verylong_" + "x" * 200
    cols = {"time": np.arange(10).astype("datetime64[us]"),
            long_name: np.arange(10).astype("<f8"),
            "short": np.arange(10).astype("<f8")}
    blob = write_hdf5(cols, dim="time", dense_links=True,
                      heap_huge_threshold=100)
    _dims, _g, vs = read_hdf5(blob)
    assert np.array_equal(vs[long_name]["array"], cols[long_name])
    assert np.array_equal(vs["short"]["array"], cols["short"])


def test_fractal_heap_tiny_ids_resolve_from_the_id():
    """TINY heap objects (ID type 2, normal sub-type): the object bytes
    live inside the heap ID itself — no block lookup."""
    from tsdat_spark.io.hdf5 import _fractal_heap_resolver
    from tsdat_spark.io.hdf5_write import _fractal_heap_blob

    frhp, body, _hids = _fractal_heap_blob([b"abc"], 0, 7)
    resolve, _hid_len = _fractal_heap_resolver(frhp + body, 0)
    tiny_id = bytes([0x20 | (5 - 1)]) + b"hello" + b"\x00"
    buf, off, ln = resolve(tiny_id)
    assert buf[off : off + ln] == b"hello"
