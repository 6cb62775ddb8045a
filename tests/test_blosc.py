"""From-spec LZ4-block + blosc1 container codecs (compress/lz4block.py,
compress/bloscc.py) — the codecs that let the zarr reader ingest
blosc-compressed stores (the zarr-python default) without c-blosc.

Golden anchor: the reference's own test fixture
/root/reference/test/io/data/input.zarr (compressor blosc/lz4, shuffle=1)
— written by the real c-blosc via xarray.to_zarr, so decoding it correctly
is interop evidence against the canonical implementation, covering the
memcpyed path (index, First Data Var) and the compressed lz4+shuffle path
(timestamp, typesize 76)."""

import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tsdat_spark.compress.bloscc import blosc_compress, blosc_decompress
from tsdat_spark.compress.lz4block import lz4_compress, lz4_decompress

REF_ZARR = "/root/reference/test/io/data/input.zarr"
needs_ref_zarr = pytest.mark.skipif(not os.path.exists(REF_ZARR),
                                    reason="reference fixture not present")


@given(st.binary(min_size=0, max_size=5000))
@settings(max_examples=200, deadline=None)
def test_lz4_roundtrip_random(data):
    assert lz4_decompress(lz4_compress(data), len(data)) == data


@given(st.binary(min_size=1, max_size=64), st.integers(min_value=1, max_value=200))
@settings(max_examples=100, deadline=None)
def test_lz4_roundtrip_repetitive(pattern, reps):
    """Repetitive data exercises real matches incl. overlapping copies."""
    data = pattern * reps
    comp = lz4_compress(data)
    assert lz4_decompress(comp, len(data)) == data
    if len(data) > 1000:
        assert len(comp) < len(data)  # matches actually fire


def test_lz4_known_vector():
    """Hand-decoded vector: token 0x54 = 5 literals + match_len 8 (4+4),
    offset 5 — 'abcde' then copy 8 bytes from 5 back = 'abcdeabc'; final
    literal-only sequence '!'."""
    src = bytes([0x54]) + b"abcde" + bytes([0x05, 0x00]) + bytes([0x10]) + b"!"
    assert lz4_decompress(src, 14) == b"abcdeabcdeabc!"


def test_lz4_wrong_dest_size_raises():
    """blosc and bitshuffle frames carry each block's decoded size; a
    block that decodes to any other length is corrupt and must raise."""
    data = b"abc" * 1016 + b"xy"
    comp = lz4_compress(data)
    assert lz4_decompress(comp, len(data)) == data
    for n in (len(data) - 1, len(data) + 1):
        with pytest.raises(ValueError, match="LZ4 block decoded"):
            lz4_decompress(comp, n)


@pytest.mark.parametrize("typesize,n", [(8, 64), (8, 2048), (4, 1000), (1, 300), (76, 12)])
def test_blosc_roundtrip_auto(typesize, n):
    """auto mode picks memcpy / single-stream / split per the c-blosc
    rules; every path must round-trip. n=2048×8 crosses the split
    threshold (blocksize/typesize ≥ 128 with typesize ≤ 16)."""
    rng = np.random.RandomState(7)
    # low-entropy payload so lz4 can actually win
    data = (rng.randint(0, 4, n * typesize).astype(np.uint8) // 3 * 17).tobytes()
    out = blosc_decompress(blosc_compress(data, typesize))
    assert out == data


def test_blosc_multiblock_leftover_tail_decodes():
    """c-blosc never splits the leftover (partial tail) block even when
    the tail alone passes the split-size rule, and it evaluates the split
    rule on the HEADER blocksize. Build a 3.5-block chunk by hand the way
    blosc_d expects it (tail = 1024 B = 128 items ≥ MIN_BUFFERSIZE, so a
    naive per-block rule would wrongly split it) and decode."""
    import struct

    from tsdat_spark.compress.bloscc import (
        FLAG_SHUFFLE, _CODEC_LZ4, _is_split, _shuffle,
    )

    typesize, blocksize = 8, 2048
    rng = np.random.RandomState(3)
    data = (rng.randint(0, 3, 3 * blocksize + 1024).astype(np.uint8) * 19).tobytes()
    nbytes = len(data)
    n_blocks = -(-nbytes // blocksize)
    assert _is_split(_CODEC_LZ4, typesize, blocksize)
    blocks = []
    for j in range(n_blocks):
        part = data[j * blocksize : (j + 1) * blocksize]
        leftover = len(part) < blocksize
        shuf = _shuffle(part, typesize)
        nsplits = 1 if leftover else typesize
        neblock = len(part) // nsplits
        streams = b""
        for k in range(nsplits):
            seg = shuf[k * neblock : (k + 1) * neblock]
            comp = lz4_compress(seg)
            if len(comp) >= len(seg):
                streams += struct.pack("<i", len(seg)) + seg
            else:
                streams += struct.pack("<i", len(comp)) + comp
        blocks.append(streams)
    body_off = 16 + 4 * n_blocks
    offsets, pos = [], body_off
    for b in blocks:
        offsets.append(pos)
        pos += len(b)
    chunk = (
        struct.pack(
            "<BBBBIII", 2, 1, (_CODEC_LZ4 << 5) | FLAG_SHUFFLE,
            typesize, nbytes, blocksize, pos,
        )
        + struct.pack(f"<{n_blocks}I", *offsets)
        + b"".join(blocks)
    )
    assert blosc_decompress(chunk) == data


def test_blosc_compress_unaligned_split_falls_back():
    """nbytes not a multiple of typesize must not drop trailing bytes in
    split mode — the encoder falls back to one stream."""
    data = bytes(range(256)) * 40 + b"xyz"  # 10243 B, typesize 8 → unaligned
    assert len(data) % 8 != 0
    assert blosc_decompress(blosc_compress(data, 8)) == data


def test_blosc_raw_mode_and_incompressible():
    rng = np.random.RandomState(11)
    data = rng.bytes(4096)
    raw = blosc_compress(data, 8, store_mode="raw")
    assert blosc_decompress(raw) == data
    assert len(raw) == len(data) + 16
    # incompressible auto falls back to a valid container too
    assert blosc_decompress(blosc_compress(data, 8)) == data


def test_blosc_bitshuffle_chunk_decodes():
    """Round-4's named bit-shuffle boundary is now a real codec (see
    tests/test_bitshuffle.py for the layout pins); a minimal one-block
    bitshuffled chunk decodes here through the container path."""
    import struct

    data = bytes(range(64)) * 8  # 64 elements of typesize 8
    from tsdat_spark.compress.bitshuffle import blosc_bitshuffle

    shuf = blosc_bitshuffle(data, 8)
    hdr = struct.pack(
        "<BBBBIII", 2, 1, 0x4 | (1 << 5), 8, len(data), len(data), 16 + 4 + 4 + len(data)
    )
    body = struct.pack("<I", 20) + struct.pack("<i", len(data)) + shuf  # stored raw
    assert blosc_decompress(hdr + body) == data


@needs_ref_zarr
def test_reference_fixture_chunks_decode_exactly():
    """Byte-level golden vs real c-blosc output (see module docstring)."""
    from tsdat_spark.io.zarr2 import read_zarr_array

    idx = read_zarr_array(f"{REF_ZARR}/index")
    assert idx.tolist() == [0, 1, 2]
    vals = read_zarr_array(f"{REF_ZARR}/First Data Var")
    assert vals.tolist() == [71.4, 71.2, 71.1]
    ts = read_zarr_array(f"{REF_ZARR}/timestamp")
    assert ts.tolist() == [
        "2022-03-24 21:43:00",
        "2022-03-24 21:44:00",
        "2022-03-24 21:45:00",
    ]


@needs_ref_zarr
def test_reference_fixture_spark_scan(spark):
    """The distributed ZarrReader ingests the real blosc store."""
    from tsdat_spark.io.zarr2 import ZarrReader

    df = ZarrReader(dim="index").read(spark, REF_ZARR)
    rows = df.orderBy("index").collect()
    assert len(rows) == 3
    assert [round(r["First Data Var"], 1) for r in rows] == [71.4, 71.2, 71.1]


def test_zarr_writer_blosc_roundtrip(spark, tmp_path):
    """Engine zarr sink with the blosc compressor: written chunks decode
    through the same from-spec codec and survive a Spark scan."""
    from pyspark.sql import functions as F

    from tsdat_spark.io.zarr2 import ZarrReader, ZarrDatasetWriter

    df = spark.range(3000).select(
        F.col("id").alias("i"), (F.col("id") % 17 * 0.25).alias("v")
    )
    path = str(tmp_path / "b.zarr")
    ZarrDatasetWriter(
        chunk_rows=1024, order_by=["i"],
        compressor={"id": "blosc", "cname": "lz4", "shuffle": 1, "clevel": 5},
    ).write(df, path)
    back = ZarrReader(dim="i").read(spark, path).orderBy("i").collect()
    assert len(back) == 3000
    assert back[16]["v"] == 16 % 17 * 0.25
    assert back[2999]["v"] == 2999 % 17 * 0.25


def _write_v3_store(root, n=700, cw=256):
    """Hand-built zarr v3 store straight from the spec — group zarr.json +
    arrays with three codec chains (bytes-only, bytes+gzip, bytes+blosc)
    and one wholly-missing chunk (fill_value path)."""
    import gzip as _gzip
    import json
    import os

    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "zarr.json"), "w") as f:
        json.dump({"zarr_format": 3, "node_type": "group", "attributes": {}}, f)

    def arr_meta(dtype, codecs):
        return {
            "zarr_format": 3, "node_type": "array", "shape": [n],
            "data_type": dtype,
            "chunk_grid": {"name": "regular",
                           "configuration": {"chunk_shape": [cw]}},
            "chunk_key_encoding": {"name": "default",
                                   "configuration": {"separator": "/"}},
            "fill_value": -1 if dtype.startswith("int") else 0.0,
            "codecs": codecs, "attributes": {"units": "1"},
        }

    bytes_codec = {"name": "bytes", "configuration": {"endian": "little"}}
    specs = {
        "plain": ("int64", [bytes_codec],
                  np.arange(n, dtype="<i8")),
        "gz": ("float64", [bytes_codec, {"name": "gzip",
                                         "configuration": {"level": 5}}],
               np.linspace(0, 1, n)),
        "bl": ("float64", [bytes_codec, {"name": "blosc",
                                         "configuration": {"cname": "lz4",
                                                           "shuffle": "shuffle",
                                                           "typesize": 8}}],
               np.sin(np.arange(n) * 0.01)),
        "crc": ("int64", [bytes_codec,
                          {"name": "gzip", "configuration": {"level": 1}},
                          {"name": "crc32c", "configuration": {}}],
                np.arange(n, dtype="<i8") * 3),
    }
    for name, (dtype, codecs, data) in specs.items():
        adir = os.path.join(root, name)
        os.makedirs(os.path.join(adir, "c"), exist_ok=True)
        with open(os.path.join(adir, "zarr.json"), "w") as f:
            json.dump(arr_meta(dtype, codecs), f)
        for ci in range(-(-n // cw)):
            part = data[ci * cw:(ci + 1) * cw]
            if len(part) < cw:
                part = np.concatenate([part, np.zeros(cw - len(part), data.dtype)])
            raw = part.astype(data.dtype.newbyteorder("<")).tobytes()
            for c in codecs:
                if c["name"] == "gzip":
                    raw = _gzip.compress(raw, c["configuration"]["level"])
                elif c["name"] == "blosc":
                    raw = blosc_compress(raw, 8)
                elif c["name"] == "crc32c":
                    from tsdat_spark.compress.crc32c import crc32c

                    raw = raw + crc32c(raw).to_bytes(4, "little")
            with open(os.path.join(adir, "c", str(ci)), "wb") as f:
                f.write(raw)
    # a fourth array with NO chunk files: fill_value everywhere
    adir = os.path.join(root, "empty")
    os.makedirs(adir, exist_ok=True)
    with open(os.path.join(adir, "zarr.json"), "w") as f:
        json.dump(arr_meta("int64", [bytes_codec]), f)
    return specs


def test_zarr_v3_store_reads(tmp_path):
    from tsdat_spark.io.zarr2 import read_zarr_array

    root = str(tmp_path / "v3.zarr")
    specs = _write_v3_store(root)
    for name, (_, _, data) in specs.items():
        got = read_zarr_array(f"{root}/{name}")
        assert np.array_equal(got, data), name
    empty = read_zarr_array(f"{root}/empty")
    assert (empty == -1).all() and len(empty) == 700


def test_zarr_v3_spark_scan(spark, tmp_path):
    from tsdat_spark.io.zarr2 import ZarrReader

    root = str(tmp_path / "v3s.zarr")
    specs = _write_v3_store(root)
    df = ZarrReader(dim="plain").read(spark, root)
    assert df.count() == 700
    rows = df.orderBy("plain").collect()
    assert rows[10]["plain"] == 10
    assert abs(rows[10]["gz"] - 10 / 699) < 1e-12
    assert rows[0]["empty"] == -1


def test_zarr_v3_crc32c_detects_corruption(tmp_path):
    """A flipped byte in a crc32c-protected chunk must raise, not decode
    silently — the one job of a checksum codec."""
    import pytest

    from tsdat_spark.io.zarr2 import read_zarr_array

    root = str(tmp_path / "v3c.zarr")
    _write_v3_store(root)
    chunk_path = f"{root}/crc/c/0"
    with open(chunk_path, "rb") as f:
        raw = bytearray(f.read())
    raw[3] ^= 0xFF
    with open(chunk_path, "wb") as f:
        f.write(bytes(raw))
    with pytest.raises(ValueError, match="crc32c mismatch"):
        read_zarr_array(f"{root}/crc")


@pytest.mark.parametrize("compressor,checksum", [
    ({"id": "zlib", "level": 6}, False),
    ({"id": "blosc", "cname": "lz4", "shuffle": 1}, False),
    (None, True),
])
def test_zarr_v3_write_roundtrip(spark, tmp_path, compressor, checksum):
    """Engine zarr sink in v3 mode: zarr.json metadata + c/<i> chunk keys
    + codec chains (gzip/blosc/crc32c), read back through the SAME
    normalized meta path and the generic Spark scan. zlib maps to the v3
    gzip codec; crc32c trailers verify on read."""
    import datetime as dt
    import json
    import os

    from pyspark.sql import functions as F

    from tsdat_spark.io.zarr2 import ZarrReader, ZarrDatasetWriter, read_zarr_meta

    df = spark.range(2500).select(
        F.col("id").alias("i"),
        (F.col("id") % 13 * 0.5).alias("v"),
        F.timestamp_seconds(F.col("id") * 60 + 1700000000).alias("time"),
        F.concat(F.lit("rôle_"), (F.col("id") % 7).cast("string")).alias("s"),
    )
    path = str(tmp_path / "w3.zarr")
    ZarrDatasetWriter(
        chunk_rows=1024, order_by=["i"], compressor=compressor,
        zarr_format=3, checksum=checksum, dim="i",
        attrs={"title": "t3"},
    ).write(df, path)

    with open(os.path.join(path, "zarr.json")) as f:
        group = json.load(f)
    assert group["zarr_format"] == 3 and group["attributes"]["title"] == "t3"
    assert os.path.exists(os.path.join(path, "i", "c", "0"))
    assert not os.path.exists(os.path.join(path, "i", ".zarray"))
    meta, attrs = read_zarr_meta(os.path.join(path, "i"))
    assert meta["zarr_format"] == 3 and attrs["_ARRAY_DIMENSIONS"] == ["i"]

    # string column: zarr-python-3-style variable-length strings
    # (data_type "string" + vlen-utf8 codec, non-ASCII included)
    smeta, _ = read_zarr_meta(os.path.join(path, "s"))
    assert smeta["dtype"] == "|O"
    assert smeta["v3_codecs"][0]["name"] == "vlen-utf8"

    back = ZarrReader(dim="i").read(spark, path).orderBy("i").collect()
    assert len(back) == 2500
    assert back[100]["v"] == 100 % 13 * 0.5
    assert back[100]["s"] == f"rôle_{100 % 7}"
    assert back[2499]["s"] == f"rôle_{2499 % 7}"
    assert back[2499]["time"] == dt.datetime(1970, 1, 1) + dt.timedelta(
        seconds=2499 * 60 + 1700000000)


def test_zarr_v3_boundaries(tmp_path):
    import json
    import os

    import pytest

    from tsdat_spark.io.zarr2 import read_zarr_meta

    adir = str(tmp_path / "bad")
    os.makedirs(adir)
    meta = {"zarr_format": 3, "node_type": "array", "shape": [4],
            "data_type": "float64",
            "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
            "codecs": [{"name": "sharding_indexed", "configuration": {}}]}
    with open(os.path.join(adir, "zarr.json"), "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="sharding_indexed"):
        read_zarr_meta(adir)
