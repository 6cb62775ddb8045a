"""zstd decode (compress/zstd.py, a wrapper over pyarrow's bundled
libzstd) — frames written by libzstd at several levels decode exactly,
and the wrapper keeps its error contract.

Coverage map: frame shapes libzstd emits (raw/RLE/compressed blocks,
multi-block frames), frames without a Frame_Content_Size, concatenated
and skippable frames, bad magic, truncation, the dictionary boundary,
and the zarr v2/v3 and HDF5 filter 32015 read and write paths."""

import numpy as np
import pytest
from pyarrow import Codec

from tsdat_spark.compress.zstd import zstd_decompress

_z = Codec("zstd")


def _c(data: bytes, level: int | None = None) -> bytes:
    codec = Codec("zstd", compression_level=level) if level is not None else _z
    return bytes(codec.compress(data))


CASES = {
    "empty": b"",
    "one_byte": b"a",
    "repetitive_text": b"hello world " * 100,
    "incompressible_small": np.random.RandomState(1).bytes(100),
    # > 128 KiB forces multiple blocks through the raw/incompressible path
    "incompressible_large": np.random.RandomState(2).bytes(300_000),
    # low-entropy: FSE-compressed Huffman weights + 4-stream literals
    "low_entropy_large": (
        np.random.RandomState(3).randint(0, 4, 400_000).astype(np.uint8) * 9
    ).tobytes(),
    "english": b"the quick brown fox jumps over the lazy dog. " * 5000,
    "rle_heavy": b"\x42" * 250_000,
    "counter_i8": np.arange(100_000, dtype="<i8").tobytes(),
    "float_waves": np.sin(np.arange(200_000) * 0.001).astype("<f8").tobytes(),
    "jsonl": b'{"conv_id": "c1", "turn": 7, "role": "assistant"}\n' * 20_000,
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_roundtrip_vs_libzstd(name):
    data = CASES[name]
    assert zstd_decompress(_c(data)) == data


@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_levels_exercise_different_table_modes(level):
    """Higher levels emit different sequence/huffman table choices
    (repeat tables, larger accuracy logs); all must decode exactly."""
    rng = np.random.RandomState(level)
    data = (
        b"".join(
            bytes(rng.randint(97, 105, rng.randint(3, 30)).astype(np.uint8))
            + b" "
            for _ in range(20_000)
        )
    )
    assert zstd_decompress(_c(data, level)) == data


def test_concatenated_frames():
    a, b = b"first frame " * 50, b"second frame " * 50
    assert zstd_decompress(_c(a) + _c(b)) == a + b


def test_skippable_frame():
    import struct

    skip = struct.pack("<II", 0x184D2A50, 5) + b"meta!"
    data = b"payload " * 40
    assert zstd_decompress(skip + _c(data)) == data


def test_bad_magic_raises():
    with pytest.raises(ValueError, match="magic"):
        zstd_decompress(b"\x00\x01\x02\x03rest")


def test_truncated_frame_content_size_mismatch():
    buf = bytearray(_c(b"x" * 1000))
    # corrupt the declared frame content size (single-segment FCS byte(s))
    # by flipping a bit in a literal-bearing region instead: easiest robust
    # corruption = truncate the last block payload byte
    with pytest.raises((ValueError, IndexError)):
        zstd_decompress(bytes(buf[:-1]))


def test_frame_without_content_size_decodes():
    """Streaming writers omit Frame_Content_Size (descriptor byte 0x00);
    one-shot ``pyarrow.decompress`` cannot size such a frame, the
    streaming decoder can."""
    import pyarrow as pa

    data = b"streamed chunk " * 3000
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as out:
        out.write(data)
    frame = sink.getvalue().to_pybytes()
    assert frame[4] == 0x00
    assert zstd_decompress(frame) == data


def test_truncated_frame_raises_value_error():
    frame = _c(b"truncate me " * 500)
    for cut in (1, 3, len(frame) // 2):
        with pytest.raises(ValueError, match="zstd"):
            zstd_decompress(frame[:-cut])


def test_zarr_v2_zstd_store_reads(tmp_path):
    """zarr v2 store with the numcodecs-style zstd compressor decodes
    through the same read path as zlib/blosc."""
    import json
    import os

    from tsdat_spark.io.zarr2 import read_zarr_array

    n, cw = 700, 256
    adir = str(tmp_path / "z2zstd" / "x")
    os.makedirs(adir)
    data = np.arange(n, dtype="<i8") * 7
    with open(os.path.join(adir, ".zarray"), "w") as f:
        json.dump({"zarr_format": 2, "shape": [n], "chunks": [cw],
                   "dtype": "<i8", "compressor": {"id": "zstd", "level": 3},
                   "fill_value": None, "filters": None, "order": "C"}, f)
    for ci in range(-(-n // cw)):
        part = data[ci * cw:(ci + 1) * cw]
        if len(part) < cw:
            part = np.concatenate([part, np.zeros(cw - len(part), data.dtype)])
        with open(os.path.join(adir, str(ci)), "wb") as f:
            f.write(_c(part.tobytes()))
    assert np.array_equal(read_zarr_array(adir), data)


def test_zarr_v3_zstd_codec_reads(tmp_path):
    import json
    import os

    from tsdat_spark.io.zarr2 import read_zarr_array

    n, cw = 500, 200
    adir = str(tmp_path / "z3zstd" / "y")
    os.makedirs(os.path.join(adir, "c"))
    data = np.linspace(0.0, 5.0, n)
    with open(os.path.join(adir, "zarr.json"), "w") as f:
        json.dump({"zarr_format": 3, "node_type": "array", "shape": [n],
                   "data_type": "float64",
                   "chunk_grid": {"name": "regular",
                                  "configuration": {"chunk_shape": [cw]}},
                   "chunk_key_encoding": {"name": "default",
                                          "configuration": {"separator": "/"}},
                   "fill_value": 0.0,
                   "codecs": [{"name": "bytes",
                               "configuration": {"endian": "little"}},
                              {"name": "zstd",
                               "configuration": {"level": 5}}],
                   "attributes": {}}, f)
    for ci in range(-(-n // cw)):
        part = data[ci * cw:(ci + 1) * cw]
        if len(part) < cw:
            part = np.concatenate([part, np.zeros(cw - len(part))])
        with open(os.path.join(adir, "c", str(ci)), "wb") as f:
            f.write(_c(part.astype("<f8").tobytes()))
    assert np.allclose(read_zarr_array(adir), data)


def test_hdf5_zstd_filter_applies():
    """HDF5 registered filter id 32015 routes through the decoder."""
    from tsdat_spark.io.hdf5 import _apply_filters

    payload = np.arange(4096, dtype="<f4").tobytes()
    assert _apply_filters(_c(payload), [(32015, ())], 4) == payload
    # shuffle (2) + zstd (32015) chain, applied in pipeline order
    ts = 4
    n = len(payload) // ts
    shuffled = (
        np.frombuffer(payload, dtype=np.uint8).reshape(n, ts).T.tobytes()
    )
    assert _apply_filters(_c(shuffled), [(2, (ts,)), (32015, ())], ts) == payload


def test_dictionary_frame_boundary():
    """A frame declaring a dictionary id must raise the documented
    boundary error, not decode garbage."""
    import struct

    # hand-built minimal frame: magic + FHD(dictid flag=1) + window + dictid
    frame = struct.pack("<I", 0xFD2FB528) + bytes([0x01, 0x00, 0x07]) + b""
    with pytest.raises(NotImplementedError, match="dictionar"):
        zstd_decompress(frame + bytes([0x01, 0x00, 0x00]))


# -- encoder ----------------------------------------------------------------


@pytest.mark.parametrize("name", sorted(CASES))
def test_store_mode_encoder_accepted_by_libzstd(name):
    """Frames zstd_compress writes decode both through zstd_decompress
    and through one-shot libzstd with the exact size, including the
    empty frame, multi-block payloads, and RLE runs."""
    from tsdat_spark.compress.zstd import zstd_compress

    data = CASES[name]
    frame = zstd_compress(data)
    assert zstd_decompress(frame) == data
    assert bytes(_z.decompress(frame, decompressed_size=len(data))) == data


def test_store_mode_rle_actually_shrinks():
    from tsdat_spark.compress.zstd import zstd_compress

    data = b"\x07" * 250_000
    frame = zstd_compress(data)
    assert len(frame) < 100  # RLE-coded, not 250 KB
    assert zstd_decompress(frame) == data


def test_hdf5_file_zstd_codec_roundtrip():
    from tsdat_spark.io.hdf5 import read_hdf5
    from tsdat_spark.io.hdf5_write import write_hdf5

    n = 300
    cols = {
        "time": np.arange(n).astype("datetime64[us]"),
        "value": (np.arange(n) % 7).astype("<f8") * 1.5,
    }
    blob = write_hdf5(cols, dim="time", chunk_rows=128, codec="zstd")
    _dims, _gattrs, vs = read_hdf5(blob)
    np.testing.assert_array_equal(vs["value"]["array"], cols["value"])


def test_hdf5_zstd_filter_records_the_encoding_level():
    """Filter 32015's client data carries the level the chunks were
    actually encoded at, not the deflate ``compress_level``."""
    from tsdat_spark.compress import zstd
    from tsdat_spark.io.hdf5 import _collect_links, _parse_object, _superblock_root
    from tsdat_spark.io.hdf5_write import write_hdf5

    cols = {"time": np.arange(300).astype("datetime64[us]"), "value": np.arange(300.0)}
    blob = write_hdf5(cols, dim="time", chunk_rows=128, codec="zstd", compress_level=9)
    links = dict(_collect_links(blob, _superblock_root(blob)))
    ds, _ = _parse_object(blob, links["value"], "value")
    assert dict(ds.filters)[32015] == (zstd.LEVEL,) == (zstd._CODEC.compression_level,)


@pytest.mark.parametrize("zarr_format", [2, 3])
def test_zarr_zstd_write_read_roundtrip(tmp_path, zarr_format, spark):
    """The engine's zarr sink can now emit zstd-compressed stores (the
    zarr-python 3 default codec) in both formats and read them back."""
    import pandas as pd

    from tsdat_spark.io.zarr2 import ZarrDatasetWriter, ZarrReader

    n = 2000
    pdf = pd.DataFrame(
        {
            "time": pd.date_range("2024-01-01", periods=n, freq="s"),
            "value": (np.arange(n) % 11) * 0.25,
        }
    )
    df = spark.createDataFrame(pdf)
    path = str(tmp_path / f"z{zarr_format}.zarr")
    ZarrDatasetWriter(
        chunk_rows=512,
        order_by=["time"],
        compressor={"id": "zstd"},
        zarr_format=zarr_format,
    ).write(df, path)
    back = ZarrReader().read(spark, path).orderBy("time").toPandas()
    np.testing.assert_allclose(back["value"].to_numpy(), pdf["value"].to_numpy())
