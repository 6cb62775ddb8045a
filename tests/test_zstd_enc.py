"""zstd ENCODER (``zstd_compress`` in compress/zstd.py) — RFC 8878.

Two oracles for every frame: ``zstd_decompress`` (bit-exact round trip)
and the host ``zstd`` CLI (a separate libzstd build must accept and
regenerate the payload). Reference parity target: the reference stores
zstd-filtered chunks via its native bindings (tsdat consumes them through
xarray/HDF5 stacks); this engine writes frames any libzstd deployment
reads back.
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess

import pytest

from tsdat_spark.compress.zstd import zstd_compress, zstd_decompress

_HAS_CLI = shutil.which("zstd") is not None


def _cli_decompress(frame: bytes) -> bytes:
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "f.zst")
        dst = os.path.join(d, "f.bin")
        with open(src, "wb") as fh:
            fh.write(frame)
        subprocess.run(["zstd", "-d", "-f", src, "-o", dst],
                       check=True, capture_output=True)
        with open(dst, "rb") as fh:
            return fh.read()


def _payloads():
    random.seed(20260818)
    return {
        "empty": b"",
        "one": b"x",
        "tiny": b"hello",
        "all_same": b"a" * 50_000,
        "text": b"the quick brown fox jumps over the lazy dog. " * 4000,
        "utf8_high_bytes": ("zstd压缩测试" * 9000).encode(),
        "random": bytes(random.randrange(256) for _ in range(150_000)),
        "four_symbols": bytes(random.randrange(4) for _ in range(120_000)),
        "jsonl": (b'{"ts":1724000000,"conv_id":"abc-123",'
                  b'"role":"assistant","tokens":42}\n' * 3000),
        "cross_block_period": b"ABCDEFGH" * 40_000,
        "high_byte_alphabet": bytes(
            random.choice(range(120, 256)) for _ in range(90_000)),
        "block_boundary_exact": os.urandom(131_071),
        "block_boundary_plus1": os.urandom(131_072),
    }


@pytest.mark.parametrize("name", sorted(_payloads()))
def test_roundtrip_own_decoder(name):
    data = _payloads()[name]
    frame = zstd_compress(data)
    assert zstd_decompress(frame) == data


@pytest.mark.parametrize("name", sorted(_payloads()))
@pytest.mark.skipif(not _HAS_CLI, reason="no zstd CLI on host")
def test_libzstd_accepts_our_frames(name):
    data = _payloads()[name]
    assert _cli_decompress(zstd_compress(data)) == data


def test_compressible_data_actually_compresses():
    """Textual payloads shrink well below raw."""
    data = b"the quick brown fox jumps over the lazy dog. " * 4000
    frame = zstd_compress(data)
    assert len(frame) < len(data) // 10


def test_incompressible_data_never_expands_past_store_mode():
    data = os.urandom(300_000)
    frame = zstd_compress(data)
    # raw blocks + frame header: 3 bytes per <=128 KiB block of overhead
    assert len(frame) <= len(data) + 3 * 4 + 16
    assert zstd_decompress(frame) == data


def test_fse_weight_header_roundtrip_high_symbols():
    """Byte values >128 force the FSE-compressed Huffman weight header
    (direct 4-bit weights cap at 128 listed symbols)."""
    random.seed(5)
    data = bytes(random.choice(range(120, 256)) for _ in range(60_000))
    frame = zstd_compress(data)
    assert zstd_decompress(frame) == data
    assert len(frame) < len(data)  # ~7.09 bits/byte entropy


def test_large_nseq_two_and_three_byte_headers():
    """>127 and >0x7EFF sequences exercise the 2- and 3-byte nseq
    forms."""
    random.seed(6)
    # many short matches: alternating tiny runs
    data = b"".join(bytes([random.randrange(2)]) * random.randrange(4, 9)
                    for _ in range(40_000))
    frame = zstd_compress(data)
    assert zstd_decompress(frame) == data


@pytest.mark.skipif(not _HAS_CLI, reason="no zstd CLI on host")
def test_fuzz_roundtrip_both_decoders():
    random.seed(99)
    for _ in range(120):
        n = random.randrange(0, 4000)
        alphabet = random.choice([2, 5, 30, 256])
        p = bytes(random.randrange(alphabet) for _ in range(n))
        if random.random() < 0.5:
            p = p * random.randrange(1, 6)
        frame = zstd_compress(p)
        assert zstd_decompress(frame) == p
    # CLI pass on a sample (subprocess per case is slow)
    random.seed(98)
    for _ in range(8):
        p = bytes(random.randrange(30) for _ in range(2500)) * 3
        assert _cli_decompress(zstd_compress(p)) == p


@pytest.mark.parametrize("zarr_format", [2, 3])
def test_zarr_zstd_write_now_compresses(tmp_path, zarr_format, spark):
    """End-to-end: the zarr sink with the zstd codec emits chunks that are
    genuinely smaller than raw (round 5 only containerized them)."""
    import numpy as np
    import pandas as pd

    from tsdat_spark.io.zarr2 import ZarrDatasetWriter, ZarrReader

    n = 20_000
    pdf = pd.DataFrame(
        {
            "time": pd.date_range("2024-01-01", periods=n, freq="s"),
            "value": ((np.arange(n) % 11) * 0.25).astype("<f8"),
        }
    )
    df = spark.createDataFrame(pdf)
    path = str(tmp_path / f"z{zarr_format}.zarr")
    ZarrDatasetWriter(
        chunk_rows=4096,
        order_by=["time"],
        compressor={"id": "zstd"},
        zarr_format=zarr_format,
    ).write(df, path)
    chunk_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path) for f in fs
        if "value" in dp and not f.startswith(".z") and "json" not in f
    )
    assert 0 < chunk_bytes < (n * 8) // 4
    back = ZarrReader().read(spark, path).orderBy("time").toPandas()
    np.testing.assert_allclose(back["value"].to_numpy(),
                               pdf["value"].to_numpy())


@pytest.mark.skipif(not _HAS_CLI, reason="no zstd CLI on host")
def test_content_checksum_bidirectional():
    """Content_Checksum (XXH64 low 32, RFC 8878 §3.1.1): frames the CLI
    writes with -C decode and verify; a corrupted stored checksum
    raises."""
    import subprocess as sp
    import tempfile

    data = b"assistant says hello " * 500 + os.urandom(129)
    with tempfile.TemporaryDirectory() as d:
        src, dst = os.path.join(d, "a.bin"), os.path.join(d, "a.zst")
        with open(src, "wb") as fh:
            fh.write(data)
        sp.run(["zstd", "-f", "-C", src, "-o", dst], check=True,
               capture_output=True)
        with open(dst, "rb") as fh:
            cli_frame = fh.read()
    assert zstd_decompress(cli_frame) == data

    bad = bytearray(cli_frame)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="checksum"):
        zstd_decompress(bytes(bad))
