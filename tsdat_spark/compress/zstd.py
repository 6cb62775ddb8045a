"""Zstandard (RFC 8878) through the libzstd that pyarrow bundles.

Decode streams, so frames without a Frame_Content_Size (what streaming
writers such as ``zstd`` on stdin emit) and concatenated or skippable
frames all read. libzstd's ``OSError`` maps to the module's error
contract: ``NotImplementedError`` for dictionary frames, ``ValueError``
(named "zstd: ...") for everything else.
"""

from __future__ import annotations

import pyarrow as pa

LEVEL = 3  # libzstd's default level; HDF5 filter 32015 records it
_CODEC = pa.Codec("zstd", compression_level=LEVEL)


def zstd_compress(data: bytes) -> bytes:
    """Encode ``data`` as one zstd frame."""
    return _CODEC.compress(data, asbytes=True)


def zstd_decompress(data: bytes) -> bytes:
    """Decode one or more concatenated zstd frames."""
    try:
        with pa.CompressedInputStream(pa.py_buffer(data), "zstd") as src:
            return src.read()
    except OSError as e:
        msg = str(e)
        if "dictionary" in msg.lower():
            raise NotImplementedError(
                "zstd dictionaries are not supported") from e
        if "Unknown frame descriptor" in msg:
            msg = f"bad magic ({msg})"
        raise ValueError(f"zstd: {msg}") from e
