"""From-spec pure-Python bitshuffle codec (kiyo-masui/bitshuffle layout).

Why: bitshuffle is the remaining real-world filter on the scientific-store
read path — c-blosc chunks with the bit-shuffle flag (``shuffle: 2`` in
zarr v2 metadata, common for compressible numeric data) and HDF5 files
using the registered bitshuffle plugin (filter id 32008, usually with its
built-in LZ4 or zstd framing; the zstd blocks decode through
``compress/zstd``). This image has neither c-blosc nor the bitshuffle
library, so the layout is implemented from its public
definition (bitshuffle README / bitshuffle_core.c semantics; Masui et
al. 2015, "A compression scheme for radio data in high performance
computing"):

* One transposed block of ``n`` elements x ``elem_size`` bytes is the
  bit-matrix transpose of (elements x bits-per-element): output bit-row
  ``b`` (``b = 8*k + j`` — byte-plane ``k`` major, bit ``j`` minor, both
  little-endian, i.e. ``b`` is the bit's significance in the
  little-endian element) holds bit ``b`` of elements ``0..n-1`` packed
  LSB-first (element 0 -> bit 0 of the row's first byte). This matches
  the reference scalar implementation (8x8 Hacker's-Delight transposes
  over little-endian loads).
* The standalone/HDF5 codec processes independent blocks of
  ``block_size`` elements (0 -> default: 8192 bytes / elem_size rounded
  down to a multiple of 8, minimum 8); the remainder is one final block
  rounded down to a multiple of 8 elements; the last ``n % 8`` elements
  are stored raw.
* c-blosc's per-block variant (``bitshuffle()`` in its shuffle.c) is a
  SINGLE transpose over ``blocksize//typesize`` rounded down to a
  multiple of 8 elements with the tail raw — no internal re-blocking.
* HDF5 filter 32008 LZ4/zstd framing (bshuf_h5filter.c +
  bshuf_compress_lz4): 8-byte big-endian total uncompressed size, 4-byte
  big-endian block size IN BYTES, then per block a 4-byte big-endian
  compressed length + the compressed bitshuffled block; the final
  ``n % 8`` leftover elements follow raw.

No golden fixture from the native library exists in this image; tests
pin the layout with hand-computed definitional vectors (bit ``b`` of
element ``i`` -> row ``b``, bit ``i``) plus hypothesis round-trips.
"""

from __future__ import annotations

import struct

import numpy as np

TARGET_BLOCK_BYTES = 8192  # BSHUF_TARGET_BLOCK_SIZE_B
BLOCKED_MULT = 8  # BSHUF_BLOCKED_MULT: transposed element counts are 8-aligned


def default_block_size(elem_size: int) -> int:
    """bshuf_default_block_size: ~8 KiB of elements, 8-aligned, min 8."""
    bs = TARGET_BLOCK_BYTES // elem_size
    bs -= bs % BLOCKED_MULT
    return max(bs, BLOCKED_MULT)


def _trans_bit_elem(a: np.ndarray, n: int, e: int) -> np.ndarray:
    """Forward bit transpose of one block; ``n`` must be a multiple of 8."""
    planes = a[: n * e].reshape(n, e).T  # (e, n) byte planes
    bits = np.unpackbits(np.ascontiguousarray(planes), axis=1, bitorder="little")
    bits = bits.reshape(e, n, 8).transpose(0, 2, 1)  # (plane, bit, element)
    return np.packbits(bits.reshape(e * 8, n), axis=1, bitorder="little").reshape(-1)


def _untrans_bit_elem(a: np.ndarray, n: int, e: int) -> np.ndarray:
    """Inverse of :func:`_trans_bit_elem`."""
    rows = a[: n * e].reshape(e * 8, n // 8)
    bits = np.unpackbits(np.ascontiguousarray(rows), axis=1, bitorder="little")
    bits = bits.reshape(e, 8, n).transpose(0, 2, 1)  # (plane, element, bit)
    planes = np.packbits(bits.reshape(e, n * 8), axis=1, bitorder="little")
    return planes.reshape(e, n).T.reshape(-1)


def _blocked(data: bytes, elem_size: int, block_size: int, fwd: bool) -> bytes:
    if elem_size <= 0:
        raise ValueError(f"elem_size must be positive, got {elem_size}")
    if len(data) % elem_size:
        raise ValueError(
            f"{len(data)} bytes is not a multiple of elem_size {elem_size}"
        )
    n = len(data) // elem_size
    if block_size == 0:
        block_size = default_block_size(elem_size)
    if block_size % BLOCKED_MULT:
        raise ValueError(f"block_size {block_size} is not a multiple of 8")
    a = np.frombuffer(data, np.uint8)
    fn = _trans_bit_elem if fwd else _untrans_bit_elem
    out = bytearray(len(data))
    pos = 0
    for start in range(0, n - n % block_size, block_size):
        b = start * elem_size
        nb = block_size * elem_size
        out[pos : pos + nb] = fn(a[b : b + nb], block_size, elem_size).tobytes()
        pos += nb
    last = (n % block_size) - (n % block_size) % BLOCKED_MULT
    if last:
        b = (n - n % block_size) * elem_size
        nb = last * elem_size
        out[pos : pos + nb] = fn(a[b : b + nb], last, elem_size).tobytes()
        pos += nb
    out[pos:] = data[len(data) - (n % BLOCKED_MULT) * elem_size :]
    return bytes(out)


def bitshuffle(data: bytes, elem_size: int, block_size: int = 0) -> bytes:
    """Blocked forward bitshuffle (bshuf_bitshuffle semantics)."""
    return _blocked(data, elem_size, block_size, fwd=True)


def bitunshuffle(data: bytes, elem_size: int, block_size: int = 0) -> bytes:
    """Blocked inverse bitshuffle (bshuf_bitunshuffle semantics)."""
    return _blocked(data, elem_size, block_size, fwd=False)


def blosc_bitshuffle(data: bytes, typesize: int) -> bytes:
    """c-blosc per-block variant: ONE transpose, 8-aligned count, raw tail."""
    n = len(data) // typesize
    n -= n % BLOCKED_MULT
    if n == 0:
        return data
    a = np.frombuffer(data, np.uint8)
    head = _trans_bit_elem(a, n, typesize).tobytes()
    return head + data[n * typesize :]


def blosc_bitunshuffle(data: bytes, typesize: int) -> bytes:
    """Inverse of :func:`blosc_bitshuffle`."""
    n = len(data) // typesize
    n -= n % BLOCKED_MULT
    if n == 0:
        return data
    a = np.frombuffer(data, np.uint8)
    head = _untrans_bit_elem(a, n, typesize).tobytes()
    return head + data[n * typesize :]


# -- HDF5 filter 32008 compressed framing -----------------------------------

_COMP_NONE, _COMP_LZ4, _COMP_ZSTD = 0, 2, 3


def _iter_blocks(n: int, block_size: int):
    """Yield per-block element counts of the blocked wrapper (8-aligned)."""
    for _ in range(n // block_size):
        yield block_size
    last = (n % block_size) - (n % block_size) % BLOCKED_MULT
    if last:
        yield last


def bshuf_compress(
    data: bytes, elem_size: int, block_size: int = 0, compressor: int = _COMP_LZ4
) -> bytes:
    """Frame ``data`` as the bitshuffle HDF5 filter's compressed stream."""
    if compressor != _COMP_LZ4:
        raise NotImplementedError(
            "bitshuffle framing encode supports LZ4 only"
        )
    from .lz4block import lz4_compress

    n = len(data) // elem_size
    if len(data) % elem_size:
        raise ValueError("data is not a multiple of elem_size")
    if block_size == 0:
        block_size = default_block_size(elem_size)
    out = bytearray(struct.pack(">QI", len(data), block_size * elem_size))
    a = np.frombuffer(data, np.uint8)
    b = 0
    for cnt in _iter_blocks(n, block_size):
        nb = cnt * elem_size
        shuf = _trans_bit_elem(a[b : b + nb], cnt, elem_size).tobytes()
        comp = lz4_compress(shuf)
        out += struct.pack(">I", len(comp)) + comp
        b += nb
    out += data[b:]  # final n % 8 elements, raw
    return bytes(out)


def bshuf_decompress(payload: bytes, elem_size: int, compressor: int) -> bytes:
    """Decode the bitshuffle HDF5 filter's LZ4/zstd compressed stream."""
    total, block_bytes = struct.unpack_from(">QI", payload, 0)
    if block_bytes % elem_size:
        raise ValueError(
            f"framed block size {block_bytes} not a multiple of elem_size"
        )
    n = total // elem_size
    block_size = block_bytes // elem_size
    if block_size == 0:
        block_size = default_block_size(elem_size)
    pos = 12
    out = bytearray(total)
    opos = 0
    for cnt in _iter_blocks(n, block_size):
        nb = cnt * elem_size
        (clen,) = struct.unpack_from(">I", payload, pos)
        pos += 4
        comp = payload[pos : pos + clen]
        pos += clen
        if compressor == _COMP_LZ4:
            from .lz4block import lz4_decompress

            shuf = lz4_decompress(comp, nb)
        elif compressor == _COMP_ZSTD:
            from .zstd import zstd_decompress

            shuf = zstd_decompress(comp)
        else:
            raise NotImplementedError(f"bitshuffle compressor code {compressor}")
        out[opos : opos + nb] = _untrans_bit_elem(
            np.frombuffer(shuf, np.uint8), cnt, elem_size
        ).tobytes()
        opos += nb
    out[opos:] = payload[pos : pos + (total - opos)]  # raw leftover elements
    return bytes(out)
