"""Pure-Python LZ4 *block* format codec (the frame-less raw block format,
https://github.com/lz4/lz4/blob/dev/doc/lz4_Block_format.md).

Exists for the blosc container (``compress/bloscc.py``): blosc-compressed
zarr chunks — what xarray/zarr write by default — carry LZ4 blocks, and the
sandbox image ships neither python-lz4 nor c-blosc. Decode is a faithful
implementation of the published block grammar; encode emits the simplest
valid stream (greedy hash-chain matching would also be valid — but blosc
re-compresses nothing on read, and writes go through ``store_mode='raw'``
by default, so the literal-heavy encoder is only a test/round-trip aid).

Why not pyarrow's ``lz4_raw`` codec: ``pyarrow.decompress(block,
decompressed_size=n, codec="lz4_raw")`` does not check that the block
decodes to exactly ``n`` bytes. A block that decodes to 3,050 bytes,
asked for 3,051, returns 3,051 bytes without an error, the last one from
an uninitialised buffer. blosc and bitshuffle frames rely on the exact
size check that :func:`lz4_decompress` makes to detect corrupt blocks.

A block is a sequence of:
  token(1B: hi-nibble literal_len, lo-nibble match_len-4; 15 ⇒ continue
  with 255-bytes), literals, 2B little-endian match offset (≥1), match
  copy (may overlap — byte-at-a-time semantics). The last sequence ends
  after its literals (no offset/match).
"""

from __future__ import annotations


def lz4_decompress(src: bytes, dest_size: int) -> bytes:
    """Decode one LZ4 block into exactly ``dest_size`` bytes."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                b = src[i]
                i += 1
                lit_len += b
                if b != 255:
                    break
        out += src[i : i + lit_len]
        i += lit_len
        if i >= n:
            break  # last sequence: literals only
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0:
            raise ValueError("corrupt LZ4 block: zero match offset")
        match_len = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                b = src[i]
                i += 1
                match_len += b
                if b != 255:
                    break
        start = len(out) - offset
        if start < 0:
            raise ValueError("corrupt LZ4 block: offset before window start")
        if offset >= match_len:
            out += out[start : start + match_len]
        else:
            # overlapping match: byte-at-a-time (RLE-style) semantics
            for k in range(match_len):
                out.append(out[start + k])
    if len(out) != dest_size:
        raise ValueError(f"LZ4 block decoded {len(out)} bytes, expected {dest_size}")
    return bytes(out)


def _write_len(first: int, extra: int) -> bytearray:
    buf = bytearray()
    if first == 15:
        while extra >= 255:
            buf.append(255)
            extra -= 255
        buf.append(extra)
    return buf


def lz4_compress(src: bytes) -> bytes:
    """Encode a valid LZ4 block. Strategy: a greedy single-entry hash
    table over 4-byte windows — real matches when found, literals
    otherwise; always ends with the spec's literal-only final sequence
    (last 5 bytes are never matched, per the format's end conditions)."""
    n = len(src)
    out = bytearray()
    if n == 0:
        return b"\x00"
    table: dict[bytes, int] = {}
    anchor = 0
    i = 0
    # spec end conditions: last match must start >= 12 bytes before end,
    # and the last 5 bytes are literals
    limit = n - 12
    while i <= limit:
        key = src[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is not None and i - cand <= 0xFFFF and src[cand : cand + 4] == key:
            match_len = 4
            max_len = (n - 5) - i  # keep the last 5 bytes literal
            while match_len < max_len and src[cand + match_len] == src[i + match_len]:
                match_len += 1
            lit = src[anchor:i]
            lit_first = min(len(lit), 15)
            m_first = min(match_len - 4, 15)
            out.append((lit_first << 4) | m_first)
            out += _write_len(lit_first, len(lit) - 15)
            out += lit
            offset = i - cand
            out += bytes((offset & 0xFF, offset >> 8))
            out += _write_len(m_first, match_len - 4 - 15)
            i += match_len
            anchor = i
        else:
            i += 1
    lit = src[anchor:]
    lit_first = min(len(lit), 15)
    out.append(lit_first << 4)
    out += _write_len(lit_first, len(lit) - 15)
    out += lit
    return bytes(out)
