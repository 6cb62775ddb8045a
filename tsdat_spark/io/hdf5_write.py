"""Minimal from-spec HDF5 writer — NetCDF-4-flavored output without h5py.

Emits the complementary v1 profile to the fixture-covered v2 read path
(``io/hdf5.py``): superblock v0, v1 object headers, v1 symbol-table
groups (``TREE``/``HEAP``/``SNOD``) — or, with ``dense_links=True``/
``dense_attrs=True``, 'new style' DENSE storage (fractal heap + v2
B-tree name index with real lookup3 checksums and name hashes, the shape
netcdf-c produces past 8 links) — layouts contiguous and v3 chunked
(B-tree v1) with shuffle+deflate, fixed-string/numeric attributes, and
the netCDF-4 dimension-scale convention (``CLASS``/``NAME`` on the
coordinate variable, ``DIMENSION_LIST`` as VLEN object references through
a global heap) so netCDF readers recover real dimension names. Everything
follows the public HDF5 File Format Specification III; layout constants
(group leaf K=4 → ≤8 symbols per SNOD, single-level node caps) match the
library defaults the spec documents.

Role: (a) round-trip proof for the reader's v1/chunked/filtered paths —
the reference fixture only exercises v2 headers with contiguous storage;
(b) the engine's NetCDF-4 sink analog of ``NetCDF3DatasetWriter``
(one self-describing part per Spark partition via ``write_hdf5``).
Caps are explicit: one group level, ≤64 chunks per dataset (one B-tree
node), 1-D data variables — a ``ValueError`` names each. The dense-mode
knobs (``btree_node_size``, ``heap_block_size``, ``heap_huge_threshold``)
exist to synthesize genuinely deep/indirect/huge structures as reader
fixtures — no h5py in the image, so the writer is the fixture source.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89HDF\r\n\x1a\n"
_UNDEF8 = b"\xff" * 8


def _pad8(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 8)


def _lookup3(data: bytes, init: int = 0) -> int:
    """Bob Jenkins' lookup3 (hashlittle) — HDF5's metadata checksum AND its
    dense-storage name hash (H5_checksum_lookup3)."""
    M = 0xFFFFFFFF

    def rot(x, k):
        return ((x << k) | (x >> (32 - k))) & M

    length = len(data)
    a = b = c = (0xDEADBEEF + length + init) & M
    i = 0
    while length > 12:
        a = (a + int.from_bytes(data[i : i + 4], "little")) & M
        b = (b + int.from_bytes(data[i + 4 : i + 8], "little")) & M
        c = (c + int.from_bytes(data[i + 8 : i + 12], "little")) & M
        a = (a - c) & M; a ^= rot(c, 4); c = (c + b) & M
        b = (b - a) & M; b ^= rot(a, 6); a = (a + c) & M
        c = (c - b) & M; c ^= rot(b, 8); b = (b + a) & M
        a = (a - c) & M; a ^= rot(c, 16); c = (c + b) & M
        b = (b - a) & M; b ^= rot(a, 19); a = (a + c) & M
        c = (c - b) & M; c ^= rot(b, 4); b = (b + a) & M
        i += 12
        length -= 12
    if length == 0:
        return c
    tail = data[i:] + b"\x00" * (12 - length)
    a = (a + int.from_bytes(tail[0:4], "little")) & M
    b = (b + int.from_bytes(tail[4:8], "little")) & M
    c = (c + int.from_bytes(tail[8:12], "little")) & M
    c ^= b; c = (c - rot(b, 14)) & M
    a ^= c; a = (a - rot(c, 11)) & M
    b ^= a; b = (b - rot(a, 25)) & M
    c ^= b; c = (c - rot(b, 16)) & M
    a ^= c; a = (a - rot(c, 4)) & M
    b ^= a; b = (b - rot(a, 14)) & M
    c ^= b; c = (c - rot(b, 24)) & M
    return c


# -- dense storage builders (fractal heap + v2 B-tree) ----------------------

_FRHP_SIZE = 146
_BTHD_SIZE = 38


def _fractal_heap_blob(objects: list[bytes], frhp_at: int, heap_id_len: int,
                       block_size: int | None = None,
                       huge_threshold: int | None = None):
    """FRHP header + heap body holding ``objects`` (body laid immediately
    after the header). Returns (frhp_bytes, body_bytes, heap_ids).
    heap_id_len 7 → links (4-byte offset, 2-byte length); 8 → attributes.

    Default: one root direct block grown to fit — the shape netcdf-c-sized
    groups take. ``block_size`` forces the real doubling table (width 4,
    start S, max direct 2S → rows S, S, 2S direct, row ≥ 3 INDIRECT child
    blocks, spec III.E/F) with a root indirect block. ``huge_threshold``
    routes objects >= that size to HUGE storage: raw bytes at a file
    address indexed by a type-1 v2 B-tree (addr + length + id records),
    heap ID type 1 carrying the id number (indirect access — the id is
    too small for addr+len, exactly the id_len-7/8 regime HDF5 is in)."""
    off_bytes, len_bytes = 4, heap_id_len - 1 - 4
    base = frhp_at + _FRHP_SIZE
    hdr_sz = 4 + 1 + 8 + off_bytes  # FHDB header (no direct-block checksums)
    heap_ids: list[bytes | None] = [None] * len(objects)
    body = bytearray()

    huge_set = {i for i, o in enumerate(objects)
                if huge_threshold is not None and len(o) >= huge_threshold}
    managed = [i for i in range(len(objects)) if i not in huge_set]
    max_obj = max([1] + [len(objects[i]) for i in managed])

    if block_size is None:
        dblock_size = 512
        while dblock_size < hdr_sz + sum(len(objects[i]) for i in managed):
            dblock_size *= 2
        if dblock_size > 65536:
            raise ValueError(
                "dense storage objects exceed one 64 KiB direct block")
        dblk = bytearray(b"FHDB" + struct.pack("<B", 0)
                         + struct.pack("<Q", frhp_at)
                         + (0).to_bytes(off_bytes, "little"))
        for i in managed:
            o = objects[i]
            off_in_heap = len(dblk)
            dblk += o
            heap_ids[i] = (bytes([0])
                           + off_in_heap.to_bytes(off_bytes, "little")
                           + len(o).to_bytes(len_bytes, "little"))
        free = dblock_size - len(dblk)
        dblk += b"\x00" * free
        body += dblk
        width, start_size, max_direct = 4, dblock_size, 65536
        root_addr, cur_rows = base, 0
        managed_space = dblock_size
    else:
        width, start_size = 4, block_size
        max_direct = 2 * block_size
        max_direct_rows = 3  # rows S, S, 2S then indirect children
        first_row_bits = ((start_size.bit_length() - 1)
                          + (width.bit_length() - 1))

        # enumerate direct slots in doubling-table order; a root slot in
        # row >= max_direct_rows is an indirect child whose sub-rows are
        # themselves table rows (all direct for the sizes the guard allows)
        def slots():
            hoff = 0
            for row in range(32):
                rsize = start_size if row < 2 else start_size << (row - 1)
                for col in range(width):
                    if row < max_direct_rows:
                        yield (None, row, col, hoff, rsize)
                        hoff += rsize
                    else:
                        sub_rows = (rsize.bit_length() - 1) - first_row_bits + 1
                        if sub_rows > max_direct_rows:
                            raise ValueError(
                                "forced fractal heap would need nested "
                                "indirect blocks beyond one level")
                        soff = hoff
                        for srow in range(sub_rows):
                            srs = (start_size if srow < 2
                                   else start_size << (srow - 1))
                            for scol in range(width):
                                yield ((row, col), srow, scol, soff, srs)
                                soff += srs
                        hoff += rsize

        # pack objects greedily into direct blocks
        gen = slots()
        cur = None  # (slot_key, contents bytearray-of-objs, heap_off, rsize)
        used: list[tuple] = []

        def next_slot():
            key, row, col, hoff, rsize = next(gen)
            if rsize - hdr_sz < max_obj:
                raise ValueError("fractal-heap block_size too small")
            return [key, row, col, hoff, rsize, bytearray()]

        for i in managed:
            o = objects[i]
            if cur is None:
                cur = next_slot()
            while hdr_sz + len(cur[5]) + len(o) > cur[4]:
                used.append(cur)
                cur = next_slot()
            heap_off = cur[3] + hdr_sz + len(cur[5])
            cur[5] += o
            heap_ids[i] = (bytes([0])
                           + heap_off.to_bytes(off_bytes, "little")
                           + len(o).to_bytes(len_bytes, "little"))
        if cur is not None:
            used.append(cur)

        # group: root-direct slots and child-iblock slots
        root_rows = 0
        iblocks: dict[tuple, list] = {}
        root_direct: list = []
        for key, row, col, hoff, rsize, payload in used:
            if key is None:
                root_rows = max(root_rows, row + 1)
                root_direct.append((row, col, hoff, rsize, payload))
            else:
                root_rows = max(root_rows, key[0] + 1)
                iblocks.setdefault(key, []).append(
                    (row, col, hoff, rsize, payload))

        # assign file addresses: root FHIB, child FHIBs, then FHDBs
        root_size = 4 + 1 + 8 + off_bytes + root_rows * width * 8 + 4
        cursor = base + root_size
        ib_addr: dict[tuple, int] = {}
        ib_rows: dict[tuple, int] = {}
        for key, members in sorted(iblocks.items()):
            rsize = start_size << (key[0] - 1)
            sub_rows = (rsize.bit_length() - 1) - first_row_bits + 1
            ib_rows[key] = sub_rows
            ib_addr[key] = cursor
            cursor += 4 + 1 + 8 + off_bytes + sub_rows * width * 8 + 4
        db_addr: dict[tuple, int] = {}
        for key, row, col, hoff, rsize, payload in used:
            db_addr[(key, row, col)] = cursor
            cursor += rsize

        def render_iblock(nrows, children, block_off):
            blob = bytearray(b"FHIB" + struct.pack("<B", 0)
                             + struct.pack("<Q", frhp_at)
                             + block_off.to_bytes(off_bytes, "little"))
            for row in range(nrows):
                for col in range(width):
                    if (row, col) in children:
                        blob += struct.pack("<Q", children[(row, col)])
                    else:
                        blob += _UNDEF8
            blob += struct.pack("<I", _lookup3(bytes(blob)))
            return blob

        root_children = {}
        for row, col, _hoff, _rsize, _payload in root_direct:
            root_children[(row, col)] = db_addr[(None, row, col)]
        for key in iblocks:
            root_children[key] = ib_addr[key]
        body += render_iblock(root_rows, root_children, 0)
        for key, members in sorted(iblocks.items()):
            children = {(row, col): db_addr[(key, row, col)]
                        for row, col, _h, _r, _p in members}
            # the child iblock's block offset = start of its covered range
            # (the root slot covers [slot_hoff, slot_hoff + rsize))
            rsize = start_size << (key[0] - 1)
            covered_start = (members[0][2] // rsize) * rsize
            body += render_iblock(ib_rows[key], children, covered_start)
        for key, row, col, hoff, rsize, payload in used:
            blob = bytearray(b"FHDB" + struct.pack("<B", 0)
                             + struct.pack("<Q", frhp_at)
                             + hoff.to_bytes(off_bytes, "little"))
            blob += payload
            blob += b"\x00" * (rsize - len(blob))
            assert len(blob) == rsize
            body += blob
        root_addr, cur_rows = base, root_rows
        managed_space = sum(u[4] for u in used)

    # ---- huge objects: raw bytes + type-1 v2 B-tree index ------------------
    n_huge = len(huge_set)
    huge_btree_addr = None
    huge_size_total = 0
    if n_huge:
        recs = []
        for hid, i in enumerate(sorted(huge_set), start=1):
            o = objects[i]
            addr = base + len(body)
            body += o
            huge_size_total += len(o)
            recs.append(struct.pack("<QQQ", addr, len(o), hid))
            heap_ids[i] = (bytes([0x10])
                           + hid.to_bytes(heap_id_len - 1, "little"))
        huge_btree_addr = base + len(body)
        bthd, nodes = _btree_v2_blob(recs, 24, 1, huge_btree_addr)
        body += bthd + nodes

    frhp = bytearray(b"FRHP")
    frhp += struct.pack("<BHHBI", 0, heap_id_len, 0, 0, max_obj)
    frhp += struct.pack("<Q", n_huge + 1)    # next huge id
    frhp += (struct.pack("<Q", huge_btree_addr) if huge_btree_addr is not None
             else _UNDEF8)                   # huge-object B-tree
    frhp += struct.pack("<Q", 0)             # free space (writer packs full)
    frhp += _UNDEF8                          # free-space manager
    frhp += struct.pack("<QQQQ", managed_space, managed_space, managed_space,
                        len(managed))        # managed/alloc/iter/#managed
    frhp += struct.pack("<QQQQ", huge_size_total, n_huge, 0, 0)
    frhp += struct.pack("<HQQHH", width, start_size, max_direct, 32,
                        max(cur_rows, 1))
    frhp += struct.pack("<Q", root_addr)
    frhp += struct.pack("<H", cur_rows)
    frhp += struct.pack("<I", _lookup3(bytes(frhp)))
    assert len(frhp) == _FRHP_SIZE
    return bytes(frhp), bytes(body), heap_ids


def _btree_v2_plan(n: int, rec_size: int, node_size: int):
    """Tree shape for n records at a fixed node size: (depth, max_nrec
    per level, cum_size per level, max_nrec_size) — the same capacity
    formulas the reader uses (``hdf5._btree_v2_capacities``)."""
    from .hdf5 import _btree_v2_capacities

    depth = 0
    while True:
        max_nrec_size, max_nrec, cum_max, cum_size = _btree_v2_capacities(
            node_size, rec_size, depth)
        if n <= cum_max[depth]:
            return depth, max_nrec, cum_size, max_nrec_size
        depth += 1
        if depth > 8:
            raise ValueError("v2 B-tree would exceed depth 8")


def _btree_v2_blob(records: list[bytes], rec_size: int, btype: int,
                   bthd_at: int, node_size: int | None = None):
    """v2 B-tree: BTHD header + nodes laid sequentially after it.
    ``records`` must already be hash-ordered. With ``node_size=None`` the
    tree is a single leaf grown to fit (the shape netcdf-c-sized groups
    take); an explicit node_size builds a genuine multi-level tree —
    every node occupies exactly node_size bytes on disk, records split
    evenly, separators promoted per level (HDF5 spec III.A.2)."""
    for r in records:
        assert len(r) == rec_size
    if node_size is None:
        btlf_at = bthd_at + _BTHD_SIZE
        leaf = bytearray(b"BTLF" + struct.pack("<BB", 0, btype))
        for r in records:
            leaf += r
        leaf += struct.pack("<I", _lookup3(bytes(leaf)))
        ns = 512
        while ns < len(leaf):
            ns *= 2
        hdr = bytearray(b"BTHD")
        hdr += struct.pack("<BBIHHBBQHQ", 0, btype, ns, rec_size, 0,
                           100, 40, btlf_at, len(records), len(records))
        hdr += struct.pack("<I", _lookup3(bytes(hdr)))
        assert len(hdr) == _BTHD_SIZE
        return bytes(hdr), bytes(leaf)

    depth, max_nrec, cum_size, max_nrec_size = _btree_v2_plan(
        len(records), rec_size, node_size)
    nodes: list[bytes] = []  # rendered bottom-up; addresses assigned after

    from .hdf5 import _btree_v2_capacities

    cum_max = _btree_v2_capacities(node_size, rec_size, depth)[2]

    def build(recs: list[bytes], d: int) -> tuple[int, int, int]:
        """Returns (node_index, records in this node, records in subtree)."""
        if d == 0:
            if len(recs) > max_nrec[0]:
                raise ValueError("leaf overflow in v2 B-tree plan")
            blob = bytearray(b"BTLF" + struct.pack("<BB", 0, btype))
            for r in recs:
                blob += r
            blob += struct.pack("<I", _lookup3(bytes(blob)))
            nodes.append(bytes(blob))
            return len(nodes) - 1, len(recs), len(recs)
        # children get even shares of the records; one separator between
        child_cap = cum_max[d - 1]
        c = max(2, -(-(len(recs) + 1) // (child_cap + 1)))
        if c - 1 > max_nrec[d]:
            raise ValueError("internal overflow in v2 B-tree plan")
        body = len(recs) - (c - 1)
        share, extra = divmod(body, c)
        children: list[tuple[int, int, int]] = []
        seps: list[bytes] = []
        pos = 0
        for k in range(c):
            take = share + (1 if k < extra else 0)
            children.append(build(recs[pos : pos + take], d - 1))
            pos += take
            if k < c - 1:
                seps.append(recs[pos])
                pos += 1
        blob = bytearray(b"BTIN" + struct.pack("<BB", 0, btype))
        for s in seps:
            blob += s
        for idx, own_nrec, total in children:
            blob += struct.pack("<Q", bthd_at + _BTHD_SIZE + idx * node_size)
            blob += own_nrec.to_bytes(max_nrec_size, "little")
            if d - 1 > 0:  # cumulative subtree count, internal children only
                blob += total.to_bytes(cum_size[d - 1], "little")
        blob += struct.pack("<I", _lookup3(bytes(blob)))
        nodes.append(bytes(blob))
        return len(nodes) - 1, len(seps), len(recs)

    root_idx, root_nrec, _total = build(list(records), depth)
    out = bytearray()
    for nd in nodes:
        if len(nd) > node_size:
            raise ValueError("v2 B-tree node exceeds node_size")
        out += nd + b"\x00" * (node_size - len(nd))
    hdr = bytearray(b"BTHD")
    hdr += struct.pack("<BBIHHBBQHQ", 0, btype, node_size, rec_size, depth,
                       100, 40, bthd_at + _BTHD_SIZE + root_idx * node_size,
                       root_nrec, len(records))
    hdr += struct.pack("<I", _lookup3(bytes(hdr)))
    assert len(hdr) == _BTHD_SIZE
    return bytes(hdr), bytes(out)


def _msg(mtype: int, body: bytes) -> bytes:
    body = _pad8(body)
    return struct.pack("<HHB3x", mtype, len(body), 0) + body


def _dataspace(shape) -> bytes:
    return struct.pack("<BBB5x", 1, len(shape), 0) + b"".join(
        struct.pack("<Q", s) for s in shape
    )


def _datatype(kind: str, strlen: int = 0) -> bytes:
    if kind == "f8":
        return struct.pack("<B3BIHHBBBBI", 0x11, 0x20, 0x3F, 0, 8, 0, 64, 52, 11, 0, 52, 1023)
    if kind == "f4":
        return struct.pack("<B3BIHHBBBBI", 0x11, 0x20, 0x1F, 0, 4, 0, 32, 23, 8, 0, 23, 127)
    if kind == "i8":
        return struct.pack("<B3BIHH", 0x10, 0x08, 0, 0, 8, 0, 64)
    if kind == "i4":
        return struct.pack("<B3BIHH", 0x10, 0x08, 0, 0, 4, 0, 32)
    if kind == "str":
        return struct.pack("<B3BI", 0x13, 0, 0, 0, strlen)
    if kind == "ref":
        return struct.pack("<B3BI", 0x17, 0, 0, 0, 8)
    if kind == "vlen_ref":
        return struct.pack("<B3BI", 0x19, 0, 0, 0, 16) + _datatype("ref")
    raise ValueError(f"unknown datatype kind {kind}")


_KIND_FOR = {"f8": "<f8", "f4": "<f4", "i8": "<i8", "i4": "<i4"}


def _value_bytes(value):
    """(datatype bytes, dataspace bytes, payload) for an attribute value."""
    if isinstance(value, str):
        raw = value.encode() + b"\x00"
        return _datatype("str", len(raw)), _dataspace(()), raw
    if isinstance(value, int):
        return _datatype("i8"), _dataspace(()), struct.pack("<q", value)
    if isinstance(value, float):
        return _datatype("f8"), _dataspace(()), struct.pack("<d", value)
    raise ValueError(f"unsupported attribute value {value!r}")


def _attr(name: str, dt: bytes, ds: bytes, payload: bytes) -> bytes:
    nm = name.encode() + b"\x00"
    head = struct.pack("<BxHHH", 1, len(nm), len(dt), len(ds))
    return _msg(0x0C, head + _pad8(nm) + _pad8(dt) + _pad8(ds) + payload)


def _fill_undefined() -> bytes:
    return _msg(0x05, struct.pack("<BBBB", 2, 2, 0, 0))


def _ohdr_v1(messages: list[bytes]) -> bytes:
    body = b"".join(messages)
    return struct.pack("<BxHII4x", 1, len(messages), 1, len(body)) + body


def _filters_shuffle_deflate(elem_size: int, level: int) -> bytes:
    ent = b""
    ent += struct.pack("<HHHHI4x", 2, 0, 0, 1, elem_size)   # shuffle
    ent += struct.pack("<HHHHI4x", 1, 0, 0, 1, level)       # deflate
    return _msg(0x0B, struct.pack("<BB6x", 1, 2) + ent)


def _filters_shuffle_zstd(elem_size: int) -> bytes:
    from ..compress.zstd import LEVEL  # the level zstd_compress encodes at

    name = b"zstd\x00\x00\x00\x00"  # padded to a multiple of 8
    ent = struct.pack("<HHHHI4x", 2, 0, 0, 1, elem_size)  # shuffle
    ent += struct.pack("<HHHH", 32015, len(name), 1, 1) + name
    ent += struct.pack("<I4x", LEVEL)  # odd ncv: 4-byte pad
    return _msg(0x0B, struct.pack("<BB6x", 1, 2) + ent)


def _filters_bitshuffle_lz4(elem_size: int) -> bytes:
    # registered filter 32008, cd_values per bshuf_h5filter.c:
    # (major, minor, elem_size, block_size 0=default, compressor 2=lz4)
    name = b"bitshuffle\x00\x00\x00\x00\x00\x00"  # padded to a multiple of 8
    ent = struct.pack("<HHHH", 32008, len(name), 1, 5) + name
    ent += struct.pack("<5I4x", 0, 4, elem_size, 0, 2)  # odd ncv: 4-byte pad
    return _msg(0x0B, struct.pack("<BB6x", 1, 1) + ent)


def write_hdf5(
    columns: dict[str, np.ndarray],
    dim: str,
    global_attrs: dict | None = None,
    var_attrs: dict | None = None,
    chunk_rows: int | None = None,
    compress_level: int = 4,
    dense_links: bool = False,
    dense_attrs: bool = False,
    codec: str = "deflate",
    btree_node_size: int | None = None,
    heap_block_size: int | None = None,
    heap_huge_threshold: int | None = None,
) -> bytes:
    """Serialize aligned 1-D columns into one HDF5/NetCDF-4-style file.

    ``columns[dim]`` is the coordinate variable (written as a dimension
    scale); every other column gets a ``DIMENSION_LIST`` pointing at it.
    ``chunk_rows`` switches data variables to chunked filtered storage
    (the dimension scale stays contiguous, like netcdf-c); ``codec``
    selects shuffle+deflate (default), ``"bitshuffle_lz4"`` (registered
    filter 32008 with its LZ4 framing), or ``"zstd"`` (shuffle +
    registered filter 32015); ``compress_level`` is the deflate level.
    ``btree_node_size`` forces the dense link index into a real
    multi-level v2 B-tree of that node size (None → single grown leaf, the
    netcdf-c-sized shape)."""
    if codec not in ("deflate", "bitshuffle_lz4", "zstd"):
        raise ValueError(f"unknown codec {codec!r}")
    global_attrs = dict(global_attrs or {})
    var_attrs = {k: dict(v) for k, v in (var_attrs or {}).items()}
    if dim not in columns:
        raise ValueError(f"dimension column {dim!r} missing")
    n = len(columns[dim])
    for name, a in columns.items():
        if a.ndim != 1 or len(a) != n:
            raise ValueError(f"column {name!r} is not an aligned 1-D array")

    names = sorted(columns)  # symbol tables are name-ordered
    prepared = {}
    for name in names:
        a = np.ascontiguousarray(columns[name])
        if a.dtype.kind == "M":  # CF time encoding, like the classic writer
            from .cf import encode_cf_micros

            a = encode_cf_micros(a)
            var_attrs.setdefault(name, {}).setdefault(
                "units", "microseconds since 1970-01-01 00:00:00"
            )
        if a.dtype.kind == "f":
            kind = "f8" if a.dtype.itemsize == 8 else "f4"
            a = a.astype(_KIND_FOR[kind])
        elif a.dtype.kind in ("i", "u"):
            kind = "i8" if a.dtype.itemsize >= 8 else "i4"
            a = a.astype(_KIND_FOR[kind])
        elif a.dtype.kind in ("U", "O", "S"):
            enc = np.array([str(x).encode() for x in a.tolist()])
            kind = "str"
            a = enc.astype(f"S{max(enc.dtype.itemsize, 1)}")
        else:
            raise ValueError(f"unsupported column dtype {a.dtype}")
        prepared[name] = (kind, a)

    # ---- plan the file layout (sizes first, then addresses) ---------------
    if dense_links:
        # dense root group: link messages live in a fractal heap indexed by
        # a v2 B-tree; the root header carries a Link Info message instead
        # of the v1 symbol-table message. Sizes are address-independent
        # (each link msg = 2 + 1 + len(name) + 8 bytes), so the heap/btree
        # region is laid out BEFORE dataset addresses exist and rendered
        # after they do.
        link_sizes = {nm: 2 + 1 + len(nm.encode()) + 8 for nm in names}
        off_frhp_l = 96
        if heap_block_size is None and heap_huge_threshold is None:
            hdr17 = 4 + 1 + 8 + 4
            dblock_size_l = 512
            while dblock_size_l < hdr17 + sum(link_sizes.values()):
                dblock_size_l *= 2
        else:  # dry run: body size depends only on object sizes + order
            dummy = [b"\x00" * link_sizes[nm] for nm in names]
            dblock_size_l = len(_fractal_heap_blob(
                dummy, off_frhp_l, 7, heap_block_size,
                heap_huge_threshold)[1])
        off_bthd_l = off_frhp_l + _FRHP_SIZE + dblock_size_l
        if btree_node_size is None:
            btlf_size_l = 6 + 11 * len(names) + 4
        else:  # dry-run plan: node count depends only on the record count
            btlf_size_l = len(_btree_v2_blob([b"\x00" * 11] * len(names),
                                             11, 5, 0, btree_node_size)[1])
        cursor0 = off_bthd_l + _BTHD_SIZE + btlf_size_l
        root_msgs = [_msg(0x02, struct.pack("<BBQQ", 0, 0, off_frhp_l, off_bthd_l))]
        if dense_attrs:
            attr_objs = []
            for k, v in global_attrs.items():
                dt, ds, payload = _value_bytes(v)
                nm = k.encode() + b"\x00"
                head = struct.pack("<BxHHH", 1, len(nm), len(dt), len(ds))
                attr_objs.append(head + _pad8(nm) + _pad8(dt) + _pad8(ds) + payload)
            off_frhp_a = cursor0
            hdr18 = 4 + 1 + 8 + 4
            dblock_size_a = 512
            while dblock_size_a < hdr18 + sum(len(o) for o in attr_objs):
                dblock_size_a *= 2
            off_bthd_a = off_frhp_a + _FRHP_SIZE + dblock_size_a
            btlf_size_a = 6 + 17 * len(attr_objs) + 4
            cursor0 = off_bthd_a + _BTHD_SIZE + btlf_size_a
            root_msgs.append(_msg(0x15, struct.pack("<BBQQ", 0, 0,
                                                    off_frhp_a, off_bthd_a)))
        else:
            for k, v in global_attrs.items():
                dt, ds, payload = _value_bytes(v)
                root_msgs.append(_attr(k, dt, ds, payload))
        root_ohdr = _ohdr_v1(root_msgs)
        off_root_ohdr = cursor0
    else:
        if dense_attrs:
            raise ValueError("dense_attrs requires dense_links")
        # heap: 8 reserved bytes, then each name nul-terminated, padded to 8
        heap_offsets, hoff = {}, 8
        for name in names:
            heap_offsets[name] = hoff
            hoff += len(_pad8(name.encode() + b"\x00"))
        heap_data_size = hoff

        n_per_snod = 8  # group leaf K = 4
        snod_groups = [names[i : i + n_per_snod] for i in range(0, len(names), n_per_snod)]
        btree_size = 24 + 8 * (2 * len(snod_groups) + 1)
        snod_size = 8 + 40 * n_per_snod

        off_heap_hdr = 96
        off_heap_data = off_heap_hdr + 32
        off_btree = off_heap_data + heap_data_size
        off_snods = off_btree + btree_size
        off_root_ohdr = off_snods + snod_size * len(snod_groups)

        root_msgs = [_msg(0x11, struct.pack("<QQ", off_btree, off_heap_hdr))]
        for k, v in global_attrs.items():
            dt, ds, payload = _value_bytes(v)
            root_msgs.append(_attr(k, dt, ds, payload))
        root_ohdr = _ohdr_v1(root_msgs)

    # ---- per-dataset: build messages with placeholder addresses, measure,
    # then assign data addresses and re-render -------------------------------
    cursor = off_root_ohdr + len(root_ohdr)
    ds_addr: dict[str, int] = {}
    renders: list[tuple[int, bytes]] = [(off_root_ohdr, root_ohdr)]
    gheap_objects: list[bytes] = []  # rendered later; one per DIMENSION_LIST

    data_blobs: dict[str, tuple] = {}
    for name in names:
        kind, a = prepared[name]
        use_chunks = chunk_rows is not None and name != dim and kind != "str"
        if use_chunks:
            nchunks = -(-n // chunk_rows) if n else 0
            if nchunks > 64:
                raise ValueError(
                    f"{name!r}: {nchunks} chunks exceeds the single-node "
                    "B-tree cap (64) — raise chunk_rows"
                )
            blobs = []
            for ci in range(nchunks):
                part = a[ci * chunk_rows : (ci + 1) * chunk_rows]
                if len(part) < chunk_rows:  # HDF5 stores full-size edge chunks
                    part = np.concatenate([part, np.zeros(chunk_rows - len(part), a.dtype)])
                raw = part.tobytes()
                es = a.dtype.itemsize
                if codec == "bitshuffle_lz4":
                    from ..compress.bitshuffle import bshuf_compress

                    blobs.append(bshuf_compress(raw, es))
                elif codec == "zstd":
                    from ..compress.zstd import zstd_compress

                    shuf = np.frombuffer(raw, np.uint8).reshape(chunk_rows, es).T.tobytes()
                    blobs.append(zstd_compress(shuf))
                else:
                    shuf = np.frombuffer(raw, np.uint8).reshape(chunk_rows, es).T.tobytes()
                    blobs.append(zlib.compress(shuf, compress_level))
            data_blobs[name] = ("chunked", blobs)
        else:
            data_blobs[name] = ("contiguous", a.tobytes())

    def dataset_ohdr(name, data_addr, gheap_addr, gheap_index):
        kind, a = prepared[name]
        es = a.dtype.itemsize
        msgs = [
            _msg(0x01, _dataspace((n,))),
            _msg(0x03, _datatype(kind, strlen=es if kind == "str" else 0)),
            _fill_undefined(),
        ]
        storage, payload = data_blobs[name]
        if storage == "chunked":
            if codec == "bitshuffle_lz4":
                msgs.append(_filters_bitshuffle_lz4(es))
            elif codec == "zstd":
                msgs.append(_filters_shuffle_zstd(es))
            else:
                msgs.append(_filters_shuffle_deflate(es, compress_level))
            msgs.append(_msg(0x08, struct.pack("<BBBQII", 3, 2, 2, data_addr,
                                               chunk_rows, es)))
        else:
            msgs.append(_msg(0x08, struct.pack("<BBQQ", 3, 1, data_addr, len(payload))))
        if name == dim:
            msgs.append(_attr("CLASS", *_value_bytes("DIMENSION_SCALE")))
            msgs.append(_attr("NAME", *_value_bytes(name)))
        else:
            vl = struct.pack("<IQI", 1, gheap_addr, gheap_index)
            msgs.append(_attr("DIMENSION_LIST", _datatype("vlen_ref"), _dataspace((1,)), vl))
        for k, v in var_attrs.get(name, {}).items():
            msgs.append(_attr(k, *_value_bytes(v)))
        return _ohdr_v1(msgs)

    # measure each ohdr with dummy addresses (sizes are address-independent)
    sizes = {name: len(dataset_ohdr(name, 0, 0, 1)) for name in names}

    # lay out: [ohdr][data] per dataset, then the global heap collection
    plan: dict[str, tuple] = {}
    for name in names:
        ohdr_at = cursor
        cursor += sizes[name]
        storage, payload = data_blobs[name]
        if storage == "chunked":
            blobs = payload
            btree_at = cursor
            key_sz = 8 + 8 * 2  # size+mask + (rank+1) offsets
            cursor += 24 + len(blobs) * (key_sz + 8) + key_sz
            chunk_at = []
            for b in blobs:
                chunk_at.append(cursor)
                cursor += len(b)
            plan[name] = (ohdr_at, btree_at, chunk_at)
        else:
            plan[name] = (ohdr_at, cursor, None)
            cursor += len(payload)
        ds_addr[name] = ohdr_at

    gheap_at = cursor
    gheap_size = 4096

    # render datasets with real addresses
    gheap_index = 0
    gheap_payloads = []
    for name in names:
        ohdr_at, data_at, chunk_at = plan[name]
        if name != dim:
            gheap_index += 1
            gheap_payloads.append(struct.pack("<Q", ds_addr[dim]))
            gi = gheap_index
        else:
            gi = 0
        body = dataset_ohdr(name, data_at, gheap_at, gi)
        assert len(body) == sizes[name]
        renders.append((ohdr_at, body))
        storage, payload = data_blobs[name]
        if storage == "chunked":
            node = bytearray(b"TREE" + struct.pack("<BBH", 1, 0, len(payload)))
            node += _UNDEF8 + _UNDEF8
            for ci, b in enumerate(payload):
                node += struct.pack("<IIQQ", len(b), 0, ci * chunk_rows, 0)
                node += struct.pack("<Q", chunk_at[ci])
            node += struct.pack("<IIQQ", 0, 0, n, 0)  # final key
            renders.append((data_at, bytes(node)))
            for ci, b in enumerate(payload):
                renders.append((chunk_at[ci], b))
        else:
            renders.append((data_at, payload))

    # global heap collection
    g = bytearray(b"GCOL" + struct.pack("<B3xQ", 1, gheap_size))
    for i, p in enumerate(gheap_payloads, start=1):
        g += struct.pack("<HH4xQ", i, 1, len(p)) + _pad8(p)
    free = gheap_size - len(g)
    g += struct.pack("<HH4xQ", 0, 0, free)  # free-space terminator
    g += b"\x00" * (gheap_size - len(g))
    renders.append((gheap_at, bytes(g)))
    eof = gheap_at + gheap_size

    # ---- fixed front matter ----------------------------------------------
    buf = bytearray(eof)
    sb = bytearray()
    sb += _SIG
    sb += struct.pack("<BBBxB BBx HH I", 0, 0, 0, 0, 8, 8, 4, 16, 0)
    sb += struct.pack("<Q", 0) + _UNDEF8 + struct.pack("<Q", eof) + _UNDEF8
    # root symbol table entry
    sb += struct.pack("<QQI4x16x", 0, off_root_ohdr, 0)
    assert len(sb) == 96
    buf[0:96] = sb

    if dense_links:
        link_objs = [
            struct.pack("<BBB", 1, 0, len(nm.encode())) + nm.encode()
            + struct.pack("<Q", ds_addr[nm])
            for nm in names
        ]
        frhp, dblk, hids = _fractal_heap_blob(link_objs, off_frhp_l, 7,
                                              heap_block_size,
                                              heap_huge_threshold)
        pairs = sorted(
            (( _lookup3(nm.encode()), hid) for nm, hid in zip(names, hids)),
            key=lambda t: t[0],
        )
        recs = [struct.pack("<I", h) + hid for h, hid in pairs]
        bthd, btlf = _btree_v2_blob(recs, 11, 5, off_bthd_l,
                                    btree_node_size)
        for at, blob in ((off_frhp_l, frhp), (off_frhp_l + _FRHP_SIZE, dblk),
                         (off_bthd_l, bthd), (off_bthd_l + _BTHD_SIZE, btlf)):
            buf[at : at + len(blob)] = blob
        if dense_attrs:
            frhp_a, dblk_a, hids_a = _fractal_heap_blob(attr_objs, off_frhp_a, 8)
            pairs_a = sorted(
                ((_lookup3(k.encode()), i, hid)
                 for i, (k, hid) in enumerate(zip(global_attrs, hids_a))),
                key=lambda t: t[0],
            )
            recs_a = [hid + b"\x00" + struct.pack("<II", i, h)
                      for h, i, hid in pairs_a]
            bthd_a, btlf_a = _btree_v2_blob(recs_a, 17, 8, off_bthd_a)
            for at, blob in ((off_frhp_a, frhp_a),
                             (off_frhp_a + _FRHP_SIZE, dblk_a),
                             (off_bthd_a, bthd_a),
                             (off_bthd_a + _BTHD_SIZE, btlf_a)):
                buf[at : at + len(blob)] = blob
    else:
        heap_hdr = b"HEAP" + struct.pack("<B3xQQQ", 0, heap_data_size, 2**64 - 1 - 0, off_heap_data)
        buf[off_heap_hdr : off_heap_hdr + 32] = heap_hdr[:32]
        hdata = bytearray(b"\x00" * 8)
        for name in names:
            hdata += _pad8(name.encode() + b"\x00")
        buf[off_heap_data : off_heap_data + heap_data_size] = hdata

        bt = bytearray(b"TREE" + struct.pack("<BBH", 0, 0, len(snod_groups)))
        bt += _UNDEF8 + _UNDEF8
        bt += struct.pack("<Q", 0)  # key 0: offset of "" (≤ everything)
        for gi, group in enumerate(snod_groups):
            bt += struct.pack("<Q", off_snods + gi * snod_size)
            bt += struct.pack("<Q", heap_offsets[group[-1]])  # key: last name in child
        buf[off_btree : off_btree + len(bt)] = bt

        for gi, group in enumerate(snod_groups):
            sn = bytearray(b"SNOD" + struct.pack("<BxH", 1, len(group)))
            for name in group:
                sn += struct.pack("<QQI4x16x", heap_offsets[name], ds_addr[name], 0)
            sn += b"\x00" * (snod_size - len(sn))
            buf[off_snods + gi * snod_size : off_snods + (gi + 1) * snod_size] = sn

    for off, blob in renders:
        buf[off : off + len(blob)] = blob
    return bytes(buf)


class NetCDF4DatasetWriter:
    """Engine sink: every partition becomes one NetCDF-4-style .nc part
    via :func:`write_hdf5` — the HDF5 twin of
    ``netcdf3.NetCDF3DatasetWriter`` (same per-partition render contract;
    ``chunk_rows`` turns on chunked shuffle+deflate storage)."""

    def __init__(self, attrs: dict | None = None, var_attrs: dict | None = None,
                 dim: str = "time", partitions: int | None = None,
                 chunk_rows: int | None = None, compress_level: int = 4,
                 codec: str = "deflate"):
        self.attrs = dict(attrs or {})
        self.var_attrs = {k: dict(v) for k, v in (var_attrs or {}).items()}
        self.dim = dim
        self.partitions = partitions
        self.chunk_rows = chunk_rows
        self.compress_level = compress_level
        self.codec = codec

    def write(self, df, path: str) -> list:
        from .fs import write_binary_parts

        attrs, var_attrs, dim = self.attrs, self.var_attrs, self.dim
        chunk_rows, level, codec = self.chunk_rows, self.compress_level, self.codec

        def render_blob(pdf) -> bytes:
            cols = {c: pdf[c].to_numpy() for c in pdf.columns}
            return write_hdf5(cols, dim=dim, global_attrs=attrs,
                              var_attrs=var_attrs, chunk_rows=chunk_rows,
                              compress_level=level, codec=codec)

        return write_binary_parts(df, path, render_blob, partitions=self.partitions)

    __call__ = write
