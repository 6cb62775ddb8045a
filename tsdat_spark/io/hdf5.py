"""Pure-Python read-only HDF5 subset parser — NetCDF-4 ingest without h5py.

tsdat's NetCDFReader (``tsdat/io/readers/netcdf_reader.py:10-21``) reads
NetCDF-4 files, which are HDF5 containers; this image ships no h5py or
netCDF4, so this module implements the subset of the public HDF5 File
Format Specification (https://support.hdfgroup.org/documentation/hdf5/
latest/_f_m_t3.html) that NetCDF-4 writers actually produce:

- superblock v0/v2/v3
- object headers v1 and v2 (``OHDR``/``OCHK``), message continuation
- groups as v1 symbol tables (``TREE``/``HEAP``/``SNOD``), v2 compact
  Link messages, AND dense storage (fractal heap ``FRHP``/``FHDB``/
  ``FHIB`` + v2 B-tree ``BTHD``/``BTLF``/``BTIN`` name index, ANY depth
  via the spec's per-level child-pointer capacity formulas) for both
  links and attributes — the 'new style' shape netcdf-c emits past 8
  links per group — with the full heap object menu: managed (doubling
  table incl. recursive indirect child blocks), HUGE (type-1 v2 B-tree
  indexed) and TINY (data embedded in the heap ID); I/O-filtered heaps
  raise the named boundary
- dataspace v1/v2; datatypes: fixed-point, IEEE float, fixed string,
  object reference, VLEN (string and reference sequence)
- data layouts: compact, contiguous, v3 chunked (B-tree v1) and v4
  chunked (single-chunk and implicit index)
- filter pipeline v1/v2: deflate (stdlib zlib), shuffle, fletcher32
  (checksum stripped), zstd (filter 32015, libzstd via ``compress/zstd``),
  bitshuffle (filter 32008, plain or LZ4/zstd-framed, from-spec
  ``compress/bitshuffle``); other filters raise with the filter id
- global heap (``GCOL``) for VLEN attribute/dataset payloads

The result shape matches ``netcdf3.read_netcdf3``: (dims, global_attrs,
{var: {"dims": [...], "attrs": {...}, "array": np.ndarray}}), with
NetCDF-4 dimension names recovered from the DIMENSION_SCALE/
DIMENSION_LIST convention, so the Spark-side NetCDF reader is codec-
agnostic. Scale note: parsing happens per file inside Spark tasks (the
reader fans out over files via binaryFile), never on the driver.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

import numpy as np

_SIG = b"\x89HDF\r\n\x1a\n"
_UNDEF = 0xFFFFFFFFFFFFFFFF


class Hdf5Boundary(NotImplementedError):
    """A valid HDF5 structure outside the implemented NetCDF-4 subset."""


@dataclass
class _Dataset:
    name: str
    shape: tuple
    dtype_info: dict
    layout: dict
    filters: list
    attrs: dict
    fillvalue: object = None
    addr: int = -1


def _u(data, off, n):
    return int.from_bytes(data[off : off + n], "little")


# -- object header ----------------------------------------------------------


def _parse_messages_v1(data, off, hdr_size, nmsgs):
    """v1 message stream (8-byte aligned, 2-byte type)."""
    msgs = []
    blocks = [(off, hdr_size)]
    while blocks and len(msgs) < nmsgs:
        boff, bsize = blocks.pop(0)
        p, end = boff, boff + bsize
        while p + 8 <= end and len(msgs) < nmsgs:
            mtype, msize, mflags = struct.unpack_from("<HHB", data, p)
            body = p + 8
            if mtype == 0x10:  # continuation
                cof, clen = _u(data, body, 8), _u(data, body + 8, 8)
                blocks.append((cof, clen))
            else:
                msgs.append((mtype, body, msize))
            p = body + msize
    return msgs


def _parse_messages_v2(data, off):
    """v2 ``OHDR`` message stream (1-byte type, optional creation order)."""
    if data[off : off + 4] != b"OHDR":
        raise ValueError("expected OHDR signature")
    p = off + 4
    version, flags = data[p], data[p + 1]
    p += 2
    if version != 2:
        raise Hdf5Boundary(f"object header v{version} inside OHDR")
    if flags & 0x20:
        p += 16  # times
    if flags & 0x10:
        p += 4  # attr phase-change
    cl = 1 << (flags & 0x3)
    chunk0 = _u(data, p, cl)
    p += cl
    track_order = bool(flags & 0x4)
    msgs = []
    hdr_len = 6 if track_order else 4
    blocks = [(p, chunk0)]
    while blocks:
        boff, bsize = blocks.pop(0)
        p, end = boff, boff + bsize
        # trailing bytes smaller than one message header are a spec'd gap
        while end - p >= hdr_len:
            mtype, msize, mflags = struct.unpack_from("<BHB", data, p)
            p += 4
            if track_order:
                p += 2
            body = p
            if mtype == 0x10:
                cof, clen = _u(data, body, 8), _u(data, body + 8, 8)
                # continuation block: OCHK sig + messages + 4B checksum
                blocks.append((cof + 4, clen - 8))
            elif mtype != 0x00:
                msgs.append((mtype, body, msize))
            p = body + msize
    return msgs


def _object_messages(data, addr):
    ver = data[addr]
    if data[addr : addr + 4] == b"OHDR":
        return _parse_messages_v2(data, addr)
    if ver == 1:
        nmsgs = struct.unpack_from("<H", data, addr + 2)[0]
        hdr_size = struct.unpack_from("<I", data, addr + 8)[0]
        return _parse_messages_v1(data, addr + 16, hdr_size, nmsgs)
    raise Hdf5Boundary(f"object header version {ver}")


# -- message decoders -------------------------------------------------------


def _parse_dataspace(data, off):
    version = data[off]
    rank = data[off + 1]
    flags = data[off + 2]
    if version == 1:
        p = off + 8
    elif version == 2:
        p = off + 4
    else:
        raise Hdf5Boundary(f"dataspace version {version}")
    dims = tuple(_u(data, p + 8 * i, 8) for i in range(rank))
    return dims


def _parse_datatype(data, off):
    cv = data[off]
    version, cls = cv >> 4, cv & 0xF
    bits = _u(data, off + 1, 3)
    size = struct.unpack_from("<I", data, off + 4)[0]
    p = off + 8
    if cls == 0:  # fixed-point
        signed = bool(bits & 0x8)
        if bits & 0x1:
            raise Hdf5Boundary("big-endian fixed-point datatype")
        return {"class": "int", "size": size, "signed": signed, "end": p + 4}
    if cls == 1:  # floating-point
        if bits & 0x1:
            raise Hdf5Boundary("big-endian float datatype")
        if size not in (4, 8):
            raise Hdf5Boundary(f"float size {size}")
        return {"class": "float", "size": size, "end": p + 12}
    if cls == 3:  # fixed string
        return {"class": "string", "size": size, "end": p}
    if cls == 7:  # reference
        return {"class": "ref", "size": size, "end": p}
    if cls == 9:  # variable-length
        vtype = bits & 0xF
        base = _parse_datatype(data, p)
        kind = "vlen_str" if vtype == 1 else "vlen_seq"
        return {"class": kind, "size": size, "base": base, "end": base["end"]}
    if cls == 6:  # compound — tolerated in attributes (e.g. the netCDF
        # REFERENCE_LIST back-pointers), boundary as a dataset type
        return {"class": "compound", "size": size, "end": p}
    raise Hdf5Boundary(f"datatype class {cls}")


def _np_dtype(dt):
    if dt["class"] == "int":
        return np.dtype(f"<{'i' if dt['signed'] else 'u'}{dt['size']}")
    if dt["class"] == "float":
        return np.dtype(f"<f{dt['size']}")
    if dt["class"] == "string":
        return np.dtype(f"S{dt['size']}")
    if dt["class"] == "ref":
        return np.dtype("<u8")
    raise Hdf5Boundary(f"no numpy dtype for {dt['class']}")


def _parse_layout(data, off):
    version = data[off]
    if version == 3:
        cls = data[off + 1]
        p = off + 2
        if cls == 0:
            size = struct.unpack_from("<H", data, p)[0]
            return {"class": "compact", "off": p + 2, "size": size}
        if cls == 1:
            return {"class": "contiguous", "addr": _u(data, p, 8), "size": _u(data, p + 8, 8)}
        if cls == 2:
            ndim = data[p]
            addr = _u(data, p + 1, 8)
            sizes = struct.unpack_from(f"<{ndim}I", data, p + 9)
            return {"class": "chunked", "btree": addr,
                    "chunk": tuple(sizes[:-1]), "elem": sizes[-1]}
    if version == 4:
        cls = data[off + 1]
        p = off + 2
        if cls == 2:
            flags = data[p]
            ndim = data[p + 1]
            enc = data[p + 2]
            p += 3
            chunk = tuple(_u(data, p + i * enc, enc) for i in range(ndim))
            p += ndim * enc
            itype = data[p]
            p += 1
            if itype == 1:  # single chunk
                if flags & 0x2:
                    csize = _u(data, p, 8)
                    p += 8
                    fmask = struct.unpack_from("<I", data, p)[0]
                    p += 4
                else:
                    csize, fmask = None, 0
                return {"class": "chunked4_single", "addr": _u(data, p, 8),
                        "chunk": chunk[:-1], "elem": chunk[-1],
                        "csize": csize, "fmask": fmask}
            if itype == 2:  # implicit
                return {"class": "chunked4_implicit", "addr": _u(data, p, 8),
                        "chunk": chunk[:-1], "elem": chunk[-1]}
            raise Hdf5Boundary(f"layout v4 chunk index type {itype}")
    raise Hdf5Boundary(f"data layout version {version}/class {data[off + 1]}")


def _parse_filters(data, off):
    version = data[off]
    out = []
    if version == 1:
        nf = data[off + 1]
        p = off + 8
        for _ in range(nf):
            fid, nlen, fflags, ncv = struct.unpack_from("<4H", data, p)
            p += 8
            p += (nlen + 7) & ~7
            out.append((fid, struct.unpack_from(f"<{ncv}I", data, p)))
            p += ncv * 4
            if ncv % 2:
                p += 4
    elif version == 2:
        nf = data[off + 1]
        p = off + 2
        for _ in range(nf):
            fid = struct.unpack_from("<H", data, p)[0]
            p += 2
            nlen = 0
            if fid >= 256:
                nlen = struct.unpack_from("<H", data, p)[0]
                p += 2
            fflags, ncv = struct.unpack_from("<2H", data, p)
            p += 4 + nlen
            out.append((fid, struct.unpack_from(f"<{ncv}I", data, p)))
            p += ncv * 4
    else:
        raise Hdf5Boundary(f"filter pipeline version {version}")
    return out


def _global_heap_object(data, gaddr, gindex):
    if data[gaddr : gaddr + 4] != b"GCOL":
        raise ValueError("bad global heap signature")
    size = _u(data, gaddr + 8, 8)
    p = gaddr + 16
    end = gaddr + size
    while p + 16 <= end:
        idx, refc = struct.unpack_from("<HH", data, p)
        osize = _u(data, p + 8, 8)
        if idx == 0:
            break
        if idx == gindex:
            return data[p + 16 : p + 16 + osize]
        p += 16 + ((osize + 7) & ~7)
    raise ValueError(f"global heap object {gindex} not found")


def _read_vlen(data, off, base_cls):
    """One 16-byte VLEN element: count(4) + gheap addr(8) + index(4)."""
    count = struct.unpack_from("<I", data, off)[0]
    gaddr = _u(data, off + 4, 8)
    gindex = struct.unpack_from("<I", data, off + 12)[0]
    if count == 0 or gaddr in (0, _UNDEF):
        return "" if base_cls == "vlen_str" else []
    payload = _global_heap_object(data, gaddr, gindex)
    if base_cls == "vlen_str":
        return payload[:count].decode("utf-8", "replace")
    return [(_u(payload, 8 * i, 8)) for i in range(count)]


def _attr_value(data, dt, dims, voff):
    n = int(np.prod(dims)) if dims else 1
    cls = dt["class"]
    if cls == "compound":
        return None  # kept only so hidden bookkeeping attrs parse past
    if cls in ("vlen_str", "vlen_seq"):
        vals = [_read_vlen(data, voff + 16 * i, cls) for i in range(n)]
    elif cls == "string":
        sz = dt["size"]
        vals = [
            data[voff + sz * i : voff + sz * (i + 1)].split(b"\x00")[0].decode("utf-8", "replace")
            for i in range(n)
        ]
    else:
        arr = np.frombuffer(data, dtype=_np_dtype(dt), count=n, offset=voff)
        vals = arr.tolist()
    if not dims:
        return vals[0]
    return vals if len(vals) > 1 else vals[0]


def _parse_attribute(data, off):
    version = data[off]
    if version == 1:
        name_size, dt_size, ds_size = struct.unpack_from("<3H", data, off + 2)
        p = off + 8
        name = data[p : p + name_size].split(b"\x00")[0].decode()
        p += (name_size + 7) & ~7
        dt = _parse_datatype(data, p)
        p += (dt_size + 7) & ~7
        dims = _parse_dataspace(data, p)
        p += (ds_size + 7) & ~7
    elif version in (2, 3):
        flags = data[off + 1]
        name_size, dt_size, ds_size = struct.unpack_from("<3H", data, off + 2)
        p = off + 8 + (1 if version == 3 else 0)
        name = data[p : p + name_size].split(b"\x00")[0].decode()
        p += name_size
        if flags & 0x1:
            raise Hdf5Boundary("shared attribute datatype")
        dt = _parse_datatype(data, p)
        p += dt_size
        dims = _parse_dataspace(data, p)
        p += ds_size
    else:
        raise Hdf5Boundary(f"attribute message version {version}")
    return name, _attr_value(data, dt, dims, p)


def _parse_link(data, off):
    version, flags = data[off], data[off + 1]
    if version != 1:
        raise Hdf5Boundary(f"link message version {version}")
    p = off + 2
    ltype = 0
    if flags & 0x8:
        ltype = data[p]
        p += 1
    if flags & 0x4:
        p += 8
    if flags & 0x10:
        p += 1
    lsz = 1 << (flags & 0x3)
    nlen = _u(data, p, lsz)
    p += lsz
    name = data[p : p + nlen].decode()
    p += nlen
    if ltype == 0:
        return name, _u(data, p, 8)
    return name, None  # soft/external links ignored


# -- fractal heap + v2 B-tree (dense link/attribute storage) ----------------


def _fractal_heap_resolver(data, addr):
    """Parse a fractal heap header (``FRHP``) → (resolve, heap_id_len)
    where ``resolve(heap_id) -> (buffer, offset, length)`` of the object's
    bytes. Managed objects ride the doubling table — root direct block,
    root indirect block, and recursive INDIRECT child blocks (row sizes
    ``S, S, 2S, 4S …``; a child indirect block in row k covers the row's
    block size with ``log2(rsize) - log2(S·width) + 1`` sub-rows, per the
    H5HF doubling-table construction in spec III.E/F). Huge objects
    (ID type 1) resolve through the heap's type-1 v2 B-tree
    (addr + length + id records); tiny objects (ID type 2, normal
    sub-type) are returned straight out of the heap ID. I/O-filtered
    heaps and extended tiny IDs raise the named boundary."""
    if data[addr : addr + 4] != b"FRHP":
        raise ValueError(f"expected FRHP at {addr}")
    heap_id_len = struct.unpack_from("<H", data, addr + 5)[0]
    filt_len = struct.unpack_from("<H", data, addr + 7)[0]
    if filt_len:
        raise Hdf5Boundary("I/O-filtered fractal heap")
    flags = data[addr + 9]
    huge_btree = _u(data, addr + 22, 8)
    width = struct.unpack_from("<H", data, addr + 110)[0]
    start_size = _u(data, addr + 112, 8)
    max_direct = _u(data, addr + 120, 8)
    max_heap_bits = struct.unpack_from("<H", data, addr + 128)[0]
    root_addr = _u(data, addr + 132, 8)
    cur_rows = struct.unpack_from("<H", data, addr + 140)[0]
    off_bytes = (max_heap_bits + 7) // 8
    dblk_hdr = 4 + 1 + 8 + off_bytes + (4 if flags & 0x2 else 0)
    max_direct_rows = (max_direct.bit_length() - start_size.bit_length()) + 2
    first_row_bits = (start_size.bit_length() - 1) + (width.bit_length() - 1)

    def row_size(row: int) -> int:
        return start_size if row < 2 else start_size << (row - 1)

    # (heap_space_offset, file_addr, size) per direct block
    blocks = []

    def walk_iblock(at, nrows, block_offset):
        if data[at : at + 4] != b"FHIB":
            raise ValueError(f"expected FHIB at {at}")
        p = at + 4 + 1 + 8 + off_bytes
        hoff = block_offset
        for row in range(nrows):
            rsize = row_size(row)
            for _ in range(width):
                child = _u(data, p, 8)
                p += 8
                if row < max_direct_rows:
                    if child != _UNDEF:
                        blocks.append((hoff, child, rsize))
                else:  # child indirect block covering rsize of heap space
                    if child != _UNDEF:
                        sub_rows = (rsize.bit_length() - 1) - first_row_bits + 1
                        walk_iblock(child, sub_rows, hoff)
                hoff += rsize

    if cur_rows == 0:  # root IS a direct block of the starting size
        blocks.append((0, root_addr, start_size))
    else:
        walk_iblock(root_addr, cur_rows, 0)

    huge_map: dict[int, tuple[int, int]] = {}

    def resolve(heap_id: bytes) -> tuple[bytes, int, int]:
        b0 = heap_id[0]
        idtype = (b0 >> 4) & 0x3
        if (b0 >> 6) != 0:
            raise Hdf5Boundary(f"fractal-heap ID version {b0 >> 6}")
        if idtype == 2:  # tiny, normal sub-type: data lives in the ID
            if heap_id_len > 18:
                raise Hdf5Boundary("extended tiny fractal-heap IDs")
            length = (b0 & 0xF) + 1
            return heap_id, 1, length
        if idtype == 1:  # huge: id -> (addr, len) via the type-1 B-tree
            if not huge_map:
                if huge_btree == _UNDEF:
                    raise ValueError("huge heap ID with no huge B-tree")
                for rec in _btree_v2_records(data, huge_btree):
                    a = int.from_bytes(rec[0:8], "little")
                    ln = int.from_bytes(rec[8:16], "little")
                    hid = int.from_bytes(rec[16:24], "little")
                    huge_map[hid] = (a, ln)
            hid = int.from_bytes(heap_id[1:], "little")
            if hid not in huge_map:
                raise ValueError(f"huge object id {hid} not in B-tree")
            a, ln = huge_map[hid]
            return data, a, ln
        if idtype != 0:
            raise Hdf5Boundary(f"fractal-heap ID type {idtype}")
        off = int.from_bytes(heap_id[1 : 1 + off_bytes], "little")
        length = int.from_bytes(heap_id[1 + off_bytes :], "little")
        for hoff, faddr, size in blocks:
            if hoff <= off < hoff + size:
                return data, faddr + (off - hoff), length
        raise ValueError(f"fractal-heap offset {off} outside managed blocks")

    # sanity: direct blocks carry their own signature
    for _, faddr, _ in blocks:
        if data[faddr : faddr + 4] != b"FHDB":
            raise ValueError(f"expected FHDB at {faddr}")
    _ = dblk_hdr  # objects are addressed absolutely; header size implicit
    return resolve, heap_id_len


def _btree_v2_capacities(node_size: int, rec_size: int, depth: int):
    """Per-level v2 B-tree capacities (HDF5 spec III.A.2, mirroring
    H5B2 header init): returns (max_nrec_size, cum_max_nrec_size[level])
    where level 0 is the leaf. Child pointers to level u-1 nodes are
    ``8 + max_nrec_size + cum_max_nrec_size[u-1]`` bytes (the cumulative
    subtree count is only stored when the child is internal)."""

    def enc_size(n: int) -> int:  # H5VM_limit_enc_size
        return (n.bit_length() - 1) // 8 + 1 if n else 1

    max_leaf = (node_size - 10) // rec_size
    max_nrec_size = enc_size(max_leaf)  # leaf capacity is the largest
    max_nrec = [max_leaf]
    cum_max = [max_leaf]
    cum_size = [0]
    for u in range(1, depth + 1):
        ptr = 8 + max_nrec_size + cum_size[u - 1]
        mn = (node_size - (10 + ptr)) // (rec_size + ptr)
        cm = (mn + 1) * cum_max[u - 1] + mn
        max_nrec.append(mn)
        cum_max.append(cm)
        cum_size.append(enc_size(cm))
    return max_nrec_size, max_nrec, cum_max, cum_size


def _btree_v2_records(data, addr):
    """Iterate raw records of a v2 B-tree (``BTHD``) in key order at any
    depth: internal (``BTIN``) nodes interleave child subtrees with
    separator records; child-pointer widths follow the per-level
    capacity formulas in :func:`_btree_v2_capacities`."""
    if data[addr : addr + 4] != b"BTHD":
        raise ValueError(f"expected BTHD at {addr}")
    node_size = struct.unpack_from("<I", data, addr + 6)[0]
    rec_size = struct.unpack_from("<H", data, addr + 10)[0]
    depth = struct.unpack_from("<H", data, addr + 12)[0]
    root = _u(data, addr + 16, 8)
    root_nrec = struct.unpack_from("<H", data, addr + 24)[0]
    max_nrec_size, _mx, _cm, cum_size = _btree_v2_capacities(
        node_size, rec_size, depth)

    def walk(at, nrec, d):
        if d == 0:
            if data[at : at + 4] != b"BTLF":
                raise ValueError(f"expected BTLF at {at}")
            p = at + 6
            for _ in range(nrec):
                yield data[p : p + rec_size]
                p += rec_size
            return
        if data[at : at + 4] != b"BTIN":
            raise ValueError(f"expected BTIN at {at}")
        rp = at + 6
        p = rp + nrec * rec_size
        step = 8 + max_nrec_size + cum_size[d - 1]
        children = []
        for _ in range(nrec + 1):
            children.append((_u(data, p, 8), _u(data, p + 8, max_nrec_size)))
            p += step  # cumulative subtree counts are not needed to walk
        for i, (caddr, cnrec) in enumerate(children):
            yield from walk(caddr, cnrec, d - 1)
            if i < nrec:
                yield data[rp : rp + rec_size]
                rp += rec_size

    yield from walk(root, root_nrec, depth)


# -- group traversal --------------------------------------------------------


def _walk_symbol_table(data, btree_addr, heap_addr, out):
    heap_data_addr = _u(data, heap_addr + 24, 8)

    def name_at(off):
        end = data.index(b"\x00", heap_data_addr + off)
        return data[heap_data_addr + off : end].decode()

    def walk_node(addr):
        if data[addr : addr + 4] == b"TREE":
            level = data[addr + 5]
            nent = struct.unpack_from("<H", data, addr + 6)[0]
            p = addr + 8 + 16  # skip siblings
            p += 8  # key 0
            for _ in range(nent):
                child = _u(data, p, 8)
                p += 16  # child + next key
                walk_node(child)
        elif data[addr : addr + 4] == b"SNOD":
            nsym = struct.unpack_from("<H", data, addr + 6)[0]
            p = addr + 8
            for _ in range(nsym):
                lno, ohdr = _u(data, p, 8), _u(data, p + 8, 8)
                out.append((name_at(lno), ohdr))
                p += 40
        else:
            raise ValueError(f"unexpected node signature at {addr}")

    walk_node(btree_addr)


def _collect_links(data, addr):
    """(name, ohdr_addr) pairs for every child of the group at ``addr``."""
    out = []
    for mtype, moff, msize in _object_messages(data, addr):
        if mtype == 0x11:  # v1 symbol table
            _walk_symbol_table(data, _u(data, moff, 8), _u(data, moff + 8, 8), out)
        elif mtype == 0x06:  # v2 compact link
            name, target = _parse_link(data, moff)
            if target is not None:
                out.append((name, target))
        elif mtype == 0x02:  # link info
            lflags = data[moff + 1]
            p = moff + 2 + (8 if lflags & 0x1 else 0)
            fheap = _u(data, p, 8)
            if fheap != _UNDEF:
                # dense links: v2-B-tree name index → fractal-heap link msgs
                btree = _u(data, p + 8, 8)
                resolve, hid_len = _fractal_heap_resolver(data, fheap)
                for rec in _btree_v2_records(data, btree):
                    # type-5 record: name hash (4) + heap ID (hid_len)
                    buf, obj_at, _ln = resolve(rec[4 : 4 + hid_len])
                    name, target = _parse_link(buf, obj_at)
                    if target is not None:
                        out.append((name, target))
    return out


# -- dataset reading --------------------------------------------------------


def _apply_filters(raw, filters, elem_size):
    for fid, cd in reversed(filters):
        if fid == 1:
            raw = zlib.decompress(raw)
        elif fid == 2:
            ts = cd[0] if cd else elem_size
            n = len(raw) // ts
            arr = np.frombuffer(raw[: n * ts], dtype=np.uint8)
            raw = arr.reshape(ts, n).T.tobytes() + raw[n * ts :]
        elif fid == 3:
            raw = raw[:-4]  # fletcher32: strip trailing checksum
        elif fid == 32015:  # registered zstd filter (HDF5 plugin id)
            from ..compress.zstd import zstd_decompress

            raw = zstd_decompress(raw)
        elif fid == 32008:  # registered bitshuffle filter (HDF5 plugin id)
            # cd_values: major, minor, elem_size, block_size(elements),
            # [compressor: 2=lz4 3=zstd, [zstd level]] — bshuf_h5filter.c
            from ..compress.bitshuffle import bshuf_decompress, bitunshuffle

            es = cd[2] if len(cd) > 2 and cd[2] else elem_size
            if len(cd) > 4 and cd[4]:
                raw = bshuf_decompress(raw, es, cd[4])
            else:
                raw = bitunshuffle(raw, es, cd[3] if len(cd) > 3 else 0)
        else:
            raise Hdf5Boundary(f"HDF5 filter id {fid}")
    return raw


def _iter_chunk_btree(data, addr, ndim):
    """Yield (chunk_offsets, disk_addr, stored_size, filter_mask)."""
    if addr == _UNDEF:
        return
    if data[addr : addr + 4] != b"TREE":
        raise ValueError(f"expected chunk TREE at {addr}")
    level = data[addr + 5]
    nent = struct.unpack_from("<H", data, addr + 6)[0]
    p = addr + 24  # past sig/type/level/entries/left/right
    key_size = 8 + 8 * ndim
    for _ in range(nent):
        csize, fmask = struct.unpack_from("<II", data, p)
        offsets = tuple(_u(data, p + 8 + 8 * i, 8) for i in range(ndim - 1))
        child = _u(data, p + key_size, 8)
        p += key_size + 8
        if level > 0:
            yield from _iter_chunk_btree(data, child, ndim)
        else:
            yield offsets, child, csize, fmask


def _read_dataset_values(data, ds: _Dataset):
    dt = ds.dtype_info
    cls = dt["class"]
    shape = ds.shape
    n = int(np.prod(shape)) if shape else 1
    lay = ds.layout

    def decode(raw):
        if cls in ("vlen_str", "vlen_seq"):
            count = len(raw) // 16
            return np.array(
                [_read_vlen(raw, 16 * i, cls) if raw is data else None for i in range(count)],
                dtype=object,
            )
        return np.frombuffer(raw, dtype=_np_dtype(dt), count=len(raw) // dt["size"])

    if lay["class"] == "compact":
        raw = data[lay["off"] : lay["off"] + lay["size"]]
        arr = np.frombuffer(raw, dtype=_np_dtype(dt), count=n) if cls not in (
            "vlen_str", "vlen_seq") else _decode_vlen_block(data, lay["off"], n, cls)
    elif lay["class"] == "contiguous":
        if lay["addr"] == _UNDEF:  # never written: all fill
            return _fill_array(ds, n)
        if cls in ("vlen_str", "vlen_seq"):
            arr = _decode_vlen_block(data, lay["addr"], n, cls)
        else:
            arr = np.frombuffer(data, dtype=_np_dtype(dt), count=n, offset=lay["addr"])
    else:  # chunked variants
        if cls in ("vlen_str", "vlen_seq"):
            raise Hdf5Boundary("chunked VLEN dataset")
        full = np.zeros(shape if shape else (1,), dtype=_np_dtype(dt))
        if "fill" in lay:
            pass
        chunk_shape = lay["chunk"]
        if lay["class"] == "chunked":
            entries = list(_iter_chunk_btree(data, lay["btree"], len(chunk_shape) + 1))
        elif lay["class"] == "chunked4_single":
            csize = lay["csize"]
            if csize is None:
                csize = int(np.prod(chunk_shape)) * dt["size"]
            entries = [(tuple(0 for _ in chunk_shape), lay["addr"], csize, 0)]
        else:  # chunked4_implicit: dense grid of unfiltered chunks
            entries = []
            grid = [-(-s // c) for s, c in zip(shape, chunk_shape)]
            csize = int(np.prod(chunk_shape)) * dt["size"]
            idx = np.indices(grid).reshape(len(grid), -1).T
            for k, g in enumerate(idx):
                entries.append(
                    (tuple(int(gi * ci) for gi, ci in zip(g, chunk_shape)),
                     lay["addr"] + k * csize, csize, 0)
                )
        for offsets, caddr, csize, fmask in entries:
            if caddr == _UNDEF:
                continue
            raw = bytes(data[caddr : caddr + csize])
            active = [(fid, cd) for bit, (fid, cd) in enumerate(ds.filters)
                      if not (fmask >> bit) & 1]
            raw = _apply_filters(raw, active, dt["size"])
            chunk = np.frombuffer(raw, dtype=_np_dtype(dt),
                                  count=int(np.prod(chunk_shape))).reshape(chunk_shape)
            sl = tuple(
                slice(o, min(o + c, s)) for o, c, s in zip(offsets, chunk_shape, shape)
            )
            src = tuple(slice(0, s.stop - s.start) for s in sl)
            full[sl] = chunk[src]
        arr = full.reshape(-1)
    arr = arr[:n]
    if cls == "string":
        arr = np.array([b.split(b"\x00")[0].decode("utf-8", "replace") for b in arr.tolist()],
                       dtype=object)
    return arr.reshape(shape) if shape else arr


def _decode_vlen_block(data, off, n, cls):
    return np.array([_read_vlen(data, off + 16 * i, cls) for i in range(n)], dtype=object)


def _fill_array(ds: _Dataset, n):
    dt = ds.dtype_info
    if dt["class"] in ("vlen_str", "vlen_seq"):
        return np.array([""] * n, dtype=object)
    fv = ds.fillvalue
    arr = np.zeros(n, dtype=_np_dtype(dt))
    if fv is not None:
        arr[:] = np.frombuffer(fv, dtype=_np_dtype(dt), count=1)[0]
    elif dt["class"] == "float":
        arr[:] = np.nan
    return arr.reshape(ds.shape) if ds.shape else arr


# -- file assembly ----------------------------------------------------------


def _parse_object(data, addr, name):
    """→ (_Dataset | None, attrs, is_group_links)."""
    dims = None
    dt = None
    layout = None
    filters = []
    attrs = {}
    fillvalue = None
    for mtype, moff, msize in _object_messages(data, addr):
        if mtype == 0x01:
            dims = _parse_dataspace(data, moff)
        elif mtype == 0x03:
            dt = _parse_datatype(data, moff)
        elif mtype == 0x05:
            v = data[moff]
            if v in (1, 2) and data[moff + 3] == 1:
                sz = struct.unpack_from("<I", data, moff + 4)[0]
                fillvalue = data[moff + 8 : moff + 8 + sz] if sz else None
            elif v == 3 and data[moff + 1] & 0x20:
                sz = struct.unpack_from("<I", data, moff + 2)[0]
                fillvalue = data[moff + 6 : moff + 6 + sz] if sz else None
        elif mtype == 0x08:
            layout = _parse_layout(data, moff)
        elif mtype == 0x0B:
            filters = _parse_filters(data, moff)
        elif mtype == 0x0C:
            aname, aval = _parse_attribute(data, moff)
            attrs[aname] = aval
        elif mtype == 0x15:  # attribute info (dense attribute storage)
            aflags = data[moff + 1]
            p = moff + 2 + (2 if aflags & 0x1 else 0)
            fheap = _u(data, p, 8)
            if fheap != _UNDEF:
                btree = _u(data, p + 8, 8)
                resolve, hid_len = _fractal_heap_resolver(data, fheap)
                for rec in _btree_v2_records(data, btree):
                    # type-8 record: heap ID (hid_len) + flags(1) + corder(4)
                    # + name hash (4); the heap object is an attribute msg
                    buf, obj_at, _ln = resolve(rec[:hid_len])
                    aname, aval = _parse_attribute(buf, obj_at)
                    attrs[aname] = aval
    if layout is not None and dt is not None:
        return _Dataset(name, dims or (), dt, layout, filters, attrs, fillvalue, addr), attrs
    return None, attrs


def _superblock_root(data):
    if data[:8] != _SIG:
        raise ValueError("not an HDF5 file")
    ver = data[8]
    if ver == 0:
        return _u(data, 64, 8)  # root symbol-table entry's ohdr address
    if ver in (2, 3):
        return _u(data, 12 + 3 * 8, 8)
    raise Hdf5Boundary(f"superblock version {ver}")


def read_hdf5(data: bytes):
    """Parse a NetCDF-4/HDF5 byte string →
    (dims, global_attrs, {var: {"dims", "attrs", "array"}}) — the same
    tuple shape as ``netcdf3.read_netcdf3`` so the Spark reader is
    codec-agnostic."""
    data = bytes(data)
    root = _superblock_root(data)
    _, root_attrs = _parse_object(data, root, "/")
    datasets: dict[str, _Dataset] = {}
    for name, addr in _collect_links(data, root):
        ds, _ = _parse_object(data, addr, name)
        if ds is not None:
            datasets[name] = ds
    by_addr = {ds.addr: ds.name for ds in datasets.values()}

    # NetCDF-4 dimension recovery: dimension scales name the dims; data
    # vars reference them through DIMENSION_LIST (VLEN of object refs)
    dims: dict[str, int] = {}
    var_dims: dict[str, list[str]] = {}
    for name, ds in datasets.items():
        if str(ds.attrs.get("CLASS", "")) == "DIMENSION_SCALE":
            dims[name] = int(ds.shape[0]) if ds.shape else 0
            var_dims[name] = [name]
    for name, ds in datasets.items():
        if name in var_dims:
            continue
        dl = ds.attrs.get("DIMENSION_LIST")
        if dl is not None:
            if not isinstance(dl, list):
                dl = [dl]
            resolved = []
            for refs in dl:
                refs = refs if isinstance(refs, list) else [refs]
                resolved.append(by_addr.get(refs[0], "?") if refs else "?")
            var_dims[name] = resolved
        elif len(ds.shape) == 1:
            # plain HDF5 without dimension scales: match by length
            match = [d for d, ln in dims.items() if ln == ds.shape[0]]
            var_dims[name] = [match[0]] if match else [f"phony_{ds.shape[0]}"]
        else:
            var_dims[name] = [f"phony_{s}" for s in ds.shape]

    hidden = {"CLASS", "NAME", "DIMENSION_LIST", "REFERENCE_LIST", "_Netcdf4Dimid",
              "_Netcdf4Coordinates", "_NCProperties"}
    variables = {}
    for name, ds in datasets.items():
        arr = _read_dataset_values(data, ds)
        attrs = {k: v for k, v in ds.attrs.items() if k not in hidden}
        # a pure dimension ("this is a netCDF dimension but not a variable")
        nm = str(ds.attrs.get("NAME", ""))
        if nm.startswith("This is a netCDF dimension but not a netCDF variable"):
            continue
        variables[name] = {
            "dims": var_dims.get(name, []),
            "attrs": attrs,
            "array": arr.reshape(-1) if arr.ndim == 1 or arr.ndim == 0 else arr,
        }
    gattrs = {k: v for k, v in root_attrs.items() if k not in hidden}
    return dims, gattrs, variables
