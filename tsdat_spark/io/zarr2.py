"""Pure-stdlib Zarr v2 + v3 store reader / v2 writer (tsdat ZarrReader/
ZarrWriter/ZarrLocalStorage analogs, ``tsdat/io/readers/zarr_reader.py:9-22``).

Zarr is a simple public format: one directory per array with JSON metadata
(v2: ``.zarray``/``.zattrs``; v3: one ``zarr.json``) and one file per
chunk ("<i>" in v2, "c/<i>" in v3). Both versions normalize to one meta
shape here, so every consumer — incl. the chunk-grid-parallel Spark scan —
is version-agnostic. No zarr package is needed for the subset an engine
store uses:

- codecs: raw (``compressor: null``), ``zlib``, ``gzip`` (stdlib),
  ``blosc`` (the zarr-python v2 default, used by the reference's test
  fixture) via the from-spec pure-Python container codec in
  ``compress/bloscc.py`` (lz4 + byte- or bit-shuffle, the latter via
  ``compress/bitshuffle.py``), and ``zstd`` (pyarrow's bundled libzstd,
  ``compress/zstd.py``).
- v3 codec chains: ``bytes`` (little-endian) + ``gzip``/``zstd``/
  ``blosc``/``crc32c`` (verified); regular chunk grids, default
  and v2 chunk-key encodings.
- arrays: 1-D over a shared dimension (the engine's relational shape),
  numeric + fixed-width unicode, uniform chunks (last may be partial) —
  the xarray ``_ARRAY_DIMENSIONS`` convention is written and honored.

Null widening: an int column containing NULLs is stored as ``<f8`` with NaN
holes (int arrays have no NaN) — the same documented widening the NetCDF
writer applies. On read the NaN holes cross the Arrow boundary as SQL
NULLs (pyarrow ``from_pandas`` masks NaN), so nulls round-trip as nulls in
a double column.

Scale shape: the READER parallelizes over the chunk grid — one Spark task
decodes chunk *i* of every column (alignment validated up front), so a
billion-row store fans out across executors; the WRITER assigns global
contiguous row indices (zipWithIndex), groups rows by ``idx // chunk_rows``
(applyInPandas — each group is exactly one chunk) and writes chunk files
from the executors.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass

import numpy as np

from .fs import get_filesystem
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _decompress(raw: bytes, compressor: dict | None) -> bytes:
    if compressor is None:
        return raw
    cid = compressor.get("id")
    if cid in ("zlib", "gzip"):
        import gzip as _gzip

        return zlib.decompress(raw) if cid == "zlib" else _gzip.decompress(raw)
    if cid == "blosc":
        from ..compress.bloscc import blosc_decompress

        return blosc_decompress(raw)
    if cid == "zstd":
        from ..compress.zstd import zstd_decompress

        return zstd_decompress(raw)
    raise ValueError(
        f"unsupported zarr compressor {cid!r}: raw/zlib/gzip/blosc "
        "(lz4, byte- or bit-shuffle)/zstd are supported"
    )


def _compress(raw: bytes, compressor: dict | None, typesize: int = 1) -> bytes:
    if compressor is None:
        return raw
    cid = compressor.get("id")
    if cid == "zlib":
        return zlib.compress(raw, compressor.get("level", 6))
    if cid == "gzip":
        import gzip as _gzip

        return _gzip.compress(raw, compressor.get("level", 6))
    if cid == "blosc":
        from ..compress.bloscc import blosc_compress

        shuffle = compressor.get("shuffle", 1)  # numcodecs: 0 none, 1 byte, 2 bit
        return blosc_compress(
            raw,
            typesize,
            cname=compressor.get("cname", "lz4"),
            shuffle="bit" if shuffle == 2 else bool(shuffle),
        )
    if cid == "zstd":
        from ..compress.zstd import zstd_compress

        return zstd_compress(raw)  # libzstd level 3 (v3 metadata: level 0)
    raise ValueError(f"unsupported zarr compressor {cid!r}")


# Zarr v3 (the current zarr-python default format): one `zarr.json` per
# node instead of .zarray/.zattrs, a codec CHAIN instead of a single
# compressor, and "c/<i>"-style chunk keys. Normalized here into the same
# meta dict shape the v2 paths use, so every downstream consumer
# (read_zarr_chunk / read_zarr_array / the Spark ZarrReader grid scan) is
# version-agnostic. Spec: https://zarr-specs.readthedocs.io/en/latest/v3/core/index.html
_V3_DTYPES = {
    "float64": "<f8", "float32": "<f4",
    "int64": "<i8", "int32": "<i4", "int16": "<i2", "int8": "|i1",
    "uint64": "<u8", "uint32": "<u4", "uint16": "<u2", "uint8": "|u1",
    "bool": "|b1",
}


def _normalize_v3_meta(meta: dict, array_dir: str) -> tuple[dict, dict]:
    if meta.get("node_type") != "array":
        raise ValueError(f"zarr.json at {array_dir} is not an array node")
    is_vlen_str = meta.get("data_type") == "string"
    if is_vlen_str:
        # zarr-python 3 variable-length strings: the array↔bytes codec is
        # vlen-utf8 (numcodecs VLenUTF8 framing) instead of "bytes"
        dt = "|O"
    else:
        dt = _V3_DTYPES.get(meta.get("data_type"))
    if dt is None:
        raise ValueError(
            f"unsupported zarr v3 data_type {meta.get('data_type')!r} "
            "(numeric/bool/string supported)"
        )
    grid = meta.get("chunk_grid", {})
    if grid.get("name") != "regular":
        raise ValueError(f"unsupported v3 chunk grid {grid.get('name')!r}")
    cke = meta.get("chunk_key_encoding", {"name": "default"})
    sep = cke.get("configuration", {}).get("separator", "/")
    if cke.get("name") == "default":
        key_fmt = "c" + sep + "{i}"
    elif cke.get("name") == "v2":
        key_fmt = "{i}"
    else:
        raise ValueError(f"unsupported v3 chunk key encoding {cke.get('name')!r}")
    codecs = meta.get("codecs", [])
    shard = None
    if codecs and codecs[0].get("name") == "sharding_indexed":
        # ZEP 2 sharding: the array→bytes codec wraps an inner chunk grid
        # whose chunks are packed into one stored object per outer chunk
        # (the "shard") with an (offset, nbytes) index. Normalized so the
        # outer chunk addressing stays unchanged and the shard decode
        # happens inside read_zarr_chunk.
        cfg = codecs[0].get("configuration", {})
        if "chunk_shape" not in cfg:
            raise ValueError(
                "sharding_indexed configuration missing chunk_shape")
        inner_chain = cfg.get("codecs", [])
        _check_v3_chain(inner_chain, is_vlen_str)
        (outer_w,) = grid["configuration"]["chunk_shape"]
        (inner_w,) = cfg["chunk_shape"]
        if outer_w % inner_w:
            raise ValueError(
                f"shard chunk_shape {inner_w} does not divide outer {outer_w}")
        shard = {
            "inner": inner_w,
            "codecs": inner_chain,
            "index_codecs": cfg.get("index_codecs",
                                    [{"name": "bytes",
                                      "configuration": {"endian": "little"}}]),
            "index_location": cfg.get("index_location", "end"),
        }
        for c in shard["index_codecs"]:
            if c.get("name") not in ("bytes", "crc32c"):
                raise ValueError(
                    f"unsupported shard index codec {c.get('name')!r}")
        codecs = []  # shard decode owns the whole chain
    else:
        _check_v3_chain(codecs, is_vlen_str)
    fv = meta.get("fill_value")
    if isinstance(fv, str):  # v3 encodes non-finite floats as JSON strings
        fv = {"NaN": float("nan"), "Infinity": float("inf"),
              "-Infinity": float("-inf")}.get(fv, fv)
    norm = {
        "zarr_format": 3, "shape": meta["shape"],
        "chunks": grid["configuration"]["chunk_shape"], "dtype": dt,
        "fill_value": fv,
        "v3_codecs": codecs, "v3_key_fmt": key_fmt,
    }
    if shard is not None:
        norm["v3_shard"] = shard
    return norm, dict(meta.get("attributes") or {})


def _check_v3_chain(codecs: list, is_vlen_str: bool) -> None:
    for c in codecs:
        if c.get("name") == "bytes":
            if c.get("configuration", {}).get("endian", "little") != "little":
                raise ValueError("big-endian v3 bytes codec unsupported")
        elif c.get("name") == "vlen-utf8":
            if not is_vlen_str:
                raise ValueError("vlen-utf8 codec on a non-string array")
        elif c.get("name") not in ("gzip", "zstd", "blosc", "crc32c"):
            raise ValueError(f"unsupported v3 codec {c.get('name')!r}")


def _vlen_utf8_decode(raw: bytes) -> list:
    """numcodecs VLenUTF8 framing: uint32 item count, then per item a
    uint32 byte length + utf-8 payload (all little-endian)."""
    n = int.from_bytes(raw[0:4], "little")
    out, p = [], 4
    for _ in range(n):
        ln = int.from_bytes(raw[p : p + 4], "little")
        p += 4
        out.append(raw[p : p + ln].decode("utf-8"))
        p += ln
    return out


def _vlen_utf8_encode(items) -> bytes:
    parts = [len(items).to_bytes(4, "little")]
    for s in items:
        b = str(s).encode("utf-8")
        parts.append(len(b).to_bytes(4, "little") + b)
    return b"".join(parts)


def _decompress_v3(raw: bytes, codecs: list) -> bytes:
    """Run the bytes→bytes part of a v3 codec chain in reverse."""
    for c in reversed(codecs):
        name = c.get("name")
        if name in ("bytes", "vlen-utf8"):
            continue  # array<->bytes layer: handled by the chunk reader
        if name == "gzip":
            import gzip as _gzip

            raw = _gzip.decompress(raw)
        elif name == "zstd":
            from ..compress.zstd import zstd_decompress

            raw = zstd_decompress(raw)
        elif name == "crc32c":
            from ..compress.crc32c import crc32c

            stored = int.from_bytes(raw[-4:], "little")
            body = bytes(raw[:-4])
            actual = crc32c(body)
            if actual != stored:
                raise ValueError(
                    f"zarr v3 crc32c mismatch: stored {stored:#010x}, "
                    f"computed {actual:#010x} — chunk is corrupted"
                )
            raw = body
        elif name == "blosc":
            from ..compress.bloscc import blosc_decompress

            raw = blosc_decompress(raw)
    return raw


def read_zarr_meta(array_dir: str) -> tuple[dict, dict]:
    """(array metadata, attrs) for one array directory — zarr v2
    (``.zarray``/``.zattrs``) or v3 (``zarr.json``), normalized to one meta
    shape. All byte access goes through the ``io.fs`` seam."""
    fs = get_filesystem(array_dir)
    v2_path = os.path.join(array_dir, ".zarray")
    if not fs.exists(v2_path):
        v3_path = os.path.join(array_dir, "zarr.json")
        if fs.exists(v3_path):
            return _normalize_v3_meta(json.loads(fs.read_text(v3_path)), array_dir)
        raise ValueError(f"no zarr array metadata (.zarray or zarr.json) in {array_dir}")
    meta = json.loads(fs.read_text(v2_path))
    if meta.get("zarr_format") != 2:
        raise ValueError(f"not a zarr v2 array: {array_dir}")
    if meta.get("order", "C") != "C":
        raise ValueError("fortran-order zarr arrays unsupported")
    if meta.get("filters"):
        raise ValueError("zarr filters unsupported")
    attrs_path = os.path.join(array_dir, ".zattrs")
    attrs = {}
    if fs.exists(attrs_path):
        attrs = json.loads(fs.read_text(attrs_path))
    return meta, attrs


def read_zarr_chunk(array_dir: str, meta: dict, chunk_idx: int) -> np.ndarray:
    """Decode 1-D chunk ``chunk_idx`` (fill_value for a missing chunk file)."""
    (n,) = meta["shape"]
    (cw,) = meta["chunks"]
    count = min(cw, n - chunk_idx * cw)
    dt = np.dtype(meta["dtype"])
    fs = get_filesystem(array_dir)
    if meta.get("zarr_format") == 3:
        path = os.path.join(array_dir, meta["v3_key_fmt"].format(i=chunk_idx))
    else:
        path = os.path.join(array_dir, str(chunk_idx))
    if not fs.exists(path):
        fv = meta.get("fill_value")
        if fv is None:
            fv = np.nan if dt.kind == "f" else "" if dt.kind in ("U", "O") else 0
        return np.full(count, fv, dtype=dt)
    if meta.get("zarr_format") == 3:
        if "v3_shard" in meta:
            return _decode_v3_shard(fs.read_bytes(path), meta, count, dt)
        raw = _decompress_v3(fs.read_bytes(path), meta["v3_codecs"])
        if dt.kind == "O":  # variable-length strings (vlen-utf8)
            return np.array(_vlen_utf8_decode(raw)[:count], dtype=object)
    else:
        raw = _decompress(fs.read_bytes(path), meta.get("compressor"))
    # a stored chunk is always full chunk width; trim the tail chunk
    return np.frombuffer(raw, dtype=dt)[:count]


_SHARD_MISSING = 2**64 - 1


def _decode_v3_shard(raw: bytes, meta: dict, count: int, dt: np.dtype) -> np.ndarray:
    """Decode one ZEP-2 shard: [inner chunk blobs…][(offset,nbytes)… index].

    The index always covers the FULL shard grid (outer/inner chunks), even
    in a tail shard; offsets are from the start of the shard object;
    missing inner chunks are (2^64-1, 2^64-1) and decode to fill_value."""
    cfg = meta["v3_shard"]
    (cw,) = meta["chunks"]
    inner = cfg["inner"]
    n_inner = cw // inner
    idx_size = 16 * n_inner
    if any(c.get("name") == "crc32c" for c in cfg["index_codecs"]):
        idx_size += 4
    if cfg["index_location"] == "start":
        idx_raw = raw[:idx_size]
    else:
        idx_raw = raw[-idx_size:]
    # _decompress_v3 runs the index chain (bytes no-op + crc32c verify)
    offsets = np.frombuffer(
        _decompress_v3(idx_raw, cfg["index_codecs"]), dtype="<u8"
    ).reshape(n_inner, 2)
    fv = meta.get("fill_value")
    if fv is None:
        fv = np.nan if dt.kind == "f" else "" if dt.kind in ("U", "O") else 0
    parts: list = []
    for j in range(n_inner):
        cnt_j = min(inner, count - j * inner)
        if cnt_j <= 0:
            break
        off, nb = int(offsets[j, 0]), int(offsets[j, 1])
        if off == _SHARD_MISSING:
            if dt.kind == "O":
                parts.extend([fv] * cnt_j)
            else:
                parts.append(np.full(cnt_j, fv, dtype=dt))
            continue
        blob = _decompress_v3(raw[off : off + nb], cfg["codecs"])
        if dt.kind == "O":
            parts.extend(_vlen_utf8_decode(blob)[:cnt_j])
        else:
            parts.append(np.frombuffer(blob, dtype=dt)[:cnt_j])
    if dt.kind == "O":
        return np.array(parts, dtype=object)
    return np.concatenate(parts) if parts else np.empty(0, dtype=dt)


def read_zarr_array(array_dir: str) -> np.ndarray:
    meta, _ = read_zarr_meta(array_dir)
    (n,), (cw,) = meta["shape"], meta["chunks"]
    n_chunks = -(-n // cw) if n else 0
    if n_chunks == 0:
        return np.empty(0, dtype=np.dtype(meta["dtype"]))
    return np.concatenate([read_zarr_chunk(array_dir, meta, i) for i in range(n_chunks)])


def _spark_type(dt: np.dtype, attrs: dict) -> str:
    if " since " in str(attrs.get("units", "")):
        return "timestamp"
    if dt.kind in ("U", "O"):
        return "string"
    if dt.kind in ("i", "u"):
        return "long"
    return "double"


@dataclass(frozen=True)
class ZarrReader:
    """Spark scan of a zarr v2 GROUP of aligned 1-D arrays: one task per
    chunk index decodes that chunk of every column."""

    dim: str = "time"

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        from typing import Iterator

        import pandas as pd

        fs = get_filesystem(path)

        def _is_array(d: str) -> bool:
            sub = os.path.join(path, d)
            if fs.exists(os.path.join(sub, ".zarray")):
                return True
            v3 = os.path.join(sub, "zarr.json")
            if fs.exists(v3):
                return json.loads(fs.read_text(v3)).get("node_type") == "array"
            return False

        arrays = sorted(d for d in fs.listdir(path) if _is_array(d))
        if not arrays:
            raise ValueError(f"no zarr arrays under {path}")
        metas = {a: read_zarr_meta(os.path.join(path, a)) for a in arrays}
        shapes = {tuple(m["shape"]) for m, _ in metas.values()}
        chunks = {tuple(m["chunks"]) for m, _ in metas.values()}
        if len(shapes) != 1 or len(chunks) != 1 or len(next(iter(shapes))) != 1:
            raise ValueError(
                f"ZarrReader needs aligned 1-D arrays; got shapes={shapes} chunks={chunks}"
            )
        (n,), (cw,) = next(iter(shapes)), next(iter(chunks))
        n_chunks = -(-n // cw) if n else 0
        cols = {a: _spark_type(np.dtype(m["dtype"]), attrs) for a, (m, attrs) in metas.items()}
        # backtick-quote: real stores (e.g. the reference fixture) use
        # display names with spaces as array names
        schema = ", ".join(f"`{a}` {t}" for a, t in cols.items())
        metas_ser = {a: m for a, (m, _) in metas.items()}
        attrs_ser = {a: at for a, (_, at) in metas.items()}

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for ci in pdf["id"]:
                    out = {}
                    for a, typ in cols.items():
                        arr = read_zarr_chunk(os.path.join(path, a), metas_ser[a], int(ci))
                        if typ == "timestamp":
                            from .cf import decode_cf_time

                            out[a] = decode_cf_time(arr, str(attrs_ser[a].get("units")))
                        elif typ == "long":
                            out[a] = arr.astype("int64")
                        elif typ == "string":
                            out[a] = arr.astype(object)
                        else:
                            out[a] = arr.astype("float64")
                    yield pd.DataFrame(out)

        return spark.range(n_chunks).mapInPandas(parse, schema)


class ZarrDatasetWriter:
    """Engine sink: the table becomes a zarr v2 group — one 1-D array per
    column, uniform ``chunk_rows`` chunks (last partial), zlib by default,
    xarray ``_ARRAY_DIMENSIONS`` convention, timestamps as CF-style
    ``microseconds since 1970-01-01`` int64. ``order_by`` fixes the row
    order (zarr arrays are ordered; a DataFrame is not)."""

    def __init__(self, chunk_rows: int = 100_000, order_by: list[str] | None = None,
                 attrs: dict | None = None, var_attrs: dict | None = None,
                 compressor: dict | None = {"id": "zlib", "level": 6},
                 dim: str = "time", zarr_format: int = 2, checksum: bool = False,
                 shards: int | None = None):
        if zarr_format not in (2, 3):
            raise ValueError(f"zarr_format must be 2 or 3, got {zarr_format}")
        if shards is not None and (zarr_format != 3 or shards < 1):
            raise ValueError("shards requires zarr_format=3 and shards >= 1")
        self.chunk_rows = chunk_rows
        self.order_by = list(order_by or [])
        self.attrs = dict(attrs or {})
        self.var_attrs = {k: dict(v) for k, v in (var_attrs or {}).items()}
        self.compressor = compressor
        self.dim = dim
        self.zarr_format = zarr_format
        self.checksum = bool(checksum)  # v3 only: append a crc32c codec
        # v3 sharding (ZEP 2): each stored object packs `shards` inner
        # chunks of chunk_rows + an (offset,nbytes) index — object-store
        # deployments want few large objects but small random-read chunks
        self.shards = shards

    def _v3_codecs(self, string: bool = False) -> list[dict]:
        """self.compressor → a v3 codec chain (bytes — or vlen-utf8 for
        variable-length string arrays — + optional compressor + optional
        crc32c). v2 'zlib' maps to the v3 'gzip' codec — v3 has no zlib
        codec, so the chunk bytes are gzip-framed in v3 mode."""
        if string:
            chain = [{"name": "vlen-utf8", "configuration": {}}]
        else:
            chain = [{"name": "bytes", "configuration": {"endian": "little"}}]
        comp = self.compressor
        if comp is not None:
            cid = comp.get("id")
            if cid in ("zlib", "gzip"):
                chain.append({"name": "gzip",
                              "configuration": {"level": comp.get("level", 6)}})
            elif cid == "blosc":
                shuffle = comp.get("shuffle", 1)
                chain.append({"name": "blosc", "configuration": {
                    "cname": comp.get("cname", "lz4"),
                    "shuffle": {0: "noshuffle", 2: "bitshuffle"}.get(
                        shuffle, "shuffle"),
                    "typesize": 8}})
            elif cid == "zstd":
                chain.append({"name": "zstd",
                              "configuration": {"level": 0, "checksum": False}})
            else:
                raise ValueError(f"unsupported v3 write compressor {cid!r}")
        if self.checksum:
            chain.append({"name": "crc32c", "configuration": {}})
        return chain

    def write(self, df: DataFrame, path: str) -> None:
        import pandas as pd

        v3 = self.zarr_format == 3
        fs = get_filesystem(path)
        fs.makedirs(path)
        if v3:
            fs.write_text(os.path.join(path, "zarr.json"), json.dumps(
                {"zarr_format": 3, "node_type": "group",
                 "attributes": self.attrs}))
        else:
            fs.write_text(os.path.join(path, ".zgroup"), json.dumps({"zarr_format": 2}))
            if self.attrs:
                fs.write_text(os.path.join(path, ".zattrs"), json.dumps(self.attrs))

        ordered = df.orderBy(*self.order_by) if self.order_by else df
        fields = [(fld.name, fld.dataType.simpleString()) for fld in df.schema.fields]
        total = ordered.count()
        cw, comp, dim = self.chunk_rows, self.compressor, self.dim

        # One aggregate pass: global max width per string column, plus
        # null-presence per int column — an int64 array has no NaN, so an
        # int column containing nulls is declared <f8 instead (the same
        # documented widening the NetCDF writer applies).
        widths, nullable_ints = {}, set()
        str_cols = [n for n, t in fields if t == "string"]
        int_cols = [n for n, t in fields
                    if t in ("bigint", "long", "int", "smallint", "tinyint")]
        if (str_cols or int_cols) and total:
            row = ordered.agg(
                *[F.max(F.length(F.coalesce(F.col(c), F.lit("")))).alias(f"w_{c}")
                  for c in str_cols],
                *[F.max(F.col(c).isNull().cast("int")).alias(f"n_{c}")
                  for c in int_cols],
            ).first()
            widths = {c: max(1, int(row[f"w_{c}"] or 1)) for c in str_cols}
            nullable_ints = {c for c in int_cols if row[f"n_{c}"]}

        # array metadata per column (driver-side, tiny)
        for name, typ in fields:
            adir = os.path.join(path, name)
            fs.makedirs(adir)
            if typ == "timestamp":
                from .cf import CF_EPOCH_US_UNITS

                # <f8 so NaT encodes as NaN (INT64_MIN would decode to a
                # garbage date); NaN crosses back as SQL NULL on read
                dtype, extra = "<f8", {"units": CF_EPOCH_US_UNITS}
            elif typ in ("bigint", "long", "int", "smallint", "tinyint"):
                dtype, extra = ("<f8", {}) if name in nullable_ints else ("<i8", {})
            elif typ == "string":
                dtype, extra = f"<U{widths.get(name, 1)}", {}
            else:
                dtype, extra = "<f8", {}
            if v3:
                is_str = typ == "string"
                codecs_meta = self._v3_codecs(string=is_str)
                if self.shards:
                    codecs_meta = [{
                        "name": "sharding_indexed",
                        "configuration": {
                            "chunk_shape": [cw],
                            "codecs": codecs_meta,
                            "index_codecs": [
                                {"name": "bytes",
                                 "configuration": {"endian": "little"}},
                                {"name": "crc32c", "configuration": {}},
                            ],
                            "index_location": "end",
                        },
                    }]
                fs.makedirs(os.path.join(adir, "c"))
                fs.write_text(os.path.join(adir, "zarr.json"), json.dumps(
                    {"zarr_format": 3, "node_type": "array",
                     "shape": [total],
                     "data_type": ("string" if is_str
                                   else "int64" if dtype == "<i8" else "float64"),
                     "chunk_grid": {"name": "regular",
                                    "configuration": {
                                        "chunk_shape": [cw * (self.shards or 1)]}},
                     "chunk_key_encoding": {"name": "default",
                                            "configuration": {"separator": "/"}},
                     "fill_value": ("" if is_str
                                    else 0 if dtype == "<i8" else 0.0),
                     "codecs": codecs_meta,
                     "dimension_names": [dim],
                     "attributes": {"_ARRAY_DIMENSIONS": [dim],
                                    **extra, **self.var_attrs.get(name, {})}}))
            else:
                fs.write_text(os.path.join(adir, ".zarray"), json.dumps(
                    {"zarr_format": 2, "shape": [total], "chunks": [cw],
                     "dtype": dtype, "compressor": comp, "fill_value": None,
                     "filters": None, "order": "C"}))
                fs.write_text(os.path.join(adir, ".zattrs"), json.dumps(
                    {"_ARRAY_DIMENSIONS": [dim],
                     **extra, **self.var_attrs.get(name, {})}))
        if total == 0:
            return

        # global contiguous row index -> chunk id; one applyInPandas group
        # per chunk writes that chunk file for every column (executor-side).
        # The index rides along because a grouped pandas frame arrives in
        # arbitrary row order after the shuffle.
        shards = self.shards
        outer_cw = cw * (shards or 1)  # stored-object width (shard or chunk)
        rdd = ordered.rdd.zipWithIndex().map(
            lambda t: (*t[0], t[1], t[1] // outer_cw))
        indexed = df.sparkSession.createDataFrame(
            rdd, ordered.schema.add("__idx", "long").add("__chunk", "long")
        )
        field_types = dict(fields)
        widths_b = dict(widths)
        nullable_b = set(nullable_ints)
        # v3 frames zlib-compressed chunks as the gzip codec (no zlib in v3)
        comp_eff = ({**comp, "id": "gzip"}
                    if v3 and comp and comp.get("id") == "zlib" else comp)
        v3_b, checksum_b = v3, self.checksum

        def enc_inner(col, name: str, typ: str) -> bytes:
            """Encode one full-width (cw) inner-chunk payload for a column
            slice (tail padded), including the optional crc32c suffix."""
            if v3_b and typ == "string":
                # variable-length strings: vlen-utf8 framing (padded to
                # full chunk width with "" like the fixed-width path)
                items = col.fillna("").tolist()
                items += [""] * (cw - len(items))
                payload = _compress(_vlen_utf8_encode(items), comp_eff, 1)
            else:
                if typ == "timestamp":
                    from .cf import encode_cf_micros

                    arr = encode_cf_micros(col.to_numpy())
                elif typ in ("bigint", "long", "int", "smallint", "tinyint"):
                    arr = (col.to_numpy(dtype="float64")  # nulls -> NaN
                           if name in nullable_b else col.to_numpy(dtype="int64"))
                elif typ == "string":
                    arr = col.fillna("").to_numpy(dtype=f"<U{widths_b[name]}")
                else:
                    arr = col.to_numpy(dtype="float64")
                if len(arr) < cw:  # zarr stores FULL-width chunks; pad the tail
                    pad = np.zeros(cw - len(arr), dtype=arr.dtype)
                    arr = np.concatenate([arr, pad])
                arr = np.ascontiguousarray(arr.astype(arr.dtype.newbyteorder("<")))
                payload = _compress(arr.tobytes(), comp_eff, arr.dtype.itemsize)
            if v3_b and checksum_b:
                from ..compress.crc32c import crc32c

                payload += crc32c(payload).to_bytes(4, "little")
            return payload

        def write_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("__idx", ignore_index=True)
            ci = int(pdf["__chunk"].iloc[0])
            for name, typ in field_types.items():
                col = pdf[name]
                if shards:
                    # ZEP-2 shard: inner payloads back to back, then the
                    # full-grid (offset,nbytes) uint64 index + its crc32c
                    from ..compress.crc32c import crc32c

                    blobs, index = [], np.full((shards, 2), _SHARD_MISSING,
                                               dtype="<u8")
                    pos = 0
                    for j in range(shards):
                        part = col.iloc[j * cw : (j + 1) * cw]
                        if not len(part):
                            break  # tail shard: rest of grid stays missing
                        payload = enc_inner(part, name, typ)
                        index[j] = (pos, len(payload))
                        blobs.append(payload)
                        pos += len(payload)
                    idx_bytes = index.tobytes()
                    idx_bytes += crc32c(idx_bytes).to_bytes(4, "little")
                    payload = b"".join(blobs) + idx_bytes
                else:
                    payload = enc_inner(col, name, typ)
                key = (os.path.join(path, name, "c", str(ci)) if v3_b
                       else os.path.join(path, name, str(ci)))
                # fs is the DRIVER-resolved filesystem, pickled into the
                # task — deployments only need register_filesystem() on the
                # driver (same contract as fs.write_binary_parts)
                fs.write_bytes(key, payload)
            return pd.DataFrame({"chunk": [ci], "rows": [len(pdf)]})

        # NB: count() is the action that runs the chunk-writing job — it must
        # be a plain statement (inside an assert it would vanish under -O)
        n_chunks_written = indexed.groupBy("__chunk").applyInPandas(
            write_chunk, "chunk long, rows long"
        ).count()
        if n_chunks_written != -(-total // outer_cw):
            raise RuntimeError(
                f"zarr write produced {n_chunks_written} chunks, "
                f"expected {-(-total // outer_cw)}"
            )

    __call__ = write
