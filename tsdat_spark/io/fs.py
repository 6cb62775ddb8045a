"""Driver/executor-side file-access seam for the few places the engine
touches bytes OUTSIDE a Spark scan (schema peeks at one file's header,
zarr chunk-grid metadata, chunk payloads inside mapPartitions tasks).

Spark reads/writes table data through its own Hadoop-FS layer, which
already speaks every object store; these small side-channel reads are the
only code that would otherwise hard-code ``open()``. They dispatch on the
path's scheme through a registry, so object-store support is one
``register_filesystem`` call away (e.g. an fsspec adapter in a deployment
image that ships it) instead of a code edit. The local filesystem is the
built-in default; unregistered schemes raise a documented boundary error
naming the hook — same error idiom as the NetCDF-4/blosc boundaries
(``netcdf3.py``, ``zarr2.py``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass(frozen=True)
class FileSystem:
    """Minimal protocol for side-channel reads. Implementations must be
    picklable (chunk reads run inside Spark tasks)."""

    def read_bytes(self, path: str, length: int | None = None) -> bytes:
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        return self.read_bytes(path).decode("utf-8")

    def read_head_lines(self, path: str, n: int) -> list[str]:
        """First ``n`` lines — header peeks must not pull a whole data file."""
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        raise NotImplementedError

    # write side: engine sinks (zarr chunks, .nc parts, attrs sidecars,
    # lineage manifests) emit whole objects — the object-store-friendly
    # contract (no appends, no partial writes)
    def write_bytes(self, path: str, data: bytes) -> None:
        raise NotImplementedError

    def write_text(self, path: str, text: str) -> None:
        self.write_bytes(path, text.encode("utf-8"))

    def makedirs(self, path: str) -> None:
        """Create intermediate 'directories'. No-op on flat object stores."""
        raise NotImplementedError


@dataclass(frozen=True)
class LocalFileSystem(FileSystem):
    def read_bytes(self, path: str, length: int | None = None) -> bytes:
        with open(path, "rb") as f:
            return f.read() if length is None else f.read(length)

    def read_head_lines(self, path: str, n: int) -> list[str]:
        out = []
        with open(path) as f:
            for _ in range(n):
                out.append(f.readline())
        return out

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def listdir(self, path: str) -> list[str]:
        return sorted(os.listdir(path))

    def write_bytes(self, path: str, data: bytes) -> None:
        with open(path, "wb") as f:
            f.write(data)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)


_REGISTRY: dict[str, FileSystem] = {"file": LocalFileSystem(), "": LocalFileSystem()}


def register_filesystem(scheme: str, fs: FileSystem) -> None:
    """Plug in a filesystem for ``scheme`` (e.g. ``"s3"``). Deployment
    hook — the engine itself registers only the local filesystem."""
    _REGISTRY[scheme] = fs


def get_filesystem(path: str) -> FileSystem:
    scheme = path.split("://", 1)[0] if "://" in path else ""
    fs = _REGISTRY.get(scheme)
    if fs is None:
        raise NotImplementedError(
            f"no filesystem registered for scheme {scheme!r} (path {path!r}); "
            "register one with tsdat_spark.io.fs.register_filesystem — Spark "
            "table scans are unaffected (they use Spark's own Hadoop FS layer)"
        )
    return fs


def write_binary_parts(df, path: str, render_blob, partitions: int | None = None,
                       suffix: str = ".nc") -> list:
    """Task-side part writes for whole-file binary sinks (NetCDF-3/4).

    Each partition renders ONE blob via ``render_blob(pdf) -> bytes`` and
    PUTs it to ``<path>/part-<partition_id>-<suffix>`` INSIDE the Spark
    task — the filesystem is resolved on the driver (where deployments call
    ``register_filesystem``) and pickled into the closure, the same
    contract as zarr chunk writes. Only tiny (path, nbytes, rows) manifest
    rows come back to the driver, so at 100 TB of export parts neither
    driver memory nor driver bandwidth is on the data path (the old shape —
    ``mapInPandas(render).collect()`` + a driver write loop — was the one
    remaining scale-killer in the engine).

    Returns the manifest rows (one per non-empty partition).
    """
    import os as _os
    from typing import Iterator

    import pandas as pd
    from pyspark import TaskContext

    fs = get_filesystem(path)
    fs.makedirs(path)

    def render(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        chunks = [b for b in batches if not b.empty]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        blob = render_blob(pdf)
        pid = TaskContext.get().partitionId()
        part_path = _os.path.join(path, f"part-{pid:05d}{suffix}")
        fs.write_bytes(part_path, blob)
        yield pd.DataFrame(
            {"path": [part_path], "nbytes": [len(blob)], "rows": [len(pdf)]}
        )

    staged = df.repartition(partitions) if partitions else df
    return staged.mapInPandas(render, "path string, nbytes long, rows long").collect()
