"""Tier-table storage.

tsdat stores one file per day with templated names
(``tsdat/io/storage/file_system.py:27-59,161-179``) and re-discovers them
by filename-date filtering (``:228-268``). The relational equivalent is a
date-partitioned table: the partition column IS the filename date, and
Catalyst partition pruning replaces the glob+filter.

Canonical format is Iceberg on a real deployment (snapshot ids give the
lineage manifests true input fingerprints; incremental reads replace
tsdat's ``modified_since``). The sandbox image has no Iceberg jars, so the
writer degrades to date-partitioned parquet with identical layout and an
explicit manifest sidecar (``checkpoint.py``) standing in for the snapshot
metadata. The code path is chosen at runtime behind an import/config probe.

Iceberg table metadata also records the schema, so an Iceberg scan plans
without touching a data file. The parquet fallback keeps the same property
with a hidden ``<table>/_schema.json`` sidecar: :func:`write_tier` records
the written schema there, and :func:`read_tier` hands it to
``spark.read.schema(...)`` instead of launching parquet's one-task
schema-inference job. The ``_`` prefix keeps Spark scans blind to it, like
``_manifests/``. Tables written by something else have no sidecar and are
read with inference.
"""

from __future__ import annotations

import json
import posixpath
from datetime import datetime

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .fs import get_filesystem

PARTITION_COL = "p_date"
SCHEMA_SIDECAR = "_schema.json"


def _sidecar_fs(path: str):
    """Filesystem for the schema sidecar, or None for a scheme with no
    registered filesystem: Spark still reads and writes such a table, it
    just infers the schema."""
    try:
        return get_filesystem(path)
    except NotImplementedError:
        return None


def schema_reader(spark: SparkSession, schema: dict | None) -> DataFrameReader:
    """``spark.read`` bound to a recorded schema (``StructType.jsonValue()``
    form), or the plain inferring reader when none was recorded."""
    reader = spark.read
    return reader.schema(StructType.fromJson(schema)) if schema else reader


#: application id -> whether its driver JVM has the Iceberg classes
_ICEBERG_BY_APP: dict[str, bool] = {}


def _iceberg_available(spark: SparkSession) -> bool:
    """Probed once per Spark application: a running JVM's classpath does
    not change, and the failed class lookup costs ~40 ms per call."""
    app = spark.sparkContext.applicationId
    if app not in _ICEBERG_BY_APP:
        try:
            jvm = spark._jvm  # noqa: SLF001
            jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
            _ICEBERG_BY_APP[app] = True
        except Exception:
            _ICEBERG_BY_APP[app] = False
    return _ICEBERG_BY_APP[app]


def iceberg_table_writer(out: DataFrame, table: str) -> None:
    """The catalog-table branch: replace-table-as-select partitioned by
    day(p_date) — Iceberg's snapshot-per-write is what gives the lineage
    manifests true input fingerprints on a real deployment. Duck-typed
    (plain attribute calls) so the branch shape is unit-testable without
    Iceberg jars."""
    out.writeTo(table).partitionedBy(F.col(PARTITION_COL)).createOrReplace()


def write_tier(
    df: DataFrame,
    path: str,
    ts_col: str = "bin_start",
    table_writer=None,
) -> None:
    """Write a tier table partitioned by days(ts_col).

    Dynamic partition overwrite makes re-runs idempotent per day-partition —
    the resume unit of the checkpoint protocol.

    ``table_writer``: optional ``(out_df, path) -> None`` implementing the
    catalog-table branch; when None, :func:`iceberg_table_writer` is used if
    Iceberg classes are on the classpath, else the date-partitioned parquet
    fallback. Injectable so the catalog path is testable without jars.
    """
    spark = df.sparkSession
    out = df.withColumn(PARTITION_COL, F.to_date(F.col(ts_col)))
    if table_writer is None and _iceberg_available(spark):  # pragma: no cover - no jars in sandbox
        table_writer = iceberg_table_writer
    if table_writer is not None:
        table_writer(out, path)
        return
    (out.write.partitionBy(PARTITION_COL).mode("overwrite")
     .option("partitionOverwriteMode", "dynamic").parquet(path))
    fs = _sidecar_fs(path)
    if fs is not None:
        fs.write_text(posixpath.join(path, SCHEMA_SIDECAR),
                      json.dumps(out.schema.jsonValue()))


class CSVDatasetWriter:
    """Engine analog of tsdat's ``CSVWriter`` (``csv_writer.py:14-91``):
    a distributed header-CSV write of the standardized table plus the two
    metadata sidecars the reference emits next to the data — global
    attributes (``.hdr.csv`` analog) and per-variable attributes
    (``.attrs.csv`` analog). Sidecars are tiny and written driver-side
    INSIDE the output directory with a ``_`` prefix, so Spark/Hadoop scans
    treat them as hidden (like ``_SUCCESS``) and the table reads back clean.
    """

    ATTRS_SIDECAR = "_attrs.csv"
    VAR_ATTRS_SIDECAR = "_var_attrs.csv"

    def __init__(
        self,
        sep: str = ",",
        timestamp_format: str = "yyyy-MM-dd HH:mm:ss.SSSSSS",
        attrs: dict | None = None,
        var_attrs: dict | None = None,
        mode: str = "overwrite",
    ):
        self.sep = sep
        self.timestamp_format = timestamp_format
        self.attrs = dict(attrs or {})
        self.var_attrs = {k: dict(v) for k, v in (var_attrs or {}).items()}
        self.mode = mode

    def write(self, df: DataFrame, path: str) -> None:
        (
            df.write.mode(self.mode)
            .option("header", "true")
            .option("sep", self.sep)
            .option("timestampFormat", self.timestamp_format)
            .csv(path)
        )
        import csv
        import io as _io
        import os

        from .fs import get_filesystem

        fs = get_filesystem(path)
        buf = _io.StringIO(newline="\n")
        w = csv.writer(buf)
        for k, v in self.attrs.items():
            w.writerow([k, v])
        fs.write_text(os.path.join(path, self.ATTRS_SIDECAR), buf.getvalue())
        keys = sorted({a for attrs in self.var_attrs.values() for a in attrs})
        buf = _io.StringIO(newline="\n")
        w = csv.writer(buf)
        w.writerow(["name", *keys])
        for name, attrs in self.var_attrs.items():
            w.writerow([name, *[attrs.get(k, "") for k in keys]])
        fs.write_text(os.path.join(path, self.VAR_ATTRS_SIDECAR), buf.getvalue())

    # uniform sink signature (matches write_tier's table_writer contract)
    __call__ = write


#: spark sql type -> numpy dtype name for A2e `var:dtype=` metadata lines
#: (inverse of config._DTYPE_MAP; strings get no dtype line, like the
#: reference: a2e_csv_writer.py:58-67)
_SPARK_TO_NUMPY = {
    "double": "float64", "float": "float32", "bigint": "int64", "long": "int64",
    "int": "int32", "smallint": "int16", "tinyint": "int8",
    "timestamp": "datetime64[ns]", "boolean": "bool",
}


class A2eCSVDatasetWriter:
    """Engine analog of tsdat's ``A2eCSVWriter`` (``a2e_csv_writer.py:14-110``):
    every output part file is a self-describing A2e metadata-header CSV —
    ``header=N`` on line 0, ``key="value"`` global attributes and
    ``var:attr=value`` / ``var:dtype=...`` variable metadata, then the
    column header and data (timestamps rendered with the reference's
    ``%Y-%m-%d %H:%M:%S.%f``). A directory of parts is exactly tsdat's
    set of day-files and reads straight back through
    :class:`~tsdat_spark.io.readers.A2eCSVReader`.

    Distribution: the metadata block is built once on the driver from the
    schema + declared attrs; each partition renders its rows with a single
    vectorized ``to_csv`` and emits ONE file's text, written by Spark's csv
    sink with quoting disabled (single column → the text passes through
    verbatim, and parts keep the ``.csv`` extension the A2e reader globs).
    """

    def __init__(
        self,
        attrs: dict | None = None,
        var_attrs: dict | None = None,
        time_format: str = "%Y-%m-%d %H:%M:%S.%f",
        partitions: int | None = None,
        mode: str = "overwrite",
    ):
        self.attrs = dict(attrs or {})
        self.var_attrs = {k: dict(v) for k, v in (var_attrs or {}).items()}
        self.time_format = time_format
        self.partitions = partitions
        self.mode = mode

    def _metadata_block(self, df: DataFrame) -> str:
        def att_line(prefix: str, name: str, value) -> str:
            if isinstance(value, str):
                # a raw newline would add an uncounted physical line and
                # desync the header=N count; escape it (reader-visible '\n')
                rendered = '"' + value.replace("\n", "\\n") + '"'
            else:
                rendered = value
            return f"{prefix}{name}={rendered}"

        glines = [att_line("", k, v) for k, v in self.attrs.items()]
        vlines = []
        for col, typ in df.dtypes:
            if typ in _SPARK_TO_NUMPY:
                vlines.append(f"{col}:dtype={_SPARK_TO_NUMPY[typ]}")
            for a, v in (self.var_attrs.get(col) or {}).items():
                vlines.append(att_line(f"{col}:", a, v))
        # header=N: the column header is file line N (a2e_csv_writer.py:73)
        return "\n".join([f"header={len(glines) + len(vlines) + 1}", *glines, *vlines])

    def write(self, df: DataFrame, path: str) -> None:
        from typing import Iterator

        import pandas as pd

        block = self._metadata_block(df)
        time_format = self.time_format
        # Arrow hands integral columns with NULLs to pandas as float64+NaN;
        # rendered as "123.0" they would no longer parse as the declared
        # int dtype. Restore nullable Int dtypes before rendering so ints
        # print as "123" / "" (round-trip-exact with A2eCSVReader).
        int_cols = [c for c, t in df.dtypes
                    if t in ("bigint", "long", "int", "smallint", "tinyint")]

        def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            chunks = [b for b in batches if not b.empty]
            if not chunks:
                return  # no file for empty partitions
            pdf = pd.concat(chunks, ignore_index=True)
            for c in int_cols:
                pdf[c] = pdf[c].astype("Int64")
            data = pdf.to_csv(index=False, header=True, date_format=time_format)
            yield pd.DataFrame({"value": [block + "\n" + data]})

        staged = df.repartition(self.partitions) if self.partitions else df
        (
            staged.mapInPandas(render, "value string")
            .write.mode(self.mode)
            .option("quote", "")
            .option("escape", "")
            .csv(path)
        )

    __call__ = write


def read_tier(
    spark: SparkSession,
    path: str,
    start: datetime | str | None = None,
    end: datetime | str | None = None,
) -> DataFrame:
    """Scan a tier table; the date predicate prunes partitions (tsdat's
    fetch_data time-range file filtering, for free from Catalyst). The
    schema comes from the table's sidecar when :func:`write_tier` wrote
    one (see module docstring)."""
    fs = _sidecar_fs(path)
    sidecar = posixpath.join(path, SCHEMA_SIDECAR)
    schema = json.loads(fs.read_text(sidecar)) if fs and fs.exists(sidecar) else None
    df = schema_reader(spark, schema).parquet(path)
    if start is not None:
        df = df.where(F.col(PARTITION_COL) >= F.to_date(F.lit(start)))
    if end is not None:
        df = df.where(F.col(PARTITION_COL) <= F.to_date(F.lit(end)))
    return df
