"""QC handlers — DataFrame stages consuming a failure-mask Column.

Relational re-expression of tsdat's handler contract
(``tsdat/qc/base/quality_handler.py:16-40``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class DataQualityError(ValueError):
    """Raised by :func:`fail_pipeline` (tsdat ``DataQualityError``)."""


def record_quality_results(
    df: DataFrame, var: str, mask: Column, bit: int
) -> DataFrame:
    """OR ``2^(bit-1)`` into ``qc_<var>`` where the mask is True.

    tsdat appends each test to the bit-packed companion variable via ACT's
    ``qcfilter.add_test`` with the next free bit
    (``tsdat/qc/handlers/record_quality_results.py:56-83``); here the bit
    number is assigned by the manager (registration order) and the update is
    a single codegen'd expression.
    """
    qc_col = f"qc_{var}"
    existing = F.col(qc_col) if qc_col in df.columns else F.lit(0)
    flag = F.when(F.coalesce(mask, F.lit(False)), F.lit(1 << (bit - 1))).otherwise(0)
    return df.withColumn(qc_col, (F.coalesce(existing, F.lit(0)).cast("int")).bitwiseOR(flag))


def remove_failed_values(
    df: DataFrame, var: str, mask: Column, is_coordinate: bool = False
) -> DataFrame:
    """Failed data values → NULL (tsdat: → ``_FillValue``); failed
    *coordinate* values drop the whole row
    (``tsdat/qc/handlers/remove_failed_values.py:8-26``)."""
    if is_coordinate:
        return df.where(~F.coalesce(mask, F.lit(False)))
    return df.withColumn(var, F.when(F.coalesce(mask, F.lit(False)), F.lit(None)).otherwise(F.col(var)))


def fail_pipeline(
    df: DataFrame,
    var: str,
    mask: Column,
    tolerance: float = 0.0,
    display_limit: int = 5,
    context: str = "",
) -> DataFrame:
    """Raise :class:`DataQualityError` if the failure ratio exceeds
    ``tolerance`` (``tsdat/qc/handlers/fail_pipeline.py:15-87``).

    This is necessarily an action (one partial-aggregated count job); the
    first ``display_limit`` failing rows are collected for the message.
    """
    flagged = df.withColumn("__fail", F.coalesce(mask, F.lit(False)))
    n_failed, n_total = flagged.select(
        F.sum(F.col("__fail").cast("long")), F.count(F.lit(1))
    ).first()
    n_failed = n_failed or 0
    if n_total and (n_failed / n_total) > tolerance:
        examples = (
            flagged.where(F.col("__fail")).select(var).limit(display_limit).collect()
        )
        pct = 100.0 * n_failed / n_total
        raise DataQualityError(
            f"Quality check failed for variable '{var}'{context}: "
            f"{n_failed}/{n_total} ({pct:.3f}%) values failed "
            f"(tolerance {tolerance:.3%}). First {len(examples)} failing values: "
            f"{[r[0] for r in examples]}"
        )
    return df


def cubic_spline_interp(
    df: DataFrame,
    var: str,
    mask: Column,
    series_keys: list[str],
    order_col: str = "ts",
    n_points: int = 12,
    max_gap: int = 6,
) -> DataFrame:
    """Replace failed values with a bounded-gap natural-cubic-spline fill
    (tsdat ``CubicSplineInterp``, ``cubic_spline_interp.py:9-53``; kernel in
    :mod:`tsdat_spark.qc.spline`).

    One hash repartition on the series keys + sortWithinPartitions, then a
    single ``mapInPandas`` per partition using sort+boundary numpy slicing —
    never a per-group Python call. Masked runs longer than ``max_gap`` (or
    without valid context on both sides) become NULL, matching the
    reference's NaN semantics.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from ..grouping import group_slices
    from .spline import cubic_spline_fill

    keys = list(series_keys)
    is_ts = dict(df.dtypes).get(order_col) == "timestamp"
    # x coordinate as plain float64 positions, built BEFORE the pandas stage
    xexpr = F.unix_micros(F.col(order_col)).cast("double") if is_ts else F.col(order_col).cast("double")
    flagged = (
        df.withColumn("__fail", F.coalesce(mask, F.lit(False))).withColumn("__x", xexpr)
    )
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    out_cols = df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [b for b in batches if not b.empty]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        # sort by (keys, x); group_slices re-sorts by keys only (stable), so
        # within-group x order is preserved and boundaries come for free
        pdf = pdf.sort_values([*keys, "__x"], kind="stable", ignore_index=True)
        pdf, gstarts, gends = group_slices(pdf, keys)
        x = pdf["__x"].to_numpy(np.float64)
        y = pdf[var].to_numpy(np.float64, na_value=np.nan)
        m = pdf["__fail"].to_numpy(bool)
        filled = np.empty_like(y)
        for s_, e_ in zip(gstarts, gends):
            filled[s_:e_] = cubic_spline_fill(x[s_:e_], y[s_:e_], m[s_:e_], n_points, max_gap)
        pdf[var] = filled
        yield pdf[out_cols]

    # Explicit partition count for the same AQE-coalescing reason as
    # rollup/tiers.py and qc/despike.py: keep the Python spline stage wide.
    if keys:
        n_shuffle = int(flagged.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        staged = flagged.repartition(n_shuffle, *keys)
    else:
        staged = flagged.coalesce(1)
    return staged.mapInPandas(run, schema)


def sort_by_coordinate(
    df: DataFrame, by: list[str], ascending: bool = True
) -> DataFrame:
    """tsdat ``SortDatasetByCoordinate`` (``sort_dataset_by_coordinate.py:10-36``)
    resorts the dataset when ordering failures were detected. In the engine,
    global order is never relied on — every order-sensitive operator sorts
    within its own window — so this is a `sortWithinPartitions` (no extra
    shuffle) used only when materializing user-facing output.
    """
    cols = [F.col(c).asc() if ascending else F.col(c).desc() for c in by]
    return df.sortWithinPartitions(*cols)
