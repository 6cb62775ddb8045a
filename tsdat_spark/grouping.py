"""Group boundaries inside one pandas batch.

Per-group pandas calls (``groupby`` iteration, ``applyInPandas``) cost
~100 µs per group, and at tier grain there are about as many groups as
rows. The ``mapInPandas`` stages instead sort each batch once and walk
the groups as numpy slices.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def group_slices(pdf: pd.DataFrame, keys: list[str]):
    """Sort so equal keys are adjacent; return (sorted pdf, group start
    idx, group end idx).

    Keys are factorized to int codes and ordered with one ``np.lexsort``:
    grouping only needs equal keys adjacent, not lexicographic order, and
    an int lexsort beats ``sort_values`` over object (string) columns by
    ~5-10x at tier-partition sizes. ``np.lexsort`` is stable, so a prior
    within-group order survives. Nulls/NaT factorize to one shared -1
    code (null == null for grouping). Boundaries come from the codes
    (factorize is exact), not a per-column value compare."""
    n = len(pdf)
    codes = [pd.factorize(pdf[k], use_na_sentinel=True)[0] for k in keys]
    order = np.lexsort(tuple(reversed(codes)))
    pdf = pdf.iloc[order].reset_index(drop=True)
    change = np.zeros(n - 1, dtype=bool)
    for c in codes:
        cs = c[order]
        change |= cs[1:] != cs[:-1]
    starts = np.concatenate([[0], np.flatnonzero(change) + 1])
    ends = np.concatenate([starts[1:], [n]])
    return pdf, starts, ends
