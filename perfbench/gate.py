"""Correctness gate: checks a workload's output outside the timed passes.

Three checks, each returning the problems it found (an empty list passes):

- row count: one output row per distinct probe;
- leakage: no output row matched data later than its probe, counted over the
  whole output;
- oracle: a fixed sample of conversations, always including the largest,
  recomputed by the single-node oracles in ``featureextraction_spark.oracle``
  and compared exactly (ids, strings, timestamps) or with ``np.isclose``
  (floats).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

RTOL = ATOL = 1e-9  # the tolerance of tests/test_feature_pipeline.py


def check_rows(n_out: int, n_probes: int, what: str) -> list[str]:
    if n_out != n_probes:
        return [f"{what}: {n_out} output rows for {n_probes} distinct probes"]
    return []


def check_leaks(n_leaks: int, what: str) -> list[str]:
    return [f"{what}: {n_leaks} rows read data later than their probe"] if n_leaks else []


def _normalise(s: pd.Series) -> pd.Series:
    """Comparable values: timestamps as epoch microseconds, missing as None."""
    if pd.api.types.is_datetime64_any_dtype(s):
        s = s.astype("datetime64[us]").astype("int64").where(s.notna())
    return s.astype(object).where(s.notna(), None)


def compare(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str], exact: list[str],
            close: list[str], what: str) -> list[str]:
    """Row-by-row comparison after sorting both frames on ``keys``.

    ``exact`` columns must be equal (None equals None); ``close`` columns
    are floats compared with ``np.isclose(equal_nan=True)``.
    """
    if len(got) != len(exp):
        return [f"{what}: {len(got)} rows, oracle has {len(exp)}"]
    g = got.sort_values(keys, kind="mergesort").reset_index(drop=True)
    e = exp.sort_values(keys, kind="mergesort").reset_index(drop=True)
    problems = []
    for c in keys + exact:
        a, b = _normalise(g[c]), _normalise(e[c])
        bad = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
        if bad:
            i = bad[0]
            problems.append(f"{what}.{c}: {len(bad)} mismatches, first {a[i]!r} != {b[i]!r}")
    for c in close:
        a = g[c].to_numpy(dtype=float)
        b = e[c].to_numpy(dtype=float)
        ok = np.isclose(a, b, rtol=RTOL, atol=ATOL, equal_nan=True)
        if not ok.all():
            i = int(np.argmax(~ok))
            problems.append(f"{what}.{c}: {(~ok).sum()} mismatches, first {a[i]!r} != {b[i]!r}")
    return problems
