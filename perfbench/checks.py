"""Output comparison helpers: frame equality with float tolerance, and
order-independent fingerprints for outputs too large to compare row by
row."""

from __future__ import annotations

import decimal

import numpy as np
import pandas as pd

RTOL = 1e-9
ATOL = 1e-6


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    """Timestamps as naive UTC microseconds, decimals as floats."""
    out = df.copy()
    for c in out.columns:
        s = out[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            out[c] = s.dt.tz_convert("UTC").dt.tz_localize(None) \
                .astype("datetime64[us]")
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]")
        elif s.dtype == object and any(isinstance(v, decimal.Decimal)
                                       for v in s.head(50)):
            out[c] = s.astype("float64")
    return out


def _exact_cols(df: pd.DataFrame) -> list[str]:
    return [c for c in df.columns if not pd.api.types.is_float_dtype(df[c])]


def frames_match(got: pd.DataFrame, want: pd.DataFrame,
                 ordered: bool = False, rtol: float = RTOL,
                 atol: float = ATOL) -> bool:
    """Same columns and rows; floats compared with tolerance. Unordered
    frames are sorted by their exact columns, then by rounded floats."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    g, w = _norm(got), _norm(want)
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]) != pd.api.types.is_float_dtype(w[c]):
            g[c] = g[c].astype("float64")
            w[c] = w[c].astype("float64")
    if not ordered:
        keys = _exact_cols(g)
        floats = [c for c in g.columns if c not in keys]
        def sort(df):
            tmp = df.copy()
            rk = [f"__r_{c}" for c in floats]
            for c, r in zip(floats, rk):
                tmp[r] = tmp[c].round(3)
            tmp = tmp.sort_values(keys + rk, na_position="last",
                                  kind="mergesort")
            return tmp.drop(columns=rk).reset_index(drop=True)
        g, w = sort(g), sort(w)
    else:
        g, w = g.reset_index(drop=True), w.reset_index(drop=True)
    for c in g.columns:
        a, b = g[c], w[c]
        if pd.api.types.is_float_dtype(a):
            an, bn = a.to_numpy(dtype=float), b.to_numpy(dtype=float)
            if not np.array_equal(np.isnan(an), np.isnan(bn)):
                return False
            m = ~np.isnan(an)
            if not np.allclose(an[m], bn[m], rtol=rtol, atol=atol):
                return False
        else:
            if not (a.isna().to_numpy() == b.isna().to_numpy()).all():
                return False
            if not (a[a.notna()].astype(str).to_numpy()
                    == b[b.notna()].astype(str).to_numpy()).all():
                return False
    return True


def row_hash(df: pd.DataFrame) -> int:
    """Order-independent hash of the exact (non-float) columns: the sum,
    mod 2**64, of one hash per row."""
    cols = _exact_cols(_norm(df))
    if not cols:
        return len(df)
    h = pd.util.hash_pandas_object(_norm(df)[cols].astype(str), index=False)
    return int(h.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))
