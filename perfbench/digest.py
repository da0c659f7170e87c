"""Order-insensitive digest of a query result.

The normalization is the one the oracle parity checker
(tools/check_correctness.py) compares under: columns sorted by name,
floats at 9 significant digits, timestamps at microseconds, every value
as a string, rows sorted. It is copied rather than imported so the
benchmark does not change when the code it measures does.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def _round_sig(x):
    if isinstance(x, float):
        if math.isnan(x):
            return "nan"
        if math.isinf(x):
            return "inf" if x > 0 else "-inf"
        if x == 0:
            return "0"
        return f"{x:.9g}"
    return x


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind in "fc":
            df[c] = df[c].map(_round_sig)
        elif df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: _round_sig(v) if isinstance(v, float) else v)
    return df.astype(str)


def digest(df: pd.DataFrame) -> dict:
    """``{"rows": n, "sha256": hex}`` of the normalized frame. Rows are
    hashed one by one and the row hashes sorted, which orders rows as
    sorting them would, without the string sort."""
    norm = normalize(df)
    rows = pd.util.hash_pandas_object(norm, index=False).to_numpy(copy=True)
    rows.sort()
    h = hashlib.sha256("\x1f".join(norm.columns).encode())
    h.update(rows.tobytes())
    return {"rows": len(norm), "sha256": h.hexdigest()}
