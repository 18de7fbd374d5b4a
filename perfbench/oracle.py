"""Canonical result hash, the same canonical form as tools/check_oracle.py.

Columns are sorted by name, floats rendered with repr(), timestamps as ISO
strings at microsecond precision, other objects with repr(); rows are sorted
by every column. Two results are equal exactly when check_oracle.py would
call them equal: same columns, same dtypes after canonicalisation, same rows.
"""
import hashlib

import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.map(lambda v: None if pd.isna(v) else repr(float(v)))
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").map(lambda v: None if pd.isna(v) else v.isoformat())
        elif s.dtype == object:
            df[c] = s.map(lambda v: repr(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


def canon_hash(df: pd.DataFrame) -> str:
    c = canon(df.copy())
    h = hashlib.sha256()
    h.update(repr([(col, str(c[col].dtype)) for col in c.columns]).encode())
    h.update(c.to_csv(index=False).encode())
    return h.hexdigest()
