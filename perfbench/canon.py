"""Canonical answer hash, the same form as graft's dev/compare.py.

Columns are sorted by name; each row becomes its values joined by "|"
(floats by repr, nulls as NULL); the sorted rows are md5-hashed.
"""
import hashlib

import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for r in df.itertuples(index=False):
        vals = []
        for v in r:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(repr(v))
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    rows.sort()
    return {
        "md5": hashlib.md5("\n".join(rows).encode()).hexdigest(),
        "rows": len(df),
        "cols": sorted(df.columns),
    }
