"""Order-insensitive result hashing for the driver-query pass.

A result is hashed the way the engine's oracle check compares it
(tools/check_oracle.py): columns sorted by name, datetime units normalized
to microseconds, the effective dtype of every column part of the identity,
rows sorted, each cell compared exactly (Decimal by value, float by its
exact repr, NaN in a non-float column read as NULL). Two results hash
equal exactly when that check would pass them.
"""
import hashlib
import json
import math
from decimal import Decimal

import numpy as np


def _dtype_name(series):
    dt = str(series.dtype)
    if dt == "object":
        for v in series:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                continue
            return f"object[{type(v).__name__}]"
    return dt


def _cell(v, float_col):
    if v is None:
        return "null"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan" if float_col else "null"
        return repr(v)
    if isinstance(v, Decimal):
        return "d" + str(v.normalize())
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x, isinstance(x, float)) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def frame_hash(df):
    """Hash of a pandas DataFrame as the oracle check sees it."""
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype.kind == "M":
            try:
                df[c] = df[c].astype("datetime64[us]")
            except (TypeError, ValueError):
                pass
    header = [[c, _dtype_name(df[c])] for c in df.columns]
    floats = [df[c].dtype.kind == "f" for c in df.columns]
    rows = sorted(
        json.dumps([_cell(v, f) for v, f in zip(row, floats)])
        for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256(json.dumps(header).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:32]


def parquet_hash(path):
    """Hash of a Spark-written result directory, read through pyarrow."""
    import pyarrow.parquet as pq
    return frame_hash(pq.read_table(path).to_pandas())
