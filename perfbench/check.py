"""Output check: each call's rows against its DuckDB twin.

Both sides are reduced to a row count plus an order-insensitive
fingerprint (the wrapping sum of per-row hashes, columns taken in name
order), so neither side has to be sorted. Values compare the way the engine's
oracle-parity tests compare them: integers of any width are equal when
their values are, floats must match exactly.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pandas.util import hash_array

from fixtures import TABLES

NULL = np.int64(-(2**62))  # stands in for NULL in integer columns
# DuckDB scans a Parquet file with one thread per row group and the inputs
# hold one row group each; the twins hash every token of every document,
# so they read a copy of ``documents`` cut into small row groups
SPLIT_TABLES = ("documents",)
SPLIT_ROWS = 256


def _canon(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return None
        return int(f) if f.is_integer() and abs(f) < 2**53 else repr(f)
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (dt.date,)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "asDict"):  # pyspark Row inside a struct column
        return _canon(v.asDict())
    return str(v)


def _column_hash(s: pd.Series) -> np.ndarray:
    """One uint64 per row. Integral floats hash as integers, so an integer
    column and its float twin (nullable, say) agree."""
    kind = s.dtype.kind
    if kind in "iub" and not s.hasnans:
        return hash_array(s.to_numpy().astype(np.int64))
    if kind in "iubf":
        a = s.to_numpy(dtype=np.float64, na_value=np.nan)
        fin = np.isfinite(a)
        if np.all(a[fin] == np.trunc(a[fin])) and np.all(np.abs(a[fin]) < 2**53):
            return hash_array(np.where(fin, a, 0).astype(np.int64) ^ np.where(fin, 0, NULL))
        return hash_array(np.where(np.isnan(a), np.nan, a))
    if kind == "M":
        ns = s.astype("datetime64[ns]").to_numpy().view(np.int64)
        return hash_array(ns)
    return hash_array(np.array([repr(_canon(v)) for v in s], dtype=object))


def fingerprint(pdf: pd.DataFrame) -> tuple[int, int, tuple[str, ...]]:
    cols = tuple(sorted(pdf.columns))
    h = np.zeros(len(pdf), dtype=np.uint64)
    for c in cols:
        h = (h * np.uint64(0x100000001B3)) ^ _column_hash(pdf[c])
    return len(pdf), int(h.sum(dtype=np.uint64)), cols


class Oracle:
    """DuckDB views over one data directory (``SPLIT_TABLES`` read from
    copies under ``work_dir``); answers are cached per call."""

    def __init__(self, data_dir: str, work_dir: str):
        self.con = duckdb.connect()
        os.makedirs(work_dir, exist_ok=True)
        for t in TABLES:
            path = f"{data_dir}/{t}.parquet"
            if t in SPLIT_TABLES:
                split = f"{work_dir}/{t}.parquet"
                pq.write_table(pq.read_table(path), split, row_group_size=SPLIT_ROWS)
                path = split
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._cache: dict[str, tuple] = {}

    def expected(self, name: str, sql: str) -> tuple:
        if name not in self._cache:
            self._cache[name] = fingerprint(self.con.execute(sql).df())
        return self._cache[name]

    def close(self) -> None:
        self.con.close()


def mismatch(got: tuple, want: tuple) -> str | None:
    """None when the fingerprints agree, else a one-line reason."""
    if got[2] != want[2]:
        return f"columns {list(got[2])} != {list(want[2])}"
    if got[0] != want[0]:
        return f"row count {got[0]} != {want[0]}"
    if got[1] != want[1]:
        return "row values differ"
    return None
