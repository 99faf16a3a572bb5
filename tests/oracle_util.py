"""DuckDB-as-oracle comparison at the driver's strictness.

The driver converts both results through pandas (Spark ``toPandas()``
vs DuckDB ``.df()``), sorts columns by name, and hashes serialized
cell values. Round 1 lesson (VERDICT.md "What's wrong" #1/#2): a lax
``round(v, 9) + ==`` harness let ``Decimal('5.00') == 5 == 5.0`` pass
locally while the driver hashed them differently — 11 queries showed
rows_match+schema_match but hash_match:false. This harness therefore
compares:

- pandas dtypes per column (datetime-ish dtypes collapsed to one
  bucket — timestamp unit/backing varies across engines while the
  serialized values still match);
- serialized cell reprs, where ``Decimal('5.00')``, ``5``, and ``5.0``
  are all DIFFERENT. Temporal values are normalized to isoformat
  before repr (both engines' drivers render them equivalently).

A dtype drift (decimal-object vs float64, int64 vs float64) now fails
pytest instead of surviving until the driver's value hash.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import pandas as pd


def duckdb_run_df(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con.execute(sql).df()


_TEMPORAL_PREFIXES = ("datetime64", "timestamp")


def _dtype_bucket(series: pd.Series) -> str:
    """Dtype kind-bucket matching the driver's serialization: integer
    widths collapse (int32(5) and int64(5) hash alike), float widths
    collapse, temporal dtypes collapse — but int-vs-float and
    decimal-object-vs-float stay DISTINCT (5 vs 5.0 hash differently,
    the round-1 bug class)."""
    s = str(series.dtype)
    if s.startswith(_TEMPORAL_PREFIXES) or s == "date32[day][pyarrow]":
        return "temporal"
    kind = getattr(series.dtype, "kind", None)
    if kind in ("i", "u"):
        return "int"
    if kind == "f":
        return "float"
    if s == "object":
        for v in series:
            if v is None:
                continue
            if isinstance(v, (datetime.datetime, datetime.date, pd.Timestamp)):
                return "temporal"
            return "object"
    return s


def _ser_cell(v) -> str:
    """Exact serialized repr — Decimal('5.00'), 5, and 5.0 all differ.
    Only NULL-ness and temporal rendering are normalized."""
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, datetime.date):
        # DATE renders as date objects in Spark but midnight Timestamps
        # in DuckDB .df(); the driver hashes them as equal (round-1
        # click_blacklist passed) — serialize both as midnight datetime.
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, decimal.Decimal):
        return f"Decimal({v})"
    if isinstance(v, (bytes, bytearray)):
        return repr(bytes(v))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ", ".join(_ser_cell(x) for x in v) + "]"
    # np.int64/np.float64 repr like their Python twins ("5" / "5.0")
    return repr(v.item() if hasattr(v, "item") else v)


def _canon(df: pd.DataFrame):
    cols = sorted(df.columns)
    dtypes = {c: _dtype_bucket(df[c]) for c in cols}
    rows = sorted(
        tuple(_ser_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    return cols, dtypes, rows


def compare_spark_duckdb(spark_df, oracle_sql: str, sf_dir: str) -> None:
    s_pdf = spark_df.toPandas()
    d_pdf = duckdb_run_df(oracle_sql, sf_dir)
    s_cols, s_types, s_rows = _canon(s_pdf)
    d_cols, d_types, d_rows = _canon(d_pdf)
    assert s_cols == d_cols, f"columns differ: {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"row count differs: {len(s_rows)} vs {len(d_rows)}"
    type_diff = {c: (s_types[c], d_types[c]) for c in s_cols if s_types[c] != d_types[c]}
    assert not type_diff, f"pandas dtypes differ (driver hash would fail): {type_diff}"
    mismatches = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    assert not mismatches, (
        f"{len(mismatches)} serialized row mismatches; first: {mismatches[0]}"
    )
