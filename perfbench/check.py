"""Result checks: DuckDB oracles and pinned digests.

Rows are compared the way the engine's own oracle tests compare them:
both sides go through pandas, columns are sorted by name, and every
cell is serialized exactly, so ``5``, ``5.0`` and ``Decimal('5.00')``
differ. Only NULLs and timestamps are normalized.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import duckdb
import pandas as pd

def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, decimal.Decimal):
        return f"Decimal({v})"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ", ".join(_cell(x) for x in v) + "]"
    return repr(v.item() if hasattr(v, "item") else v)


def canon(pdf: pd.DataFrame) -> tuple[list[str], list[tuple[str, ...]]]:
    """Column names and sorted serialized rows of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None))
    return cols, rows


def digest(pdf: pd.DataFrame) -> str:
    cols, rows = canon(pdf)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


class Oracle:
    """DuckDB views over the parquet tables of one input directory."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                self.con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{path}'")

    def mismatch(self, got: pd.DataFrame, sql: str) -> str | None:
        """None when ``got`` equals the oracle's rows, else the reason."""
        g_cols, g_rows = canon(got)
        w_cols, w_rows = canon(self.con.execute(sql).df())
        if g_cols != w_cols:
            return f"columns {g_cols} != {w_cols}"
        if len(g_rows) != len(w_rows):
            return f"{len(g_rows)} rows != {len(w_rows)}"
        bad = [(a, b) for a, b in zip(g_rows, w_rows) if a != b]
        return f"{len(bad)} rows differ, first {bad[0]}" if bad else None

    def close(self) -> None:
        self.con.close()

