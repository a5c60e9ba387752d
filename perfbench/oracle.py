"""Order-insensitive result digests and the DuckDB oracle."""

from __future__ import annotations

import decimal
import hashlib
import math
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd


def _norm(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        # the two engines fetch some integral aggregates as floats
        return str(int(f)) if f.is_integer() else repr(f)
    if isinstance(v, (list, tuple, np.ndarray)):
        # Spark gives arrays as ndarrays, DuckDB as lists
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, sha256 over sorted canonical rows and column names)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_norm(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()


class Oracle:
    """DuckDB over the same parquet files the engine reads."""

    def __init__(self, data_dir: Path, tables: list[str]):
        self._con = duckdb.connect()
        for t in tables:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir / (t + '.parquet')}')"
            )

    def digest(self, sql: str) -> tuple[int, str]:
        return digest(self._con.execute(sql).fetchdf())

    def close(self) -> None:
        self._con.close()
