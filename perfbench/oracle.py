"""Result fingerprints for the batch correctness gate.

The expected side runs each query's DuckDB oracle (``contract.ORACLES``)
over the generated tables; the observed side is the pandas frame the timed
``toPandas()`` call returned. Both are reduced to plain Python values,
passed through ``tools/parity_check.normalize`` (column-name order, sorted
rows, ``repr`` of each cell) and hashed.

Arrow's ``toPandas`` cannot tell a NULL double from NaN, so float NaN maps
to ``None`` on both sides before normalizing.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import importlib.util
import math
import os

import numpy as np
import pandas as pd

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_normalize():
    spec = importlib.util.spec_from_file_location(
        "_parity_check", os.path.join(_ROOT, "tools", "parity_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def _plain(v):
    """One cell → the Python value ``collect()`` / DuckDB would give."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) or isinstance(v, np.floating):
        v = float(v)
        return None if math.isnan(v) else v
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.datetime64):
        return pd.Timestamp(v).to_pydatetime()
    if isinstance(v, (bytearray, memoryview)):
        return bytes(v)
    if isinstance(v, (str, int, bytes, dt.date, dt.datetime, decimal.Decimal)):
        return v
    if isinstance(v, np.ndarray):
        return [_plain(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


class Fingerprinter:
    """Hashes result sets into comparable fingerprints."""

    def __init__(self):
        self._normalize = _load_normalize()

    def of_rows(self, rows, cols) -> str:
        cols = [c.lower() for c in cols]
        plain = [tuple(_plain(v) for v in r) for r in rows]
        h = hashlib.sha256(repr(sorted(cols)).encode())
        for r in self._normalize(plain, cols):
            h.update(repr(r).encode())
        return f"{len(plain)}:{h.hexdigest()[:32]}"

    def of_frame(self, pdf: pd.DataFrame, spark_types: dict[str, str]) -> str:
        """Fingerprint a ``toPandas()`` frame. ``spark_types`` (column →
        simpleString) restores integer columns that pandas widened to float
        because they hold NULLs."""
        cols = list(pdf.columns)
        data = []
        for c in cols:
            vals = [_plain(v) for v in pdf[c].tolist()]
            if spark_types.get(c) in ("tinyint", "smallint", "int", "bigint"):
                vals = [None if v is None else int(v) for v in vals]
            data.append(vals)
        return self.of_rows(list(zip(*data)) if cols else [], cols)


def expectations(sf_dir: str, sqls: dict[str, str], rows_only: set, tables) -> dict:
    """Run each query's SQL in DuckDB over the tables in ``sf_dir``.
    Returns name → fingerprint, or the row count for ``rows_only`` names
    (their SQL is a count), or ``"error: ..."`` when the SQL itself fails."""
    import duckdb

    fp = Fingerprinter()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in sqls.items():
            try:
                res = con.execute(sql)
                if name in rows_only:
                    out[name] = int(res.fetchone()[0])
                else:
                    out[name] = fp.of_rows(res.fetchall(), [d[0] for d in res.description])
            except duckdb.Error as exc:
                out[name] = f"error: {type(exc).__name__}: {exc}"[:300]
        return out
    finally:
        con.close()
