"""Registry-key output checks against the keys' DuckDB oracles.

Both sides are reduced to the same canonical digest: columns sorted by
name, cells normalized to strings (floats by ``repr``, decimals exact),
rows sorted. The oracle's digest is cached on disk per (sf, key, hash of
the oracle SQL), so a key's oracle runs once per checkout and no oracle
time ever falls inside a timed region.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

import numpy as np
import pandas as pd


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, (float, np.floating)):
        return "NaN" if math.isnan(v) else repr(float(v))
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, datetime.datetime):
        return str(v.replace(tzinfo=None))
    return str(v)


def digest(pdf) -> dict:
    """Order-insensitive digest of a pandas result."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return {"rows": len(rows), "columns": cols, "sha256": h.hexdigest()}


class OracleCache:
    """DuckDB oracle digests, computed once and kept under ``cache_dir``."""

    def __init__(self, sf_dir: str, cache_dir: str, tables: list[str]):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.tables = tables
        self._con = None

    def _path(self, key: str, sql: str) -> str:
        sf = os.path.basename(os.path.normpath(self.sf_dir))
        h = hashlib.sha256(sql.encode()).hexdigest()[:16]
        return os.path.join(self.cache_dir, f"{sf}_{key}_{h}.json")

    def expected(self, key: str, sql: str) -> dict:
        path = self._path(key, sql)
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, ValueError):
            pass
        out = digest(self._duck().sql(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out

    def _duck(self):
        if self._con is None:
            import duckdb

            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for t in self.tables:
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            self._con = con
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def mismatch(got: dict, want: dict) -> str | None:
    """Why two digests differ, or None when they agree."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["sha256"] != want["sha256"]:
        return "values differ"
    return None
