"""Order-insensitive result comparison against the DuckDB oracles — the same
normalisation the project's oracle-parity tests apply: columns sorted by
name, integer-valued floats kept visibly float, doubles to 6 significant
digits, and a second pass that keeps SQL NULL and float NaN apart.

``_norm``, ``canon`` and ``null_nan_sig`` are copies of ``_norm``,
``_canon`` and ``_null_nan_sig`` in tests/test_oracle_parity.py and must
stay in sync with them. They are copied because importing that test module
runs its module-level set-up (it builds every query and oracle and pins the
test data directory), which the benchmark must not depend on."""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb
import numpy as np


def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "∅"  # .df() renders SQL NULL in numeric columns as NaN
        if v.is_integer():
            return f"{v:.1f}"
        return f"{v:.6g}"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return str(v)


def _order(cols: list[str]) -> list[int]:
    return sorted(range(len(cols)), key=lambda i: cols[i])


def canon(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = _order(cols)
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def null_nan_sig(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = _order(cols)

    def cls(v):
        if v is None:
            return "null"
        if isinstance(v, (float, np.floating)) and math.isnan(float(v)):
            return "nan"
        return "."

    return sorted(tuple(cls(r[i]) for i in order) for r in rows)


def digest(cols: list[str], rows: list[tuple], null_rows: list[tuple] | None = None) -> dict:
    """What the comparison looks at: column names, row count, and hashes of
    the canonical form and of the NULL/NaN signature (taken from
    ``null_rows`` when the rows that keep NULL and NaN apart differ from
    ``rows``)."""
    cols = [c.lower() for c in cols]

    def h(x) -> str:
        return hashlib.sha256(repr(x).encode()).hexdigest()

    return {
        "cols": sorted(cols),
        "rows": len(rows),
        "canon": h(canon(rows, cols)),
        "nulls": h(null_nan_sig(rows if null_rows is None else null_rows, cols)),
    }


class DuckOracle:
    """Digests of the DuckDB oracles' results over one directory of
    ``<table>.parquet`` files.

    A digest is a function of the SQL, the table files, this module and the
    DuckDB version, so it is cached in ``cache_dir`` under a key made of all
    four: DuckDB runs an oracle only the first time a checkout needs it
    (~20 s for the 15 headline queries at sf0.1, each run twice)."""

    def __init__(self, data_dir: str, tables: list[str], cache_dir: str):
        self.data_dir = data_dir
        self.tables = tables
        self.cache_dir = cache_dir
        self.con = None
        base = hashlib.sha256(duckdb.__version__.encode())
        with open(__file__, "rb") as f:
            base.update(f.read())
        for t in tables:
            with open(self._path(t), "rb") as f:
                base.update(hashlib.file_digest(f, "sha256").digest())
        self.base = base

    def _path(self, table: str) -> str:
        return os.path.join(self.data_dir, f"{table}.parquet")

    def _run(self, sql: str) -> dict:
        if self.con is None:
            self.con = duckdb.connect()
            for t in self.tables:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self._path(t)}')")
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = list(res.df().itertuples(index=False, name=None))
        return digest(cols, rows, null_rows=self.con.execute(sql).fetchall())

    def expected(self, sql: str) -> dict:
        key = self.base.copy()
        key.update(sql.encode())
        path = os.path.join(self.cache_dir, key.hexdigest() + ".json")
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, ValueError):
            pass
        want = self._run(sql)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(want, f)
        os.replace(tmp, path)  # a run killed mid-write leaves no torn entry
        return want

    def compare(self, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when Spark's (cols, rows) equal the oracle's, else why not."""
        got, want = digest(cols, rows), self.expected(sql)
        if got["cols"] != want["cols"]:
            return f"columns {got['cols']} vs oracle {want['cols']}"
        if got["rows"] != want["rows"]:
            return f"{got['rows']} rows vs oracle {want['rows']}"
        if got["canon"] != want["canon"]:
            return "values differ from oracle"
        if got["nulls"] != want["nulls"]:
            return "NULL/NaN signature differs from oracle"
        return None

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
