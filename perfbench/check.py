"""Output check: one ``toPandas()`` per query against its DuckDB oracle
on the same generated input directory, compared with the canon of the
driver-contract drive (``scripts/drive_driver.canon_frame``) and its
dtype-kind rule (``scripts/dtype_guard._norm_dtypes``). Queries without
an oracle are checked as that drive checks them: they must run and
count.

Oracle frames are cached on disk by (query, input digest): the same
seed gives the same input, so a repeated seed skips DuckDB.
"""

from __future__ import annotations

import os
import pickle

import duckdb

from scripts.drive_driver import canon_frame
from scripts.dtype_guard import _norm_dtypes


class OracleCache:
    """DuckDB oracle results for one input directory, cached by
    (query name, input digest) under ``cache_dir``."""

    def __init__(self, data_dir: str, digest: str, cache_dir: str, tables) -> None:
        self._data_dir = data_dir
        self._digest = digest
        self._cache_dir = cache_dir
        self._tables = tables
        self._con: duckdb.DuckDBPyConnection | None = None

    def _connect(self) -> duckdb.DuckDBPyConnection:
        if self._con is None:
            self._con = duckdb.connect()
            for t in self._tables:
                path = os.path.join(self._data_dir, f"{t}.parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        return self._con

    def frame(self, name: str, sql: str):
        path = os.path.join(self._cache_dir, f"{name}-{self._digest}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        df = self._connect().execute(sql).df()
        os.makedirs(self._cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(df, f)
        os.replace(tmp, path)
        return df

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def compare(spark_pdf, oracle_pdf) -> list[str]:
    """Problems found comparing a Spark result with its oracle; empty
    when they match under the driver-contract rule."""
    problems = []
    s_dt = _norm_dtypes(spark_pdf[sorted(spark_pdf.columns)])
    d_dt = _norm_dtypes(oracle_pdf[sorted(oracle_pdf.columns)])
    if s_dt != d_dt:
        diff = {
            c: (s_dt.get(c), d_dt.get(c))
            for c in set(s_dt) | set(d_dt)
            if s_dt.get(c) != d_dt.get(c)
        }
        problems.append(f"dtype kinds {diff}")
    (sc, sr), (dc, dr) = canon_frame(spark_pdf), canon_frame(oracle_pdf)
    if sc != dc:
        problems.append(f"columns {sc} vs {dc}")
    elif len(sr) != len(dr):
        problems.append(f"rows {len(sr)} vs {len(dr)}")
    elif sr != dr:
        bad = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
        problems.append(f"values differ first at row {bad}: {sr[bad]!r} vs {dr[bad]!r}")
    return problems
