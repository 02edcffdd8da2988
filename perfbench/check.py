"""Output check: every workload query against its DuckDB twin.

The twin is the registry's ``oracle_queries()[name]`` SQL run by DuckDB
over views of the same parquet files.  Results are compared with the
normalization of ``tools/driver_check.py`` (columns sorted by name, rows
sorted by their string form, values equal or both missing), imported
from there so the two checks cannot drift apart.  Twin results are
cached on disk, keyed by a digest of the input files, the SQL text and
the DuckDB version, so repeated runs on one checkout pay for each twin
once.  Missing twins are computed in a child process (``python -m
perfbench.check``), so DuckDB's memory never stays in the measured
process."""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import subprocess
import sys

import pandas as pd

from tools.driver_check import TABLES, _normalize, _values_equal


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Why ``got`` differs from ``want``, or None when they match."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = _normalize(got), _normalize(want)
    for col in g.columns:
        for x, y in zip(g[col].tolist(), w[col].tolist()):
            if not _values_equal(x, y):
                return f"{col}: {x!r} != {y!r}"
    return None


def data_digest(data_dir: str) -> str:
    """Digest of the input tables' bytes."""
    digest = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            digest.update(t.encode() + b"\0" + f.read())
    return digest.hexdigest()[:16]


class Twins:
    """DuckDB twin results for one input directory."""

    def __init__(self, data_dir: str, cache_dir: str, threads: int):
        self.data_dir = data_dir
        self.data_tag = data_digest(data_dir)
        self.cache_dir = cache_dir
        self.threads = threads
        self._con = None

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads={int(self.threads)}")
        for t in TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    def _path(self, sql: str) -> str:
        import duckdb

        key = hashlib.sha256(
            f"{self.data_tag}\0{duckdb.__version__}\0{sql}".encode()
        ).hexdigest()[:24]
        return os.path.join(self.cache_dir, f"twin-{key}.pkl")

    def prefetch(self, sqls: list[str]) -> None:
        """Compute the twins missing from the cache in a child process."""
        missing = [q for q in sqls if not os.path.exists(self._path(q))]
        if missing:
            job = {"data_dir": self.data_dir, "cache_dir": self.cache_dir,
                   "threads": self.threads, "sqls": missing}
            subprocess.run([sys.executable, "-m", "perfbench.check"],
                           input=json.dumps(job), text=True, check=True)

    def result(self, sql: str) -> pd.DataFrame:
        path = self._path(sql)
        if os.path.exists(path):
            # the cache holds only frames this module pickled itself
            with open(path, "rb") as f:
                return pickle.load(f)
        if self._con is None:
            self._con = self._connect()
        frame = self._con.execute(sql).fetchdf()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(frame, f)
        os.replace(tmp, path)
        return frame

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def main() -> None:
    """Fill the cache with the twins a JSON job on standard input names."""
    job = json.load(sys.stdin)
    twins = Twins(job["data_dir"], job["cache_dir"], job["threads"])
    try:
        for sql in job["sqls"]:
            twins.result(sql)
    finally:
        twins.close()


if __name__ == "__main__":
    main()
