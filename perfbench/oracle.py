"""DuckDB oracle check of the benchmark's outputs.

Normalization follows tools/local_verify.py: columns sorted by name,
rows sorted, every value compared exactly as a string. Expected results
are derived once per (input content digest, oracle SQL text) and kept
in a cache directory; a permutation of the same tables reuses them.
"""
import hashlib
import json
import os

import duckdb
import pandas as pd


def _digest(df: pd.DataFrame):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    text = df.astype(str).to_csv(index=False)
    return {"rows": len(df), "columns": list(df.columns),
            "sha256": hashlib.sha256(text.encode()).hexdigest()}


class Oracle:
    def __init__(self, data_dir, tables, cache_dir, spill_dir, threads, memory):
        self.data_dir, self.tables = data_dir, tables
        self.cache_dir, self.spill_dir = cache_dir, spill_dir
        self.threads, self.memory = threads, memory
        os.makedirs(cache_dir, exist_ok=True)
        os.makedirs(spill_dir, exist_ok=True)

    def _connect(self):
        con = duckdb.connect()
        con.execute(f"PRAGMA temp_directory='{self.spill_dir}'")
        con.execute(f"PRAGMA memory_limit='{self.memory}'")
        con.execute(f"PRAGMA threads={self.threads}")
        for t in self.tables:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return con

    def expected(self, content_digest, sql):
        """The normalized digest of the oracle's result, cached."""
        key = hashlib.sha256(f"{content_digest}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        con = self._connect()
        try:
            want = _digest(con.execute(sql).df())
        finally:
            con.close()
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump(want, f)
        os.replace(tmp, path)
        return want

    def actual(self, out_dir):
        """The normalized digest of one query's parquet output."""
        con = duckdb.connect()
        try:
            con.execute(f"PRAGMA threads={self.threads}")
            return _digest(con.execute(
                f"SELECT * FROM '{out_dir}/*.parquet'").df())
        finally:
            con.close()
