"""Seeded benchmark inputs: row permutations of the vendored tables.

A generated input directory holds one parquet file per table with the
schema and the row multiset of the base table; only the row order
depends on the seed. The content digest is order-independent, so every
permutation of the same base tables has the same digest.
"""
import hashlib
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq


def permute(base_dir, out_dir, tables, seed):
    """Writes a row permutation of every table of `base_dir` to `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for t in tables:
        table = pq.read_table(os.path.join(base_dir, f"{t}.parquet"))
        order = rng.permutation(table.num_rows)
        pq.write_table(table.take(order), os.path.join(out_dir, f"{t}.parquet"))


def content_digest(data_dir, tables):
    """Digest of the row multiset of every table: the sorted row hashes."""
    h = hashlib.sha256()
    con = duckdb.connect()
    try:
        con.execute("PRAGMA threads=1")
        for t in tables:
            n, rows = con.execute(
                "SELECT count(*), md5(string_agg(h, '' ORDER BY h)) FROM "
                "(SELECT md5(CAST(x AS VARCHAR)) h FROM read_parquet(?) x)",
                [os.path.join(data_dir, f"{t}.parquet")]).fetchone()
            h.update(f"{t}:{n}:{rows}\n".encode())
    finally:
        con.close()
    return h.hexdigest()
