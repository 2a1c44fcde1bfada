#!/usr/bin/env python3
"""Self-test of the seeded input generator.

Run from the root of a checkout:  python3 perfbench/test_inputs.py

Checks that a permuted input keeps the schema, the row multiset and the
one-file-per-table layout of the base tables, that only the row order
depends on the seed, and that the same seed gives the same files.
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import inputs  # noqa: E402

with open(os.path.join(HERE, "workloads.json")) as f:
    SPEC = json.load(f)
BASE = os.path.join(os.path.dirname(HERE), SPEC["data"])
TABLES = SPEC["tables"]


def file_sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class PermuteTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        build = os.path.join(os.getcwd(), os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
        os.makedirs(build, exist_ok=True)
        cls.tmp = tempfile.mkdtemp(dir=build)
        cls.dirs = {}
        for name, seed in [("a", 1), ("b", 2), ("a_again", 1)]:
            cls.dirs[name] = os.path.join(cls.tmp, name)
            inputs.permute(BASE, cls.dirs[name], TABLES, seed)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def test_one_file_per_table(self):
        for d in self.dirs.values():
            self.assertEqual(sorted(os.listdir(d)), sorted(f"{t}.parquet" for t in TABLES))

    def test_schema_and_rows_kept(self):
        for t in TABLES:
            base = pq.read_table(os.path.join(BASE, f"{t}.parquet"))
            for d in self.dirs.values():
                got = pq.read_table(os.path.join(d, f"{t}.parquet"))
                self.assertTrue(got.schema.equals(base.schema, check_metadata=True), t)
                self.assertEqual(got.num_rows, base.num_rows, t)
                self.assertEqual(pq.ParquetFile(os.path.join(d, f"{t}.parquet"))
                                 .metadata.num_row_groups, 1, t)

    def test_content_digest_ignores_order(self):
        want = inputs.content_digest(BASE, TABLES)
        for d in self.dirs.values():
            self.assertEqual(inputs.content_digest(d, TABLES), want)

    def test_seed_sets_the_order(self):
        t = "lineitem"
        a = pq.read_table(os.path.join(self.dirs["a"], f"{t}.parquet"))
        b = pq.read_table(os.path.join(self.dirs["b"], f"{t}.parquet"))
        base = pq.read_table(os.path.join(BASE, f"{t}.parquet"))
        self.assertFalse(a.equals(b))
        self.assertFalse(a.equals(base))
        for t in TABLES:
            self.assertEqual(file_sha(os.path.join(self.dirs["a"], f"{t}.parquet")),
                             file_sha(os.path.join(self.dirs["a_again"], f"{t}.parquet")), t)


if __name__ == "__main__":
    unittest.main()
