"""Tests of the registry-table generator.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen_tables  # noqa: E402


class GenTablesTest(unittest.TestCase):
    def test_two_runs_write_the_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for sub in ["a", "b"]:
                gen_tables.write_all(os.path.join(d, sub))
            for t in gen_tables.TABLES:
                with open(os.path.join(d, "a", f"{t}.parquet"), "rb") as a, \
                        open(os.path.join(d, "b", f"{t}.parquet"), "rb") as b:
                    self.assertEqual(a.read(), b.read(), t)

    def test_row_counts_are_the_gate_datas_at_sf_001(self):
        want = {"nation": 25, "customer": 1500, "supplier": 100, "orders": 15000,
                "lineitem": 60000, "events": 10000}
        with tempfile.TemporaryDirectory() as d:
            gen_tables.write_all(d)
            got = {t: pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows
                   for t in gen_tables.TABLES}
        self.assertEqual(got, want)


if __name__ == "__main__":
    unittest.main()
