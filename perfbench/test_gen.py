#!/usr/bin/env python3
"""Tests of the benchmark's input generator.

Run from the repository root: python3 perfbench/test_gen.py
"""
import filecmp
import os
import shutil
import sys
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

TMP = os.path.join(".bench_build", "test_gen")


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GenTest(unittest.TestCase):

    def setUp(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def test_same_seed_gives_byte_identical_files(self):
        for w in gen.WORKLOADS:
            a, b, c = (os.path.join(TMP, w, x) for x in "abc")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            gen.generate(w, 8, c)
            self.assertEqual(files(a), files(b))
            self.assertTrue(files(a))
            for f in files(a):
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                            shallow=False), f"{w}/{f} differs")
            self.assertTrue(any(not filecmp.cmp(os.path.join(a, f), os.path.join(c, f),
                                                shallow=False)
                                for f in files(a) if f.endswith(".parquet")),
                            f"{w}: another seed gave the same inputs")

    def test_planted_counts_match_the_files(self):
        planted = gen.generate("loads_daily", 3, TMP)
        for unit, p in planted["units"].items():
            d = os.path.join(TMP, unit)
            for t, n in p["tables"].items():
                self.assertEqual(pq.read_metadata(f"{d}/{t}.parquet").num_rows, n)
            with open(f"{d}/cartera.csv") as f:
                self.assertEqual(len(f.readlines()) - 8, p["cartera_csv_rows"])
            acc = p["accounting"]
            for load, a in acc.items():
                self.assertEqual(a["read"], a["rejected"] + a["deduplicated"]
                                 + a["inserted"], f"{unit}/{load}")
            # the slice straddles the incremental cutoff: both drop and insert
            self.assertGreater(acc["ventas"]["deduplicated"], 0)
            self.assertGreater(acc["ventas"]["inserted"], 0)


if __name__ == "__main__":
    unittest.main()
