#!/usr/bin/env python3
"""Tests of the input generator: same seed, same bytes; new seed, new data.

    python3 perfbench/test_gen.py
"""
import filecmp
import os
import shutil
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

SCRATCH = os.path.join(HERE, ".work", "test_gen")


def files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def generate(self, workload, seed, tag):
        d = os.path.join(SCRATCH, f"{workload}-{seed}-{tag}")
        return d, gen.generate(workload, seed, d)

    def test_same_seed_gives_identical_bytes(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                a, _ = self.generate(w, 7, "a")
                b, _ = self.generate(w, 7, "b")
                self.assertEqual(files(a), files(b))
                _, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
                self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_data(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                a, _ = self.generate(w, 7, "a")
                b, _ = self.generate(w, 8, "b")
                parquet = [f for f in files(a) if f.endswith(".parquet")]
                _, mismatch, _ = filecmp.cmpfiles(a, b, parquet, shallow=False)
                self.assertEqual(mismatch, parquet)

    def test_meta_records_rows_bytes_and_plants(self):
        _, meta = self.generate("curate_chain", 7, "a")
        self.assertEqual(meta["planted_exact"], meta["size"]["docs"] // 10)
        self.assertGreater(meta["input_bytes"], 0)
        _, meta = self.generate("graph_cc", 7, "a")
        self.assertEqual(meta["planted_components"], meta["size"]["components"])
        self.assertEqual(meta["input_rows"], meta["rows"]["edges"])

    def test_cache_key_includes_seed(self):
        a = gen.cached("graph_cc", 7, SCRATCH)
        b = gen.cached("graph_cc", 8, SCRATCH)
        self.assertNotEqual(a, b)
        self.assertEqual(a, gen.cached("graph_cc", 7, SCRATCH))


if __name__ == "__main__":
    unittest.main()
