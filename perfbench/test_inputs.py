#!/usr/bin/env python3
"""The benchmark's own tests: its input generators are functions of the
seed. The same seed must give byte-identical inputs and another seed
different ones — for the parquet tables of analytics_sf01 (the same
rows in another order) and for the POS workbooks of pos_etl.

Run from the repository root: python3 perfbench/test_inputs.py
(the workbook test builds the harness first, like run.py does).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True

import gen  # noqa: E402
import build  # noqa: E402

WORK = os.path.join(build.BUILD, "test-inputs")


def digests(d, pattern):
    """{relative path: sha256} of the files under `d`."""
    out = {}
    for p in sorted(glob.glob(os.path.join(d, pattern), recursive=True)):
        with open(p, "rb") as f:
            out[os.path.relpath(p, d)] = hashlib.sha256(f.read()).hexdigest()
    return out


class TablesTest(unittest.TestCase):
    def write(self, name, seed):
        d = os.path.join(WORK, name)
        shutil.rmtree(d, ignore_errors=True)
        gen.write_tables(seed, 0.01, d)
        return d, digests(d, "*.parquet")

    def test_same_seed_same_bytes(self):
        (_, a), (_, b) = self.write("t-a", 7), self.write("t-b", 7)
        self.assertEqual(len(a), len(gen.tables(0.001)))
        self.assertEqual(a, b)

    def test_other_seed_same_rows_other_order(self):
        (da, a), (dc, c) = self.write("t-a", 7), self.write("t-c", 8)
        self.assertEqual(a.keys(), c.keys())
        for k in a:
            ta, tc = (pq.read_table(os.path.join(d, k)) for d in (da, dc))
            self.assertNotEqual(a[k], c[k], k)
            self.assertFalse(ta.equals(tc), k)
            key = [(f.name, "ascending") for f in ta.schema
                   if not pa.types.is_list(f.type)]
            self.assertTrue(ta.sort_by(key).equals(tc.sort_by(key)), k)


class WorkbooksTest(unittest.TestCase):
    def write(self, name, seed):
        d = os.path.join(WORK, name)
        shutil.rmtree(d, ignore_errors=True)
        jars = build.spark_jars()
        classes, _ = build.build(jars)
        cp = os.pathsep.join(classes + [os.path.join(jars, "*")])
        subprocess.run([build.java(), "-XX:-UsePerfData", "-cp", cp,
                        "perfbench.Harness", "--workload", "pos_etl",
                        "--seed", str(seed), "--gen-only", d],
                       check=True, timeout=300)
        return digests(d, "**/*.xlsx")

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, b, c = (self.write("w-a", 7), self.write("w-b", 7),
                   self.write("w-c", 8))
        self.assertTrue(a)
        self.assertEqual(a, b)
        self.assertEqual(a.keys(), c.keys())
        self.assertTrue(all(a[k] != c[k] for k in a))


if __name__ == "__main__":
    unittest.main()
