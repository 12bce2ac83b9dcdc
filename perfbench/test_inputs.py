#!/usr/bin/env python3
"""Determinism test for the benchmark's generated input.

    python3 perfbench/test_inputs.py

Generates the scan_fanout directory twice from one seed and once from
another, and checks that one seed always gives the same bytes, that
another seed gives other bytes, and that the directory holds nothing but
the 64 data files ScanRunner is meant to schedule.
"""
import hashlib
import os
import shutil
import subprocess
import unittest

from run import BUILD, build, java_cmd


def generate(classes, out, seed):
    subprocess.run(
        java_cmd(classes, "perfbench.Generate",
                 [str(out), str(seed), str(len(os.sched_getaffinity(0)))],
                 out.parent / "tmp"),
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    return {f.name: hashlib.sha256(f.read_bytes()).hexdigest()
            for f in sorted(out.iterdir())}


class ScanInputTest(unittest.TestCase):
    def test_seed_fixes_the_bytes(self):
        classes = build()
        base = BUILD / "test_inputs"
        shutil.rmtree(base, ignore_errors=True)
        try:
            a = generate(classes, base / "a", 7)
            b = generate(classes, base / "b", 7)
            c = generate(classes, base / "c", 8)
        finally:
            shutil.rmtree(base, ignore_errors=True)
        self.assertEqual(len(a), 64)
        self.assertTrue(all(n.endswith(".parquet") for n in a))
        self.assertEqual(a, b)
        self.assertEqual(set(a), set(c))
        self.assertTrue(all(a[n] != c[n] for n in a))


if __name__ == "__main__":
    unittest.main()
