#!/usr/bin/env python3
"""Self-test of the seeded input generators: the same seed gives
byte-identical inputs, a different seed gives different inputs.

    python3 perfbench/test_gen.py
"""
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digest(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        # scratch inside the checkout, next to the benchmark's own run dirs
        base = os.path.join(os.getcwd(), ".bench_run")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="gen-test-", dir=base)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def generate(self, name: str, seed: int, tag: str) -> tuple:
        out = os.path.join(self.tmp, f"{name}-{tag}")
        meta = gen.GENERATORS[name](seed, out)
        return digest(out), meta

    def test_same_seed_same_bytes_other_seed_differs(self):
        for name in gen.GENERATORS:
            with self.subTest(workload=name):
                a, meta_a = self.generate(name, 7, "a")
                b, meta_b = self.generate(name, 7, "b")
                c, _ = self.generate(name, 8, "c")
                self.assertTrue(a)
                self.assertEqual(a, b)
                self.assertEqual(meta_a, meta_b)
                self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
