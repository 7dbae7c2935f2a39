"""Seeded input generation: the same seed gives byte-identical inputs.

Run from the repository root: python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gendata  # noqa: E402
import run  # noqa: E402

SIZES = {"mr_input": 50_000, "tables": 0.001, "corpus": 300}


class GendataTest(unittest.TestCase):
    def digest(self, kind, seed):
        with tempfile.TemporaryDirectory() as d:
            gendata.generate(kind, d, seed, SIZES[kind])
            return run.tree_digest(d)

    def test_same_seed_same_bytes(self):
        for kind in SIZES:
            with self.subTest(kind=kind):
                self.assertEqual(self.digest(kind, 5), self.digest(kind, 5))

    def test_other_seed_other_bytes(self):
        for kind in SIZES:
            with self.subTest(kind=kind):
                self.assertNotEqual(self.digest(kind, 5), self.digest(kind, 6))

    def test_mr_input_draws_whole_corpus_lines(self):
        total = 40_000
        with tempfile.TemporaryDirectory() as d:
            gendata.generate("mr_input", d, 3, total)
            corpus = set(gendata.corpus_lines())
            self.assertLessEqual(max(map(len, corpus)), gendata.MAX_LINE)
            names = sorted(os.listdir(d))
            size = sum(os.path.getsize(os.path.join(d, n)) for n in names)
            self.assertTrue(total <= size < total + 4 * (gendata.MAX_LINE + 1))
            self.assertEqual(names, ["file01", "file02", "file03", "file04"])
            for name in names:
                with open(os.path.join(d, name)) as f:
                    for line in f.read().rstrip("\n").split("\n"):
                        self.assertIn(line, corpus)


if __name__ == "__main__":
    unittest.main()
