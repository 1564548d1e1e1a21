"""The generators are pure functions of the seed.

    python3 perfbench/test_gen.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def digests(self, workload, seed):
        with tempfile.TemporaryDirectory() as out:
            gen.generate(workload, seed, out)
            return tree_digest(out)

    def check(self, workload):
        a = self.digests(workload, 5)
        self.assertEqual(a, self.digests(workload, 5), "same seed, different bytes")
        self.assertNotEqual(a, self.digests(workload, 6), "different seeds, same bytes")

    def test_etl211(self):
        self.check("etl211")

    def test_curation(self):
        self.check("curation")

    def test_analytics(self):
        self.check("analytics")


if __name__ == "__main__":
    unittest.main()
