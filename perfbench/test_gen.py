"""The generators are seeded and deterministic: the same seed writes
byte-identical inputs, a different seed writes different ones.

    python3 perfbench/test_gen.py
"""
import filecmp
import os
import shutil
import tempfile
import unittest

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build", "test_gen")


def files(root):
    out = []
    for base, _, names in os.walk(root):
        out += [os.path.relpath(os.path.join(base, n), root) for n in names]
    return sorted(out)


def same_bytes(a, b):
    fa, fb = files(a), files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                            for f in fa)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def check(self, workload):
        runs = {}
        for name, seed in (("a", 5), ("b", 5), ("c", 6)):
            runs[name] = os.path.join(self.dir, name)
            gen.generate(workload, seed, runs[name])
        self.assertTrue(same_bytes(runs["a"], runs["b"]), "same seed, different bytes")
        self.assertFalse(same_bytes(runs["a"], runs["c"]), "different seeds, same bytes")

    def test_events(self):
        self.check("events-scan")

    def test_documents(self):
        self.check("corpus-ingest")

    def test_health(self):
        self.check("health-daily")


if __name__ == "__main__":
    unittest.main()
