"""Pins the generator's two properties: the same seed gives identical
inputs, a different seed changes them.

    python3 perfbench/test_gen.py
"""
import os
import shutil
import tempfile
import unittest

import gen

HERE = os.path.dirname(os.path.abspath(__file__))


class SeededInputs(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def check(self, workload):
        a = gen.generate(workload, 7, os.path.join(self.tmp, workload, "a"))
        b = gen.generate(workload, 7, os.path.join(self.tmp, workload, "b"))
        c = gen.generate(workload, 8, os.path.join(self.tmp, workload, "c"))
        self.assertEqual(a, b)
        self.assertEqual(a.keys(), c.keys())
        self.assertNotEqual(a, c)
        for name, entry in a.items():
            if name.endswith(".parquet"):
                self.assertNotEqual(entry["sha256"], c[name]["sha256"], name)

    def test_medallion(self):
        self.check("medallion")

    def test_stream_micro(self):
        self.check("stream_micro")

    def test_lake_upsert(self):
        self.check("lake_upsert")


if __name__ == "__main__":
    unittest.main()
