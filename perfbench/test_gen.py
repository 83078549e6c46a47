"""The generator is a pure function of the seed: the same seed regenerates
byte-identical inputs, another seed different ones.

    python3 perfbench/test_gen.py        # from the repository root
"""

import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def digest(root):
    """Hash of every file's relative path and bytes under `root`."""
    h = hashlib.sha256()
    for dp, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(".bench_build", exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="gen-test-", dir=".bench_build")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def check(self, workload):
        a, b, c = (os.path.join(self.tmp, workload, x) for x in "abc")
        ma = gen.generate(workload, a, 11)
        mb = gen.generate(workload, b, 11)
        gen.generate(workload, c, 12)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(ma, mb)
        self.assertNotEqual(digest(a), digest(c))

    def test_market_etl(self):
        self.check("market_etl")

    def test_ingest_stream(self):
        self.check("ingest_stream")


if __name__ == "__main__":
    unittest.main()
