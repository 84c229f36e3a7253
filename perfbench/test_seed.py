#!/usr/bin/env python3
"""The seed fixes the inputs: the same seed gives a byte-identical corpus and
op sequence, in separate JVMs; another seed gives other bytes.

    python3 perfbench/test_seed.py

Builds the benchmark if needed (as run.py does), then compares the SHA-256
that `perfbench.Main --digest` computes over the canonical encoding of the
generated corpus, the write phase and the first reads. No Spark is started.
"""
import pathlib
import subprocess
import sys
import unittest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import run  # noqa: E402

OPS = 200
WORKLOADS = ("serve-small", "ingest-mixed")


def digest(workload, seed):
    out = subprocess.run(
        run.java_command(["--workload", workload, "--seed", str(seed), "--digest", str(OPS)]),
        cwd=run.ROOT, check=True, capture_output=True, text=True, timeout=120).stdout
    return out.strip().splitlines()[-1]


class SeedTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.build()

    def test_same_seed_same_bytes(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                first, second = digest(w, 7), digest(w, 7)
                self.assertRegex(first, r"^[0-9a-f]{64}$")
                self.assertEqual(first, second)

    def test_other_seed_other_bytes(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.assertNotEqual(digest(w, 7), digest(w, 8))


if __name__ == "__main__":
    unittest.main()
