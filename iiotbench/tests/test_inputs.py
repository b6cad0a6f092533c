"""The generators are seeded: one seed gives identical inputs, another
seed different ones. Builds the benchmark and runs only the generators.

    python3 -m unittest discover -s iiotbench/tests
"""
import subprocess
import sys
import unittest
from pathlib import Path

RUN = Path(__file__).resolve().parent.parent / "run.py"


def digest(workload, seed):
    out = subprocess.run([sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
                          "--seconds", "1", "--digest"], capture_output=True, text=True, check=True)
    line = out.stdout.strip().splitlines()[-1]
    assert line.startswith("digest "), out.stdout + out.stderr
    return line.split()[1]


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in ("iiot_batch", "iiot_stream", "corpus_dedup"):
            with self.subTest(workload=w):
                a, b, c = digest(w, 7), digest(w, 7), digest(w, 8)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
