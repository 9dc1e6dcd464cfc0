"""Generator determinism: the same seed gives byte-identical inputs,
another seed gives other inputs. Builds the benchmark on first use.

    python3 -m unittest discover -s perfbench/tests
"""

import subprocess
import sys
import unittest
from pathlib import Path

RUN = Path(__file__).resolve().parents[1] / "run.py"
ROOT = RUN.parents[1]


def digest(workload, seed):
    out = subprocess.run([sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
                          "--seconds", "1", "--digest"], cwd=ROOT, check=True,
                         stdout=subprocess.PIPE, text=True)
    return out.stdout.strip().splitlines()[-1]


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in ("daily_etl", "analyst_queries", "graph_small", "graph_large"):
            with self.subTest(workload=w):
                first = digest(w, 7)
                self.assertRegex(first, "^[0-9a-f]{64}$")
                self.assertEqual(first, digest(w, 7))
                self.assertNotEqual(first, digest(w, 8))


if __name__ == "__main__":
    unittest.main()
