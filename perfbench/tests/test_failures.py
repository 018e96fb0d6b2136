"""A call that throws is counted, never dropped: the benchmark plants a
slot that always fails and must report it as attempted and failed, at
infinite latency, and the run as incorrect.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
(builds the library on first use; about a minute).
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class PlantedFailure(unittest.TestCase):
    def test_failed_call_counts_in_the_error_rate(self):
        r = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload", "corpus_refresh",
             "--seed", "1", "--seconds", "4", "--trace", "0", "--plant-failure"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertGreater(res["attempted"], res["failed"])
        # one slot in three always fails: the 95th percentile is a failure
        self.assertGreaterEqual(res["metrics"]["latency_p95_s"]["value"], 1e9)


if __name__ == "__main__":
    unittest.main()
