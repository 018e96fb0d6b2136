"""The generator's inputs depend on the seed and on nothing else.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import glob
import os
import subprocess
import sys
import tempfile
import time
import unittest

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
GEN = os.path.join(ROOT, "perfbench", "gen.py")


def gen(*args):
    subprocess.run([sys.executable, GEN, *args], check=True)


def rows(path):
    return pq.read_table(path).to_pylist()


class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.d = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def tables(self, seed, name):
        out = os.path.join(self.d, name)
        gen("tables", "--seed", str(seed), "--out", out, "--sf", "0.002")
        return out

    def test_tables_and_corpus_follow_the_seed(self):
        a, b, c = self.tables(7, "a"), self.tables(7, "b"), self.tables(8, "c")
        for t in ["lineitem", "orders", "events", "documents", "embeddings"]:
            self.assertEqual(rows(f"{a}/{t}.parquet"), rows(f"{b}/{t}.parquet"), t)
            self.assertNotEqual(rows(f"{a}/{t}.parquet"), rows(f"{c}/{t}.parquet"), t)
        versions = {}
        for name, seed, base, v in [("va", 7, a, 0), ("vb", 7, b, 0), ("vc", 7, a, 1), ("vd", 8, c, 0)]:
            out = os.path.join(self.d, name)
            gen("corpus", "--seed", str(seed), "--version", str(v), "--base", base,
                "--out", out)
            versions[name] = {t: rows(f"{out}/{t}.parquet") for t in ["documents", "embeddings"]}
        self.assertEqual(versions["va"], versions["vb"])
        self.assertNotEqual(versions["va"]["documents"], versions["vc"]["documents"])
        self.assertNotEqual(versions["va"]["documents"], versions["vd"]["documents"])
        docs = versions["va"]["documents"]
        self.assertEqual(len(docs), 5 * 100)
        self.assertTrue(any(d["text"].endswith(" dup") for d in docs))

    def test_stream_follows_the_seed(self):
        # a schedule due in the past lands at once; ts is the schedule
        t0 = f"{time.time() - 60:.3f}"

        def stream(seed, name):
            land = os.path.join(self.d, name)
            gen("stream", "--seed", str(seed), "--dir", land, "--t0", t0,
                "--ladder", "500:0.5,1000:0.5")
            return [rows(f) for f in sorted(glob.glob(f"{land}/*.parquet"))]

        a, b, c = stream(3, "a"), stream(3, "b"), stream(4, "c")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertEqual(sum(len(f) for f in a), 250 + 500)
        events = [e for f in a for e in f]
        self.assertIn("error", {e["event_type"] for e in events})
        self.assertEqual(len({e["event_id"] for e in events}), len(events))


if __name__ == "__main__":
    unittest.main()
