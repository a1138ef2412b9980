"""The generator is a function of the seed: the same seed writes
byte-identical inputs, another seed writes different ones.

    python3 -m unittest perfbench/test_gen.py   (from the checkout root)
"""
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

SCRATCH = os.path.join(os.getcwd(), ".bench_work", f"test-gen-{os.getpid()}")


def contents(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


class SeededInputs(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_differs(self):
        for name, make in gen.WORKLOADS.items():
            with self.subTest(workload=name):
                runs = {}
                for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                    d = os.path.join(SCRATCH, name, tag)
                    make(seed, d)
                    runs[tag] = contents(d)
                self.assertTrue(runs["a"])
                self.assertEqual(runs["a"], runs["b"])
                self.assertNotEqual(runs["a"], runs["c"])

    def test_delta_txn_script_keys_unique_per_op(self):
        import pyarrow.parquet as pq
        d = os.path.join(SCRATCH, "txn")
        gen.delta_txn(3, d)
        t = pq.read_table(os.path.join(d, "op_rows.parquet")).to_pydict()
        seen = set()
        for op, k in zip(t["op"], t["k"]):
            self.assertNotIn((op, k), seen)
            seen.add((op, k))

    def test_planted_copies_point_to_earlier_documents(self):
        import json
        d = os.path.join(SCRATCH, "dedup")
        gen.dedup_ingest(3, d)
        with open(os.path.join(d, "planted.json")) as f:
            planted = json.load(f)
        self.assertTrue(planted)
        self.assertTrue(all(orig < copy for copy, orig in planted))


if __name__ == "__main__":
    unittest.main()
