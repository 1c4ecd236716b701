"""Tests of the seeded change-stream generator.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402

KEYS = list(range(1, 20001, 2))


class BatchesTest(unittest.TestCase):
    def test_same_seed_same_batches(self):
        self.assertEqual(gen.batches(7, KEYS, 12), gen.batches(7, KEYS, 12))

    def test_different_seed_different_batches(self):
        self.assertNotEqual(gen.batches(7, KEYS, 12), gen.batches(8, KEYS, 12))

    def test_batch_shape(self):
        live = set(KEYS)
        for b in gen.batches(3, KEYS, 20):
            n = len(b.updates) + len(b.inserts) + len(b.deletes)
            self.assertEqual(n, max(10, int(0.001 * len(live) + 0.5)))
            self.assertEqual(len(b.updates), int(n * 0.7 + 0.5))
            self.assertTrue(set(b.updates) <= live and set(b.deletes) <= live)
            self.assertFalse(set(b.updates) & set(b.deletes))
            self.assertGreater(min(b.inserts), max(live))
            live = (live - set(b.deletes)) | set(b.inserts)

    def test_updates_favour_newest_keys(self):
        newest = set(sorted(KEYS)[-len(KEYS) // 10:])
        ups = [k for b in gen.batches(5, KEYS, 30) for k in b.updates]
        self.assertGreater(sum(k in newest for k in ups) / len(ups), 0.6)


class SnapshotsTest(unittest.TestCase):
    def test_snapshots_apply_the_batches(self):
        with tempfile.TemporaryDirectory() as d:
            src = os.path.join(d, "orders.parquet")
            n = 3000
            pq.write_table(pa.table({
                "o_orderkey": pa.array(range(1, n + 1), pa.int64()),
                "o_custkey": pa.array([k % 97 for k in range(n)], pa.int64()),
                "o_orderstatus": ["O", "F", "P"] * (n // 3),
                "o_totalprice": [float(k) for k in range(n)],
                "o_orderpriority": ["1-URGENT"] * n}), src)
            out = os.path.join(d, "snaps")
            bs = gen.write_snapshots(src, out, seed=4, n_batches=3)
            keys = set(range(1, n + 1))
            for b in bs:
                keys = (keys - set(b.deletes)) | set(b.inserts)
            last = pq.read_table(gen.snapshot_path(out, 3))
            self.assertEqual(set(last.column("o_orderkey").to_pylist()), keys)
            vers = dict(zip(last.column("o_orderkey").to_pylist(), last.column("ver").to_pylist()))
            self.assertEqual(vers[bs[2].updates[0]], 3)
            self.assertEqual(vers[bs[2].inserts[0]], 3)
            self.assertEqual(pq.read_table(gen.snapshot_path(out, 0)).num_rows, n)
            again = os.path.join(d, "again")
            gen.write_snapshots(src, again, seed=4, n_batches=3)
            self.assertTrue(pq.read_table(gen.snapshot_path(again, 3)).equals(last))


if __name__ == "__main__":
    unittest.main()
