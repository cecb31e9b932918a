"""A wrong output row is a failed call: `failed` and `ops_failed_frac`
become non-zero and the run is not correct."""
import argparse
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

ORACLE = "SELECT o_orderkey AS key, o_orderstatus AS status FROM orders"


class CorruptedOutputTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.inputs = os.path.join(cls.tmp.name, "inputs")
        gen.sync_snapshot(os.path.join(cls.inputs, "cyc-000"), 5, 0)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def write_output(self, name, corrupt):
        out = os.path.join(self.tmp.name, name)
        os.makedirs(out)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW orders AS SELECT * FROM "
                f"'{os.path.join(self.inputs, 'cyc-000', 'orders.parquet')}'")
        sql = ORACLE if not corrupt else (
            "SELECT key, CASE WHEN key = (SELECT min(o_orderkey) FROM orders) "
            f"THEN 'X' ELSE status END AS status FROM ({ORACLE})")
        con.sql(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
        con.close()
        return out

    def evaluate(self, out):
        recs = [
            {"kind": "oracles", "sql": {"q": ORACLE}},
            {"kind": "setup", "setup_s": 1.0},
            {"kind": "stores", "stores": {}},
            {"kind": "snapshot", "cycle": "c000", "heap_retained_mb": 10.0,
             "persisted_bytes": 1000},
            {"kind": "cycle", "cycle": "c000", "wall_s": 2.0, "cpu_s": 3.0, "traced": False},
            {"kind": "call", "cycle": "c000", "layer": "sync", "call": "q", "id": "c000/sync.q#1",
             "construct_s": 0.1, "plan_s": 0.1, "exec_s": 1.0, "ok": True, "error": None,
             "check": {"kind": "oracle", "key": "q",
                       "dir": os.path.join(self.inputs, "cyc-000"), "out": out},
             "traced": False},
        ]
        one = {r["kind"]: r for r in recs}
        args = argparse.Namespace(workload="sync_index", trace=0, seed=5)
        return run.evaluate(args, recs, one, self.inputs)

    def test_correct_output_passes(self):
        r = self.evaluate(self.write_output("good", corrupt=False))
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (True, 1, 0))
        self.assertIn("metric ops_failed_frac = 0 (0 of 1 calls; lower is better)", r["lines"])

    def test_corrupted_row_fails_the_call(self):
        r = self.evaluate(self.write_output("bad", corrupt=True))
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (False, 1, 1))
        self.assertIn("metric ops_failed_frac = 1 (1 of 1 calls; lower is better)", r["lines"])
        self.assertTrue(any(line.startswith("FAIL c000 sync.q: 1 differing rows")
                            for line in r["lines"]))


class StoreReplayTest(unittest.TestCase):
    def test_tombstoned_ids_stay_deleted_until_compaction(self):
        crawls = [{1, 2, 3, 4}, {1, 2, 3, 5}, {1, 3, 4, 5, 6}]
        # 4 vanishes in crawl 1 and comes back in crawl 2: still deleted
        self.assertEqual(check.replay_tombstoned(crawls), {1, 3, 5, 6})
        # excluded ids are never stored
        self.assertEqual(check.replay_tombstoned(crawls, keep=lambda x: x != 3), {1, 5, 6})

    def test_span_report_keeps_history_and_appends_above_high_water(self):
        crawls = [{1, 2, 5}, {1, 6, 7}, {3, 7, 9}]
        # 3 is below the high-water mark when it arrives, so it is not absorbed
        self.assertEqual(check.replay_span(crawls), {1, 2, 5, 6, 7, 9})

    def test_id_diff_names_missing_and_unexpected(self):
        self.assertIsNone(check.id_diff({1, 2}, {1, 2}))
        self.assertEqual(check.id_diff({1, 2}, {2, 3}),
                         "1 ids missing (first [1]), 1 unexpected (first [3])")


if __name__ == "__main__":
    unittest.main()
