"""Aggregation rules: the tail percentile, the row base, job attribution
and span coverage."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import agg  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # 19 samples: any percentile >= 50 leaves at most 9 beyond it
        self.assertIsNone(agg.tail_percentile(list(range(19))))
        t = agg.tail_percentile(list(range(20)))
        self.assertEqual((t["percentile"], t["n"], t["beyond"]), (50, 20, 10))
        self.assertEqual(t["value"], 9)

    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        t = agg.tail_percentile(xs)
        self.assertEqual(t["percentile"], 90)
        self.assertEqual(t["value"], 90.0)
        self.assertEqual(t["beyond"], 10)
        t = agg.tail_percentile(list(range(1000)))
        self.assertEqual((t["percentile"], t["beyond"]), (99, 10))

    def test_empty(self):
        self.assertIsNone(agg.tail_percentile([]))


class RowsTest(unittest.TestCase):
    def test_rows_per_s_reports_its_base(self):
        r = agg.rows_per_s([1000, 1200, 1100], 2.0)
        self.assertEqual(r["base_rows"], 1100)
        self.assertEqual(r["value"], 550.0)

    def test_zero_cycle(self):
        self.assertEqual(agg.rows_per_s([10], 0.0)["value"], 0.0)


class AttributionTest(unittest.TestCase):
    def test_first_frame_outside_core(self):
        site = ["graft.core.Materialize$.once", "graft.Pipeline$.curateGatesWith",
                "graft.text.TextOps$.qualityScore"]
        self.assertEqual(agg.attribute(site, "sync"), "Pipeline")
        self.assertEqual(agg.attribute(["graft.core.Tables$.read",
                                        "graft.sync.Sync$.syncDiff"], ""), "sync")

    def test_stores_by_name(self):
        self.assertEqual(agg.attribute(
            ["graft.index.SearchIndexStore$.searchSync"], ""), "SearchIndexStore")
        self.assertEqual(agg.attribute(
            ["graft.index.Indexing$.searchDoc"], ""), "index")
        self.assertEqual(agg.attribute(
            ["graft.sim.VectorIndexStore$$anonfun$1.apply"], ""), "VectorIndexStore")

    def test_frameless_jobs_go_to_the_plan_module(self):
        # the write of a returned frame: the call's plan module, else its layer
        recs = [{"kind": "job", "cycle": "c000", "call": "c000/VectorIndexStore.ann#1",
                 "phase": "exec", "module": m, "site": [], "tasks": 2, "empty_tasks": 0,
                 "shuffle_bytes": 10, "task_cpu_s": 0.5, "max_task_s": 0.3,
                 "start_ms": 0, "end_ms": 1000} for m in ("sim", "")]
        out, counts = agg.job_family(recs)
        self.assertEqual(counts, {"sim": 1, "VectorIndexStore": 1})
        self.assertEqual((out["sim.jobs"], out["sim.shuffle_bytes"]), (1, 10))
        self.assertEqual((out["cycle.jobs"], out["cycle.tasks"]), (2, 4))

    def test_core_only_when_nothing_else(self):
        self.assertEqual(agg.attribute(["graft.core.Materialize$.once"], "json"), "core")
        # no graft frame at all: the write of a frame the layer returned
        self.assertEqual(agg.attribute([], "json"), "json")

    def test_layer_of_call(self):
        self.assertEqual(agg.layer_of_call("c001/sync.syncDiff#3"), "sync")
        self.assertEqual(agg.layer_of_call(""), "")


class SpanTest(unittest.TestCase):
    def test_covered(self):
        self.assertEqual(agg.covered_s([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(agg.covered_s([]), 0)

    def test_unattributed_and_self_time(self):
        recs = [
            {"kind": "span", "layer": "cycle", "cycle": "c000", "start_ms": 0, "end_ms": 10000},
            {"kind": "span", "layer": "sync", "cycle": "c000", "start_ms": 0, "end_ms": 4000},
            {"kind": "span", "layer": "json", "cycle": "c000", "start_ms": 4000, "end_ms": 9000},
        ]
        s = agg.spans_summary(recs)
        self.assertAlmostEqual(s["unattributed_s"], 1.0)
        self.assertAlmostEqual(s["span_coverage"], 0.9)
        self.assertEqual(s["self_s_per_cycle"], {"json": 5.0, "sync": 4.0})


class FamilyTest(unittest.TestCase):
    def test_job_family_per_cycle(self):
        def job(cyc, call, site, tasks=2, empty=1):
            return {"kind": "job", "cycle": cyc, "call": call, "phase": "exec",
                    "site": site, "start_ms": 0, "end_ms": 500, "tasks": tasks,
                    "empty_tasks": empty, "shuffle_bytes": 10, "task_cpu_s": 0.2,
                    "max_task_s": 0.1}
        recs = [job("c000", "c000/sync.syncDiff#1", ["graft.sync.Sync$.syncDiff"]),
                job("c000", "c000/sync.syncDiff#1", []),
                job("c001", "c001/sync.syncDiff#2", ["graft.sync.Sync$.syncDiff"]),
                job("c001", "", ["graft.sync.Sync$.syncDiff"])]  # check dump: ignored
        m, counts = agg.job_family(recs)
        self.assertEqual(counts, {"sync": 3})
        self.assertEqual(m["sync.jobs"], 1.5)
        self.assertEqual(m["sync.empty_task_frac"], 0.5)
        self.assertEqual(m["sync.busy_s"], 0.75)
        self.assertEqual(m["dedup.jobs"], 0.0)
        n = len(agg.CALL_LAYERS) * 4 + len(m) + 2 * len(agg.STORES) + 3
        self.assertLessEqual(n, 128)


if __name__ == "__main__":
    unittest.main()
