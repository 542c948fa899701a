"""Span self-time arithmetic and the per-layer figures built on it."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


def span(i, start, end, parent=0, kind="phase", name="action", op=1):
    return {"id": i, "op": op, "parent": parent, "kind": kind, "name": name,
            "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(spans.self_time(span(1, 10, 50), []), 40)

    def test_disjoint_children(self):
        kids = [span(2, 12, 20), span(3, 30, 35)]
        self.assertEqual(spans.self_time(span(1, 10, 50), kids), 27)

    def test_overlapping_children_count_once(self):
        kids = [span(2, 12, 30), span(3, 20, 40), span(4, 25, 28)]
        self.assertEqual(spans.self_time(span(1, 10, 50), kids), 12)

    def test_children_clipped_to_parent(self):
        kids = [span(2, 0, 15), span(3, 45, 70)]
        self.assertEqual(spans.self_time(span(1, 10, 50), kids), 30)

    def test_touching_children(self):
        kids = [span(2, 10, 20), span(3, 20, 50)]
        self.assertEqual(spans.self_time(span(1, 10, 50), kids), 0)

    def test_percentile_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(spans.percentile(xs, 50), 5)
        self.assertEqual(spans.percentile(xs, 90), 9)
        self.assertEqual(spans.percentile(xs, 100), 10)
        self.assertEqual(spans.percentile([7], 90), 7)


def stage(i, start, end, **kw):
    s = {"id": i, "attempt": 0, "start": start, "end": end, "tasks": 4,
         "run_ms": 100, "cpu_ns": 50_000_000, "gc_ms": 1, "input_b": 0,
         "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0,
         "output_b": 0, "task_max_ms": 40, "task_med_ms": 20}
    s.update(kw)
    return s


class TreeTest(unittest.TestCase):
    """One traced query: construct (one eager job), plan, action (one job of
    two stages, one of them skipped)."""

    rec = {
        "cores": 4,
        "passes": [{"index": 1, "traced": False, "s": 3.0},
                   {"index": 2, "traced": False, "s": 1.0},
                   {"index": 3, "traced": True, "s": 1.2}],
        "rss_peak_mb": 100.0, "ready_s": 9.0, "setup_s": [5.0, 0.4, 0.3],
        "ops": [{"id": 1, "pass": 3, "kind": "query", "name": "q",
                 "ms": 100.0, "ok": True, "error": ""}],
        "spans": [span(1, 0, 100, parent=9, kind="op", name="query:q"),
                  span(2, 0, 30, parent=1, name="construct"),
                  span(3, 30, 40, parent=1, name="plan"),
                  span(4, 40, 100, parent=1, name="action")],
        "jobs": [{"id": 0, "op": 1, "start": 5, "end": 25, "stage_ids": [0]},
                 {"id": 1, "op": 1, "start": 45, "end": 95,
                  "stage_ids": [0, 1]}],
        "stages": [stage(0, 6, 24), stage(1, 50, 90)],
        "kernels": [],
    }

    def test_jobs_hang_under_their_phase(self):
        all_spans, children = spans.build_tree(self.rec)
        jobs = {s["job"]: s for s in all_spans if s["kind"] == "job"}
        self.assertEqual(jobs[0]["parent"], 2)
        self.assertEqual(jobs[1]["parent"], 4)
        stage_parent = {s["stage"]["id"]: s["parent"] for s in all_spans
                        if s["kind"] == "stage"}
        self.assertEqual(stage_parent[0], jobs[0]["id"])
        self.assertEqual(stage_parent[1], jobs[1]["id"])

    def test_layer_figures(self):
        m = spans.layer_metrics(self.rec, ["dot_f32"], ["holdout"],
                                ["item_knn"])
        v = {k: x["value"] for k, x in m.items()}
        self.assertAlmostEqual(v["entry.construct_s"], 0.030)
        self.assertAlmostEqual(v["entry.construct_self_s"], 0.010)
        self.assertEqual(v["entry.construct_jobs"], 1)
        self.assertAlmostEqual(v["planner.plan_s"], 0.010)
        self.assertEqual(v["scheduler.jobs"], 2)
        self.assertEqual(v["scheduler.stages"], 2)
        self.assertEqual(v["scheduler.stages_skipped"], 1)
        self.assertEqual(v["scheduler.tasks"], 8)
        # action 40..100 minus stage 1 running 50..90
        self.assertAlmostEqual(v["scheduler.idle_s"], 0.020)
        self.assertAlmostEqual(v["operators.task_run_s"], 0.2)
        self.assertAlmostEqual(v["operators.core_util"], 0.2 / (4 * 1.2))
        self.assertAlmostEqual(v["operators.skew_p90"], 2.0)
        self.assertAlmostEqual(v["trace.overhead_ratio"], 1.2)
        self.assertAlmostEqual(v["process.first_pass_s"], 3.0)
        self.assertAlmostEqual(v["process.cold_setup_s"], 5.0)
        self.assertEqual(v["functions.dot_f32.ns_per_row"], 0.0)
        self.assertEqual(v["artifacts.warm.holdout_s"], 0.0)


if __name__ == "__main__":
    unittest.main()
