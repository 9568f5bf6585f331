"""Self-tests of the benchmark's metric arithmetic (no JVM needed).

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlapping_and_touching_jobs(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4), (9, 9)]),
                         [(0, 4), (5, 7)])

    def test_outside_jobs_is_window_minus_job_union(self):
        # a query execution from t=0 to t=10 with overlapping jobs (AQE stage
        # jobs run concurrently) and one job running past the execution
        jobs = [(1, 3), (2, 4), (6, 7), (9, 12)]
        out = stats.complement(jobs, (0, 10))
        self.assertEqual(out, [(0, 1), (4, 6), (7, 9)])
        self.assertEqual(stats.length(out), 5)
        self.assertEqual(stats.length(stats.intersect(jobs, [(0, 10)])) + 5, 10)

    def test_complement_without_jobs_is_whole_window(self):
        self.assertEqual(stats.complement([], (2, 5)), [(2, 5)])

    def test_intersect(self):
        self.assertEqual(stats.intersect([(0, 5), (6, 9)], [(4, 7)]), [(4, 5), (6, 7)])


class MathTest(unittest.TestCase):
    def test_median_and_quartile_spread(self):
        xs = [10, 1, 3, 2, 4, 5, 6, 7, 8, 9]
        self.assertEqual(stats.median(xs), 5.5)
        # statistics.quantiles (exclusive): q1 = 2.75, q3 = 8.25
        self.assertAlmostEqual(stats.iqr_share(xs), (8.25 - 2.75) / 5.5)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4.0)
        self.assertAlmostEqual(stats.geomean([0.5, 2.0]), 1.0)
        self.assertAlmostEqual(stats.geomean([3.0]), 3.0)


class PermutationTest(unittest.TestCase):
    names = [f"q{i}" for i in range(12)]

    def test_same_seed_same_orders(self):
        self.assertEqual(stats.pass_orders(self.names, 7, 5), stats.pass_orders(self.names, 7, 5))

    def test_different_seed_different_orders(self):
        self.assertNotEqual(stats.pass_orders(self.names, 7, 5), stats.pass_orders(self.names, 8, 5))

    def test_each_order_is_a_permutation_and_passes_differ(self):
        orders = stats.pass_orders(self.names, 3, 4)
        for o in orders:
            self.assertEqual(sorted(o), sorted(self.names))
        self.assertGreater(len({tuple(o) for o in orders}), 1)


class LayerSplitTest(unittest.TestCase):
    def test_self_times_account_for_the_execution_wall(self):
        # a 10 s execution: build call 0-4 s with one job at 2-3 s, action
        # call 4-10 s with two overlapping jobs at 5-8 s and 6-9 s; Catalyst
        # phases at 1-1.5 s and 4-5 s; 2 cores
        span = lambda i, name, a, b, parent="", **attrs: dict(
            id=i, name=name, start=a * 1e3, end=b * 1e3, parent=parent, exec="e", **attrs)
        ex = span("e", "exec", 0, 10)
        kids = {
            "build": [span("e.build", "build", 0, 4)],
            "action": [span("e.action", "action", 4, 10)],
            "job": [span("job1", "job", 2, 3, "e.build"), span("job2", "job", 5, 8, "e.action"),
                    span("job3", "job", 6, 9, "e.action")],
            "stage": [dict(run_ms=6000.0, task_ms=6500.0, shuffle_write_ns=1e9, fetch_wait_ms=0.0,
                           tasks=4.0)],
            "phase": [span("qe0.analysis", "plans.analysis", 1, 1.5),
                      span("qe1.planning", "plans.planning", 4, 5, scan_ms=1000.0)],
        }
        m, self_s, wall = stats.exec_layers(ex, kids, cores=2)
        self.assertEqual(wall, 10)
        self.assertAlmostEqual(sum(self_s.values()), wall)
        self.assertAlmostEqual(m["scheduler.outside_jobs_s"], 5.0)   # 0-2, 3-5, 9-10
        self.assertEqual(m["queries.build_jobs"], 1)
        self.assertEqual(m["plans.executions"], 2)
        self.assertAlmostEqual(self_s["plans"], 1.5)
        self.assertAlmostEqual(self_s["queries"], 2.5)                # 0-2, 3-4 minus 0.5
        self.assertAlmostEqual(self_s["io"], 0.5)                     # 1 core-s / 2 cores
        self.assertAlmostEqual(self_s["shuffle"], 0.5)
        self.assertAlmostEqual(self_s["executor"], 2.0)               # (6 - 1 - 1) / 2
        self.assertAlmostEqual(self_s["scheduler"], 1.0 + 2.0)        # outside + idle cores


def records(*execs, checks=("a", "b")):
    rs = [{"type": "check", "query": q, "ok": True} for q in checks]
    rs.append({"type": "setup", "setup_s": 3.0})
    for p, q, wall, ok in execs:
        rs.append({"type": "exec", "pass": p, "query": q, "warmup": False, "traced": False, "ok": ok,
                   "wall_s": wall, "build_s": 0.0, "cpu_s": 2 * wall})
    rs.append({"type": "end", "peak_rss_mb": 900.0})
    return rs


class EndToEndTest(unittest.TestCase):
    def test_metrics(self):
        m = stats.end_to_end(records((0, "a", 1.0, True), (0, "b", 4.0, True),
                                     (1, "a", 3.0, True), (1, "b", 4.0, True)))
        self.assertEqual(m["pass_s"], (6.0, "s"))            # median of 5 and 7
        self.assertEqual(m["query_p50_s"], (3.5, "s"))
        self.assertAlmostEqual(m["query_geomean_s"][0], math.sqrt(2.0 * 4.0))
        self.assertEqual(m["cpu_s"], (12.0, "core-s"))
        self.assertEqual(m["failed_frac"], (0.0, "ratio"))

    def test_a_throwing_query_counts_as_failed_and_is_never_timed(self):
        rs = records((0, "a", 1.0, True), (0, "b", 0.01, False), (1, "a", 1.0, True))
        attempted, failed, bad = stats.failures(rs)
        self.assertEqual((attempted, failed, bad), (5, 1, {"b"}))
        m = stats.end_to_end(rs)
        self.assertEqual(m["query_p50_s"], (1.0, "s"))
        self.assertEqual(m["pass_s"], (1.0, "s"))
        self.assertEqual(m["failed_frac"], (0.2, "ratio"))

    def test_warmup_passes_are_not_timed(self):
        rs = records((0, "a", 9.0, True), (0, "b", 9.0, True),
                     (1, "a", 1.0, True), (1, "b", 2.0, True))
        for r in rs[3:5]:
            r["warmup"] = True
        self.assertEqual(stats.end_to_end(rs)["pass_s"], (3.0, "s"))

    def test_a_failed_check_removes_earlier_timings_too(self):
        rs = records((0, "a", 1.0, True), (0, "b", 5.0, True))
        rs[1]["ok"] = False
        self.assertEqual(stats.end_to_end(rs)["pass_s"], (1.0, "s"))


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json (at the repo root) lists exactly the metrics and
    workloads the runner reports."""

    def setUp(self):
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(here, "..", "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)
        with open(os.path.join(here, "workloads.json")) as fh:
            self.workloads = json.load(fh)

    def test_metrics_match(self):
        for key, ours in (("end_to_end", stats.END_TO_END), ("per_layer", stats.PER_LAYER)):
            theirs = {m["name"]: (m["unit"], m["better"]) for m in self.bench[key]}
            self.assertEqual(theirs, ours)

    def test_workloads_match(self):
        self.assertEqual({w["name"]: w["why"] for w in self.bench["workloads"]},
                         {k: v["why"] for k, v in self.workloads.items()})


if __name__ == "__main__":
    unittest.main()
