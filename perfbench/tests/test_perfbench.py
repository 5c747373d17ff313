"""Tests of the benchmark's own rules: the tail percentile, span self time
and the job-span union, the per-call layer breakdown, and the compare
rule. Run: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_percentile_grows_with_samples(self):
        self.assertEqual(stats.tail(list(range(21)))[1:], (100.0 * 11 / 21, 21))
        self.assertEqual(stats.tail(list(range(1000)))[1], 99.0)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertEqual(stats.tail(list(range(11)))[0], 0)


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (7, 8)]), [(0, 3), (5, 8)])
        self.assertEqual(stats.length([(0, 2), (1, 3), (10, 11)]), 4)

    def test_concurrent_jobs_count_once(self):
        jobs = [(0, 10), (2, 6), (4, 12)]  # three overlapping jobs
        self.assertEqual(stats.length(jobs), 12)

    def test_clip_to_parent(self):
        # children of a 0..10 span: 1..3, 2..5 and 9..12 cover 5 of it
        children = stats.clip([(1, 3), (2, 5), (9, 12), (11, 13)], 0, 10)
        self.assertEqual(stats.length(children), 5)

    def test_intersect(self):
        self.assertEqual(stats.intersect([(0, 4), (6, 10)], [(2, 8)]), [(2, 4), (6, 8)])


class BreakdownTest(unittest.TestCase):
    call = {"start": 0.0, "end": 100.0}

    def test_layers_add_up_to_wall(self):
        plans = [{"phases": {"analysis": [2, 4], "optimization": [4, 8], "planning": [8, 10]}},
                 {"phases": {"analysis": [40, 45]}}]  # overlaps job 2 below
        jobs = [{"start": 10, "end": 30}, {"start": 20, "end": 50}, {"start": 95, "end": 120}]
        stages = [{"start": 12, "end": 25}, {"start": 22, "end": 48}, {"start": -1, "end": -1}]
        b = stats.call_breakdown(self.call, plans, jobs, stages)
        self.assertEqual(b["sql"], 8)          # 2..10; 40..45 lies under a job
        self.assertEqual(b["jobs_union"], 45)  # 10..50 and 95..100 (clipped)
        self.assertEqual(b["executor"], 36)    # 12..48
        self.assertEqual(b["scheduler"], 9)
        self.assertEqual(b["gap"], 47)
        self.assertEqual(b["sql"] + b["scheduler"] + b["executor"] + b["gap"], b["wall"])

    def test_idle_call_is_all_gap(self):
        b = stats.call_breakdown(self.call, [], [], [])
        self.assertEqual(b["gap"], 100)

    def test_traced_pass_metrics(self):
        passes = [{"traced": True, "start": 0.0, "end": 200.0, "jit_cpu_s": 1.0,
                   "gc_cpu_s": 0.5, "calls": [
            {"name": "q_a", "start": 0.0, "built": 60.0, "end": 100.0},
            {"name": "ml_scan", "start": 100.0, "built": 200.0, "end": 200.0}]}]
        stage = {"id": 1, "attempt": 0, "start": 20, "end": 40, "tasks": 4, "failed_tasks": 0,
                 "duration_ms": 80, "run_ms": 60, "cpu_ns": 5e7, "gc_ms": 1, "peak_mem": 0,
                 "shuffle_read": 0, "fetch_wait_ms": 0, "shuffle_write": 1048576,
                 "spill_mem": 0, "spill_disk": 0, "input_bytes": 0, "input_rows": 10,
                 "output_bytes": 0}
        trace = {"jobs": [{"id": 0, "start": 10, "end": 50, "stages": [1], "ok": True},
                          {"id": 1, "start": 120, "end": 130, "stages": [], "ok": True}],
                 "stages": [stage], "executions": [], "batches": [],
                 "plans": [{"phases": {"analysis": [1, 5]}}]}
        layers, stray = stats.layer_metrics(passes, trace)
        m = layers[0]
        self.assertEqual(stray, 0.0)
        self.assertEqual(m["scheduler.jobs"], 2)
        self.assertEqual(m["ml.scan_jobs"], 1)
        self.assertAlmostEqual(m["operators.build_s"], 0.16)
        self.assertAlmostEqual(m["operators.consume_s"], 0.04)
        self.assertAlmostEqual(m["scheduler.busy_s"], 0.05)
        self.assertAlmostEqual(m["scheduler.task_overhead_s"], 0.02)
        self.assertAlmostEqual(m["shuffle.write_mb"], 1.0)
        self.assertEqual(m["jvm.jit_cpu_s"], 1.0)
        total = sum(m[k] for k in ("sql.self_s", "scheduler.self_s", "executor.stage_wall_s",
                                   "operators.gap_s"))
        self.assertAlmostEqual(total, 0.2)


    def test_stray_time_is_reported(self):
        calls = [{"name": "q_a", "start": 0.0, "built": 50.0, "end": 100.0},
                 {"name": "q_b", "start": 100.0, "built": 150.0, "end": 200.0}]
        passes = [{"traced": True, "start": 0.0, "end": 300.0, "jit_cpu_s": 0.0, "gc_cpu_s": 0.0,
                   "calls": calls}]
        # job 0 starts in q_a but runs 30 ms into q_b; job 1 starts in no call
        trace = {"jobs": [{"id": 0, "start": 80, "end": 130, "stages": [], "ok": True},
                          {"id": 1, "start": 250, "end": 260, "stages": [], "ok": True}],
                 "stages": [], "executions": [], "batches": [], "plans": []}
        _, stray = stats.layer_metrics(passes, trace)
        self.assertAlmostEqual(stray, 0.04)

class CompareTest(unittest.TestCase):
    def test_clear_gain(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [x - 1.0 for x in parent]
        v, f = compare.verdict(parent, change, "lower", 0.1)
        self.assertEqual(v, "better")
        self.assertEqual(f["wins"], 10)

    def test_eight_of_ten_is_no_gain(self):
        parent = [10.0] * 10
        change = [9.0] * 8 + [10.5, 10.5]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)[0], "same")

    def test_ties_count_for_neither(self):
        parent = [10.0] * 10
        change = [9.0] * 9 + [10.0]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)[0], "better")
        change = [9.0] * 8 + [10.0, 10.0]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)[0], "same")

    def test_gain_must_exceed_parent_spread(self):
        parent = [8.0, 12.0] * 5      # quartiles 8 and 12: spread 4
        change = [x - 1.0 for x in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.5)[0], "same")

    def test_regression_beyond_bound(self):
        parent = [10.0] * 10
        self.assertEqual(compare.verdict(parent, [12.5] * 10, "lower", 0.2)[0], "worse")
        self.assertEqual(compare.verdict(parent, [11.5] * 10, "lower", 0.2)[0], "same")
        self.assertEqual(compare.verdict(parent, [7.5] * 10, "higher", 0.2)[0], "worse")

    def test_wide_spread_is_unresolved(self):
        parent = [5.0, 15.0] * 5
        self.assertEqual(compare.verdict(parent, [x + 0.5 for x in parent], "lower", 0.2)[0],
                         "unresolved")
        self.assertEqual(compare.verdict(parent, [1.0] * 10, "lower", 0.2)[0], "better")

    def test_too_few_pairs(self):
        self.assertEqual(compare.verdict([1.0] * 9, [0.5] * 9, "lower", 0.2)[0], "too few")

    def stamp(self, **kw):
        s = {"workload": "w", "trace": 0, "seed": 1, "commit": "a", "cpus": 4, "consume": "noop"}
        s.update(kw)
        return s

    def test_refuses_other_stamps(self):
        bench = {"end_to_end": [{"name": "pass_s", "better": "lower", "bound": 0.2}],
                 "per_layer": []}
        p = [{"stamp": self.stamp(seed=i), "end_to_end": {"pass_s": 1.0}} for i in range(10)]
        c = [{"stamp": self.stamp(seed=i, commit="b"), "end_to_end": {"pass_s": 1.0}}
             for i in range(10)]
        self.assertEqual(compare.compare(p, c, bench)[0][3], "same")
        c[3]["stamp"]["cpus"] = 32
        with self.assertRaises(compare.Refused):
            compare.compare(p, c, bench)

    def test_refuses_unstamped_artifacts(self):
        import json
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "BENCH_r22.json")
            with open(path, "w") as f:
                json.dump({"queries": {}, "metric": "total", "value": 177.9}, f)
            with self.assertRaises(compare.Refused):
                compare.load([path])


if __name__ == "__main__":
    unittest.main()
