"""Self-tests of the benchmark's own rules. They need no JVM:

    python3 perfbench/run.py --selftest
"""
import json
import os
import unittest

import metrics
import run

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        s = metrics.summary(range(1, 101))
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["p50"], 50.5)
        # p90 has samples 91..100 beyond it; p95 only five
        self.assertEqual((s["tail_pct"], s["tail"]), (90.0, 90))

    def test_thousand_samples_reach_p99(self):
        s = metrics.summary(range(1000))
        self.assertEqual(s["tail_pct"], 99.0)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(metrics.summary(range(19))["tail_pct"])
        # twenty samples: ten lie beyond the median's rank
        self.assertEqual(metrics.summary(range(20))["tail_pct"], 50.0)

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(metrics.summary([3, 1, 2]), metrics.summary([1, 2, 3]))


class Intervals(unittest.TestCase):
    def test_self_time_from_nested_spans(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
            {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},   # overlaps 1
            {"id": 3, "parent": 0, "start": 7.0, "end": 12.0},  # runs past 0
            {"id": 4, "parent": 2, "start": 2.5, "end": 3.0},
        ]
        st = metrics.self_times(spans)
        # children of 0 cover [1,5] and [7,10] inside it: 4 + 3
        self.assertAlmostEqual(st[0], 3.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 2.5)
        self.assertAlmostEqual(st[3], 5.0)
        self.assertAlmostEqual(st[4], 0.5)

    def test_driver_gap_with_overlapping_jobs(self):
        jobs = [(1.0, 4.0), (3.0, 6.0), (8.0, 12.0)]
        # covered inside [0,10]: [1,6] and [8,10] -> 7 of 10
        self.assertAlmostEqual(metrics.driver_gap(0.0, 10.0, jobs), 3.0)
        self.assertAlmostEqual(metrics.driver_gap(0.0, 10.0, []), 10.0)
        # a job entirely outside the query covers none of it
        self.assertAlmostEqual(metrics.driver_gap(0.0, 1.0, [(5.0, 6.0)]), 1.0)

    def test_tiny_task_base_is_tasks_that_ran(self):
        stages = [
            # 8 partitions declared, 4 tasks ran (the rest were skipped)
            {"num_tasks": 8, "tasks": 4, "tiny_tasks": 2},
            {"num_tasks": 2, "tasks": 2, "tiny_tasks": 0},
        ]
        self.assertAlmostEqual(metrics.tiny_task_frac(stages), 2 / 6)
        self.assertEqual(metrics.tiny_task_frac([]), 0.0)


class OrderAndResults(unittest.TestCase):
    QS = ["q%d" % i for i in range(12)]

    def test_seed_fixes_the_permutations(self):
        a = metrics.pass_orders("w", 7, self.QS, 5)
        self.assertEqual(len(a), 6)
        self.assertEqual(a, metrics.pass_orders("w", 7, self.QS, 5))
        self.assertNotEqual(a, metrics.pass_orders("w", 8, self.QS, 5))
        # the first pass keeps the listed order; steady passes are shuffled
        self.assertEqual(a[0], self.QS)
        self.assertEqual(metrics.pass_orders("w", 8, self.QS, 5)[0], self.QS)
        for order in a:
            self.assertEqual(sorted(order), sorted(self.QS))
        self.assertGreater(len({tuple(o) for o in a[1:]}), 1)

    @staticmethod
    def passes(*orders, bad=None):
        return [{"index": i, "queries": [
            {"name": n, "rows": 1, "error": "",
             "checksum": "bad" if (i, n) == bad else "c" + n} for n in o]}
            for i, o in enumerate(orders)]

    def test_expected_results_do_not_depend_on_order(self):
        expected = {n: {"rows": 1, "checksum": "c" + n} for n in "abc"}
        ps = self.passes("abc", "cab", "bca")
        self.assertEqual(metrics.check_results(ps, expected), (9, 0, []))

    def test_mismatch_error_and_drift_each_count(self):
        expected = {n: {"rows": 1, "checksum": "c" + n} for n in "abc"}
        ps = self.passes("abc", "cab", bad=(1, "a"))
        attempted, failed, problems = metrics.check_results(ps, expected)
        self.assertEqual((attempted, failed), (6, 1))
        ps = self.passes("abc")
        ps[0]["queries"][1]["error"] = "boom"
        self.assertEqual(metrics.check_results(ps, expected)[1], 1)
        # a steady pass that drifts from the first fails even when the
        # expected file has nothing for the query
        ps = self.passes("a", "a", bad=(1, "a"))
        self.assertEqual(metrics.check_results(ps, {})[1], 2)


class Layers(unittest.TestCase):
    def raw(self):
        def q(name, mod, start, c, p, e):
            return {"name": name, "module": mod, "start": start,
                    "end": start + (c + p + e) * 1e3, "construct_s": c,
                    "plan_s": p, "execute_s": e, "rows": 1, "checksum": "x",
                    "error": "", "memo_builds": 0, "storage_mb": start / 1e4}
        passes, spans, jobs, stages = [], [], [], []
        t = 0.0
        for i, traced in enumerate([True, False, True, False, False, True]):
            qs = [q("a", "graphops", t, 1.0, 0.1, 0.4),
                  q("b", "dedup", t + 1500.0, 0.2, 0.1, 0.2)]
            passes.append({"index": i, "traced": traced, "start": t,
                           "end": t + 2000.0, "queries": qs})
            pid = len(spans)
            spans.append({"id": pid, "parent": 0, "kind": "pass",
                          "name": "pass%d" % i, "start": t, "end": t + 2000.0})
            if traced:
                for qq in qs:
                    qid = len(spans)
                    spans.append({"id": qid, "parent": pid, "kind": "query",
                                  "name": qq["name"], "start": qq["start"],
                                  "end": qq["end"]})
                    jobs.append({"id": len(jobs), "span": qid,
                                 "start": qq["start"], "end": qq["start"] + 100.0})
                    stages.append({"span": qid, "tasks": 4, "tiny_tasks": 1,
                                   "task_wait_ms": 10.0, "task_run_ms": 400.0,
                                   "gc_ms": 0.0, "shuffle_read": 1048576,
                                   "shuffle_write": 0, "spill_disk": 0})
            t += 2000.0
        return {"cpus": 4, "passes": passes, "spans": spans, "jobs": jobs,
                "stages": stages, "rdd_count": 1, "heap_live_mb": 1.0,
                "sentinel_start_s": 0.3,
                "sentinel_end_s": 0.3, "steal_frac": 0.0, "drain_timeouts": 0,
                "setup": {"jvm_s": 0.5, "session_s": 5.0, "first_job_s": 3.0,
                          "setup_s": 8.5}}

    def test_per_layer_and_end_to_end(self):
        raw = self.raw()
        m = metrics.per_layer(raw, {"read": ["a"]})
        self.assertEqual(set(m) | {"error_rate"}, set(metrics.PER_LAYER_UNITS))
        self.assertAlmostEqual(m["construct_s"], 1.2)
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["spark.first_jobs"], 2)
        # each query wall less its one 0.1 s job
        self.assertAlmostEqual(m["spark.driver_gap_s"], 1.5 + 0.5 - 0.2)
        self.assertAlmostEqual(m["spark.tiny_task_frac"], 0.25)
        self.assertAlmostEqual(m["spark.cpu_util"], 0.8 / (2.0 * 4))
        self.assertAlmostEqual(m["read_p50_s"], 1.5)
        self.assertEqual(m["write_samples"], 0)
        self.assertAlmostEqual(m["trace.layer_cover_min"], 1.0)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.0)
        # jobs become child spans of the span that issued them
        spans = metrics.trace_spans(raw)
        self.assertEqual(len(spans), len(raw["spans"]) + len(raw["jobs"]))
        q0 = next(s for s in spans if s["kind"] == "query")
        self.assertAlmostEqual(q0["self_ms"], 1500.0 - 100.0)
        # peak over the steady passes' query boundaries (the last query)
        self.assertAlmostEqual(m["storage_mb"], 1.15)
        e = metrics.end_to_end(raw)
        self.assertEqual(set(e), set(metrics.END_TO_END_UNITS))
        self.assertAlmostEqual(e["queries_per_s"], 1.0)


class Definitions(unittest.TestCase):
    def test_benchmark_json_matches_the_harness(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual({w["name"] for w in b["workloads"]}, set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         metrics.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         metrics.PER_LAYER_UNITS)

    def test_every_query_has_an_expected_result(self):
        with open(run.EXPECTED) as f:
            expected = json.load(f)
        for w in run.WORKLOADS:
            for q in run.queries_of(w):
                self.assertIn(q, expected[run.DATA_SET], w)


if __name__ == "__main__":
    unittest.main()
