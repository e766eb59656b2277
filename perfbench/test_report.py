"""Tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import report

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(report.percentile(xs, 50), 50)
        self.assertEqual(report.percentile(xs, 90), 90)
        self.assertEqual(report.percentile(xs, 100), 100)
        self.assertEqual(report.percentile([7.0], 90), 7.0)
        self.assertEqual(report.percentile([3, 1, 2], 50), 2)

    def test_supported_percentile_leaves_ten_beyond(self):
        self.assertEqual(report.supported_percentile(100), 90)
        self.assertEqual(report.supported_percentile(1000), 90)
        self.assertEqual(report.supported_percentile(40), 75)
        self.assertEqual(report.supported_percentile(11), 9)
        self.assertIsNone(report.supported_percentile(10))
        for n in range(11, 300):
            p = report.supported_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > report.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10)
            if p < 90:  # one percent more would leave fewer than ten
                self.assertLess(sum(1 for x in xs if x > report.percentile(xs, p + 1)), 10)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(report.interval_union([(5, 7), (1, 3), (2, 4), (4, 4.5)]),
                         [(1, 4.5), (5, 7)])
        self.assertEqual(report.interval_union([(1, 10), (2, 3)]), [(1, 10)])
        self.assertEqual(report.interval_union([(3, 3), (4, 2)]), [])

    def test_covered_clips_to_window(self):
        jobs = [(0, 4), (2, 6), (8, 12)]
        self.assertEqual(report.covered(jobs, (0, 20)), 10)
        self.assertEqual(report.covered(jobs, (3, 9)), 4)
        self.assertEqual(report.covered([], (0, 5)), 0)

    def test_driver_only_time(self):
        # a 10 ms query with jobs at 1-3 and 2-5 ms was driver-only for 6 ms
        record = {"executions": [{"pass": 0, "query": "q", "start": 0.0, "built": 1.0,
                                  "planned": 1.5, "end": 10.0, "rows": 1, "error": None}],
                  "jobs": [{"id": 0, "start": 1.0, "end": 3.0},
                           {"id": 1, "start": 2.0, "end": 5.0}],
                  "batches": [], "cores": 4}
        p = {"pass": 0, "traced": True, "start": 0.0, "end": 10.0,
             "jvm_before": {}, "jvm_after": {}, "listener_before": {},
             "listener_after": {"task_run_ms": 8.0}, "store_before": {}, "store_after": {}}
        m = report.pass_layers(record, p)
        self.assertEqual(m["entry.driver_only_ms"], 6.0)
        self.assertEqual(m["exec.job_ms"], 4.0)
        self.assertEqual(m["exec.core_busy_frac"], 0.5)
        self.assertEqual(m["entry.build_jobs"], 0)
        self.assertEqual(m["exec.jobs"], 2)


class CounterDeltaTest(unittest.TestCase):
    def test_growth(self):
        self.assertEqual(report.counter_delta({"a": 3, "b": 10}, {"a": 5, "b": 10}),
                         {"a": 2, "b": 0})

    def test_reset_counts_the_after_value(self):
        self.assertEqual(report.counter_delta({"a": 50}, {"a": 7}), {"a": 7})

    def test_new_key_starts_at_zero(self):
        self.assertEqual(report.counter_delta({}, {"a": 4}), {"a": 4})

    def test_dropped_table_does_not_count_as_published(self):
        record = {"executions": [], "jobs": [], "batches": [], "cores": 4}
        p = {"pass": 0, "traced": True, "start": 0.0, "end": 1.0,
             "jvm_before": {}, "jvm_after": {}, "listener_before": {}, "listener_after": {},
             "store_before": {"newest_version": 40}, "store_after": {"newest_version": 12}}
        self.assertEqual(report.pass_layers(record, p)["store.versions_published"], 0)


class QueryOrderTest(unittest.TestCase):
    QS = ["q1", "q2", "q3", "q4", "q5", "q6"]

    def test_same_seed_same_orders(self):
        self.assertEqual(report.query_orders(self.QS, 7, 20), report.query_orders(self.QS, 7, 20))

    def test_orders_do_not_depend_on_the_given_order(self):
        self.assertEqual(report.query_orders(self.QS, 7, 5),
                         report.query_orders(self.QS[::-1], 7, 5))

    def test_every_pass_is_a_permutation(self):
        orders = report.query_orders(self.QS, 3, 10)
        self.assertEqual(len(orders), 11)
        for o in orders:
            self.assertEqual(sorted(o), sorted(self.QS))

    def test_seeds_differ(self):
        self.assertNotEqual(report.query_orders(self.QS, 1, 10), report.query_orders(self.QS, 2, 10))

    def test_longer_run_extends_shorter(self):
        self.assertEqual(report.query_orders(self.QS, 9, 30)[:6], report.query_orders(self.QS, 9, 5))


class SteadyPassTest(unittest.TestCase):
    def test_all_timed_passes_but_the_first(self):
        record = {"passes": [{"pass": i, "traced": i % 2 == 1} for i in range(7)]}
        self.assertEqual([p["pass"] for p in report.steady_passes(record)], [2, 4, 6])
        self.assertEqual([p["pass"] for p in report.steady_passes(record, traced=True)], [1, 3, 5])

    def test_end_to_end_uses_only_steady_passes(self):
        jvm = lambda ns, jit=0.0, gc=0.0: {"cpu_ns": ns, "jit_cpu_ns": jit, "gc_cpu_ns": gc}
        ref = [report.REFERENCE_MS] * 3
        passes = [{"pass": 0, "traced": False, "start": 0.0, "end": 9000.0,
                   "jvm_before": jvm(0), "jvm_after": jvm(9e9), "reference_ms": ref},
                  {"pass": 1, "traced": False, "start": 9000.0, "end": 11000.0,
                   "jvm_before": jvm(9e9, 1e9, 1e9), "jvm_after": jvm(14e9, 2e9, 2e9),
                   "reference_ms": ref}]
        execs = [{"pass": 0, "start": 0.0, "end": 9000.0},
                 {"pass": 1, "start": 9000.0, "end": 10000.0},
                 {"pass": 1, "start": 10000.0, "end": 11000.0}]
        record = {"passes": passes, "executions": execs, "jvm_start": 0.0,
                  "setup_end": 1500.0, "live_heap_bytes": 2e6}
        m = report.end_to_end(record)
        self.assertEqual(m["pass_s"], 2.0)
        self.assertEqual(m["cpu_s_per_pass"], 3.0)
        self.assertEqual(m["query_p50_ms"], 1000.0)
        self.assertEqual(m["setup_s"], 1.5)
        self.assertEqual(m["measured_pass_s"], 2.0)

    def test_times_scale_to_the_reference_speed(self):
        # The host ran the reference rounds half as fast as REFERENCE_MS:
        # scaled times are half the measured ones; memory is not scaled.
        slow = report.REFERENCE_MS * 2
        jvm = lambda ns: {"cpu_ns": ns}
        passes = [{"pass": i, "traced": False, "start": 4000.0 * i, "end": 4000.0 * (i + 1),
                   "jvm_before": jvm(0), "jvm_after": jvm(6e9),
                   "reference_ms": [slow, slow, slow * 3]} for i in range(2)]
        execs = [{"pass": i, "start": 4000.0 * i, "end": 4000.0 * (i + 1)} for i in range(2)]
        record = {"passes": passes, "executions": execs, "jvm_start": 0.0,
                  "setup_end": 1500.0, "live_heap_bytes": 2e6}
        m = report.end_to_end(record)
        self.assertEqual(report.machine_factor(record), 2.0)
        self.assertEqual(m["reference_ms"], slow)
        self.assertEqual((m["pass_s"], m["measured_pass_s"]), (2.0, 4.0))
        self.assertEqual((m["query_p50_ms"], m["measured_query_p50_ms"]), (2000.0, 4000.0))
        self.assertEqual((m["cpu_s_per_pass"], m["measured_cpu_s_per_pass"]), (3.0, 6.0))
        self.assertEqual((m["setup_s"], m["measured_setup_s"]), (0.75, 1.5))
        self.assertEqual(m["live_heap_mb"], 2.0)


class SpecTest(unittest.TestCase):
    def test_every_benchmark_metric_has_one_definition(self):
        bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
        spec = json.load(open(os.path.join(HERE, "spec.json")))
        self.assertEqual(sorted(m["name"] for m in bench["end_to_end"]), sorted(spec["end_to_end"]))
        defined = [k for layer in spec["per_layer"].values() for k in layer]
        self.assertEqual(sorted(m["name"] for m in bench["per_layer"]), sorted(defined))
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(spec["workloads"]))


class SpanTest(unittest.TestCase):
    def test_jobs_nest_in_batches_and_batches_in_build(self):
        record = {"executions": [{"pass": 1, "query": "q37", "start": 0.0, "built": 8.0,
                                  "planned": 8.5, "end": 10.0, "rows": 5, "error": None}],
                  "batches": [{"run": "r", "batch": 0, "start": 1.0, "end": 4.0}],
                  "jobs": [{"id": 7, "start": 2.0, "end": 3.0},
                           {"id": 8, "start": 9.0, "end": 9.5}]}
        p = {"pass": 1, "start": 0.0, "end": 10.0}
        by_id = {s["id"]: s for s in report.spans(record, [p])}
        self.assertEqual(by_id["j7"]["parent"], "br.0")
        self.assertEqual(by_id["br.0"]["parent"], "q0.build")
        self.assertEqual(by_id["j8"]["parent"], "q0.exec")
        self.assertEqual(by_id["j7"]["query"], "1:q37")


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [{"id": "q", "name": "query", "start": 0, "end": 10, "parent": None},
                 {"id": "b", "name": "build", "start": 0, "end": 6, "parent": "q"},
                 {"id": "e", "name": "exec", "start": 6, "end": 10, "parent": "q"},
                 {"id": "j1", "name": "job", "start": 1, "end": 3, "parent": "b"},
                 {"id": "j2", "name": "job", "start": 2, "end": 4, "parent": "b"}]
        t = report.self_times(spans)
        self.assertEqual(t["query"], 0)
        self.assertEqual(t["build"], 3)
        self.assertEqual(t["exec"], 4)
        self.assertEqual(t["job"], 4)


if __name__ == "__main__":
    unittest.main()
