"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
import metrics  # noqa: E402
import selfcert  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile([3.0], 90), 3.0)

    def test_tail_needs_ten_samples_beyond(self):
        # p90 of 100 samples leaves exactly 10 beyond it; of 99, only 9
        self.assertEqual(metrics.samples_beyond(100, 90), 10)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(99), 75)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertIsNone(metrics.tail_percentile(19))
        for n in range(1, 2000):
            p = metrics.tail_percentile(n)
            if p is not None:
                self.assertGreaterEqual(metrics.samples_beyond(n, p), 10)
                higher = [q for q in metrics.TAIL_PERCENTILES if q > p]
                self.assertTrue(all(metrics.samples_beyond(n, q) < 10 for q in higher))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # two jobs overlap on [20, 30]: they cover [10, 40], 30 of 100 ms
        self.assertEqual(metrics.self_ms(0, 100, [(10, 30), (20, 40)]), 70)

    def test_children_clipped_to_parent(self):
        self.assertEqual(metrics.self_ms(0, 100, [(-50, 10), (90, 500)]), 80)

    def test_nested_and_disjoint(self):
        self.assertEqual(metrics.self_ms(0, 100, [(10, 50), (20, 30), (60, 70)]), 50)
        self.assertEqual(metrics.self_ms(0, 100, []), 100)
        self.assertEqual(metrics.self_ms(0, 100, [(0, 100), (10, 20)]), 0)


class PermutationTest(unittest.TestCase):
    QUERIES = [f"q{i}" for i in range(40)]

    def test_deterministic_per_seed(self):
        a = metrics.permutations(self.QUERIES, "w:7", 5)
        self.assertEqual(a, metrics.permutations(self.QUERIES, "w:7", 5))
        self.assertNotEqual(a, metrics.permutations(self.QUERIES, "w:8", 5))

    def test_each_order_covers_every_query_once(self):
        for order in metrics.permutations(self.QUERIES, "w:3", 10):
            self.assertEqual(sorted(order), sorted(self.QUERIES))
            self.assertEqual(len(order), len(set(order)))


class ContractTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_metric_names_match_benchmark_json(self):
        self.assertEqual({m["name"] for m in self.spec["end_to_end"]}, set(metrics.END_TO_END))
        self.assertEqual({m["name"] for m in self.spec["per_layer"]}, set(metrics.PER_LAYER))

    def test_units_and_directions_match(self):
        for m in self.spec["end_to_end"]:
            self.assertEqual(m["unit"], metrics.END_TO_END[m["name"]])
            self.assertEqual(m["better"], "lower")
        for m in self.spec["per_layer"]:
            self.assertEqual((m["unit"], m["better"]), metrics.PER_LAYER[m["name"]])

    def test_workloads_defined(self):
        with open(os.path.join(BENCH, "workloads.json")) as f:
            defined = json.load(f)
        self.assertEqual({w["name"] for w in self.spec["workloads"]}, set(defined))


class PerLayerTest(unittest.TestCase):
    """per_layer attributes jobs, phases and batches to query spans by time."""

    def raw(self):
        job = dict(job=1, call_site="parquet at Tables.scala:23", start_ms=105.0, end_ms=115.0,
                   succeeded=True, stages=1, tasks=4, task_failures=0, run_ms=30, cpu_ns=20e6,
                   gc_ms=1, shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
                   output_bytes=0)
        job2 = dict(job, job=2, call_site="save at X.scala:1", start_ms=130.0, end_ms=190.0,
                    tasks=8, run_ms=200)
        execution = dict(query="q", start_ms=100.0, construct_end_ms=120.0, end_ms=200.0)
        untraced = dict(traced=False, start_ms=0.0, end_ms=90.0, executions=[])
        traced = dict(traced=True, start_ms=100.0, end_ms=200.0, executions=[execution])
        return dict(passes=[traced, untraced], jobs=[job, job2],
                    phases=[dict(phase="planning", start_ms=125.0, end_ms=128.0)],
                    batches=[], opens=[{"lineitem": 7.5}], cpus=4)

    def test_totals_and_self_times(self):
        out, per_query = metrics.per_layer(self.raw())
        self.assertEqual(set(out), set(metrics.PER_LAYER))
        self.assertEqual(out["scheduler.jobs"], 2)
        self.assertEqual(out["operators.construct_jobs"], 1)
        self.assertEqual(out["sources.schema_jobs"], 1)
        self.assertEqual(out["operators.construct_self_ms"], 10)  # 20 ms minus the 10 ms job
        self.assertEqual(out["operators.action_self_ms"], 80 - 3 - 60)
        self.assertEqual(out["catalyst.planning_ms"], 3)
        self.assertEqual(out["sources.open_ms"], 7.5)
        self.assertAlmostEqual(out["executor.busy_frac"], 230 / (100 * 4))
        self.assertAlmostEqual(out["benchmark.trace_overhead_frac"], 100 / 90 - 1)
        self.assertEqual(per_query["q"]["scheduler.tasks"], 12)


class EndToEndTest(unittest.TestCase):
    def test_pass_and_gmean_from_per_query_medians(self):
        ex = lambda q, secs: dict(query=q, start_ms=0.0, construct_end_ms=1.0, end_ms=secs * 1000)
        one = dict(traced=False, start_ms=0.0, end_ms=0.0,
                   executions=[ex("a", 1.0), ex("b", 2.0), ex("c", 5.0)])
        raw = dict(passes=[one, dict(one, executions=[ex("a", 1.2), ex("b", 2.2), ex("c", 4.0)]),
                           dict(one, executions=[ex("a", 3.0), ex("b", 2.3), ex("c", 4.5)]),
                           dict(one, traced=True, executions=[ex("a", 9.0)])],
                   setup_s=[9.0, 1.0, 1.1], vm_hwm_kb=2048)
        out = metrics.end_to_end(raw)
        self.assertAlmostEqual(out["pass_s"], 1.2 + 2.2 + 4.5)
        self.assertEqual(out["setup_s"], 1.1)
        self.assertAlmostEqual(out["query_gmean_s"], (1.2 * 2.2 * 4.5) ** (1 / 3))
        self.assertEqual(out["peak_rss_mb"], 2.0)


class SelfCertTest(unittest.TestCase):
    SNAP = dict(nproc=4, load1=0.5, other_jvms=0, cpu_ticks=1000, steal_ticks=10,
                page_cache_mb=100, mem_available_mb=1000)

    def test_quiet_run_is_not_contended(self):
        end = dict(self.SNAP, cpu_ticks=2000, steal_ticks=15)
        cert = selfcert.certify(self.SNAP, end, "8g")
        self.assertAlmostEqual(cert["steal_frac"], 0.005)
        self.assertFalse(cert["contended"])

    def test_steal_load_and_other_jvms_flag_the_run(self):
        end = dict(self.SNAP, cpu_ticks=2000, steal_ticks=60)
        self.assertTrue(selfcert.certify(self.SNAP, end, "8g")["contended"])
        self.assertTrue(selfcert.certify(dict(self.SNAP, load1=2.0), self.SNAP, "8g")["contended"])
        self.assertTrue(selfcert.certify(self.SNAP, dict(self.SNAP, other_jvms=1), "8g")["contended"])


if __name__ == "__main__":
    unittest.main()
