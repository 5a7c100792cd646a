"""The benchmark's own checks: its statistics code, the generator's
determinism and closed-form counts, and BENCHMARK.json against the metric
definitions. Run with `python3 perfbench/run.py --self-check`."""
import hashlib
import json
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Percentiles(unittest.TestCase):
    def test_quantile_interpolates_like_statistics_inclusive(self):
        v = [7.0, 1.0, 3.0, 5.0, 9.0, 2.0]
        self.assertEqual(stats.median(v), 4.0)
        q1, q2, q3 = statistics.quantiles(v, n=4, method="inclusive")
        self.assertAlmostEqual(stats.quantile(v, 0.25), q1)
        self.assertAlmostEqual(stats.quantile(v, 0.75), q3)
        self.assertEqual(stats.quantile(v, 0.0), 1.0)
        self.assertEqual(stats.quantile(v, 1.0), 9.0)

    def test_single_sample(self):
        self.assertEqual(stats.quantile([3.0], 0.9), 3.0)


class TailRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        v = list(range(1, 101))
        self.assertEqual(stats.beyond(v, 0.9), 10)
        p, value, n = stats.tail_percentile(v)
        self.assertEqual((p, n), (90, 10))
        self.assertAlmostEqual(value, 90.1)

    def test_fewer_samples_fall_back_to_a_lower_percentile(self):
        p, _, n = stats.tail_percentile(list(range(1, 51)))
        self.assertEqual(p, 80)
        self.assertGreaterEqual(n, 10)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail_percentile(list(range(1, 15))))

    def test_ties_do_not_count_as_beyond(self):
        self.assertEqual(stats.beyond([5.0] * 40, 0.5), 0)


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end, name="x"):
        return {"id": i, "parent": parent, "op": 0, "name": name,
                "start_ns": start, "end_ns": end}

    def test_children_are_subtracted_once_and_clipped(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 30), self.span(2, 0, 20, 50),   # overlap
                 self.span(3, 0, 90, 120),                           # runs past parent
                 self.span(4, 1, 12, 18)]                            # grandchild
        s = stats.self_times(spans)
        self.assertEqual(s[0], 100 - (40 + 10))
        self.assertEqual(s[1], 20 - 6)
        self.assertEqual(s[4], 6)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([self.span(0, -1, 5, 9)]), {0: 4})

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (10, 12)], 0, 11), 9)


class PerLayer(unittest.TestCase):
    def test_cycles_sum_counts_and_take_peaks_and_leaks_at_their_max(self):
        def op(i, traced, ms, rdds=0.0):
            return {"i": i, "traced": traced, "ms": ms, "error": "", "label": "q",
                    "extra": {"cache.rdds_left": rdds}}

        def span(i, jobs, task_max):
            return {"id": i, "parent": -1, "op": i, "name": "op", "start_ns": 0,
                    "end_ns": 10, "engine": {"sched.jobs": jobs, "sched.task_max_ms": task_max}}
        # cycles of two operations: cycle 0 untraced, cycles 1 and 2 traced
        raw = {"workload": "query_loop", "calib_ms": [1.0, 2.0, 3.0], "loadavg_1m": [1.0],
               "ops": [op(0, False, 4.0), op(1, False, 6.0), op(2, True, 5.0, 1.0),
                       op(3, True, 5.0), op(4, True, 5.0), op(5, True, 5.0)],
               "spans": [span(2, 1, 5.0), span(3, 2, 7.0), span(4, 3, 1.0), span(5, 4, 2.0)]}
        names = ["sched.jobs", "sched.task_max_ms", "cache.rdds_left", "trace.overhead_share"]
        m = stats.per_layer(raw, names, cycle=2)
        self.assertEqual(m["sched.jobs"], (3 + 7) / 2)          # sums per cycle
        self.assertEqual(m["sched.task_max_ms"], (7.0 + 2.0) / 2)  # max per cycle
        self.assertEqual(m["cache.rdds_left"], 0.5)              # leak max per cycle
        self.assertEqual(m["trace.overhead_share"], 0.0)


class Generator(unittest.TestCase):
    def test_lake_is_deterministic_and_counts_are_closed_form(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.gen_lake(os.path.join(d, "a"), 7, buildings=12, hours=2)
            b = gen.gen_lake(os.path.join(d, "b"), 7, buildings=12, hours=2)
            c = gen.gen_lake(os.path.join(d, "c"), 8, buildings=12, hours=2)
            strip = lambda x: {k: v for k, v in x.items() if k != "config"}
            self.assertEqual(strip(a), strip(b))
            self.assertEqual(tree_digest(os.path.join(d, "a")), tree_digest(os.path.join(d, "b")))
            self.assertNotEqual(tree_digest(os.path.join(d, "a")), tree_digest(os.path.join(d, "c")))
            self.assertEqual(a["rows_in"], 12 * 2 * 4)
            self.assertEqual(a["rows_out"], 12 * 2)
            self.assertEqual(sum(a["group_counts"].values()), 12)
            root = gen.lake_paths(os.path.join(d, "a"))["data_root"]
            files = [f for _, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")]
            self.assertEqual(len(files), a["files_in_lake"])
            sel = os.path.join(root, f"upgrade={gen.UPGRADE}", f"state={gen.STATE}")
            self.assertEqual(len(os.listdir(sel)), a["files_listed"])

    def test_tables_are_deterministic(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate("tables", os.path.join(d, "a"), 3, "sf0.01")
            b = gen.generate("tables", os.path.join(d, "b"), 3, "sf0.01")
            self.assertEqual(a, b)
            self.assertEqual(tree_digest(os.path.join(d, "a")), tree_digest(os.path.join(d, "b")))
            # a second call with the same key reuses the files
            self.assertEqual(gen.generate("tables", os.path.join(d, "a"), 3, "sf0.01"), a)
            with self.assertRaises(RuntimeError):
                gen.generate("tables", os.path.join(d, "a"), 4, "sf0.01")


class BenchmarkJson(unittest.TestCase):
    def test_matches_metric_definitions(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(metrics.WORKLOADS))
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]},
                         {k: v[:2] for k, v in metrics.PER_LAYER.items()})
        self.assertEqual(b["paths"], ["perfbench"])
        bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
        self.assertEqual(metrics.PHASE_COVER_BOUND, bounds["op_p50_ms"])


if __name__ == "__main__":
    unittest.main()
