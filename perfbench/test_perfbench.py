"""Self-tests of the benchmark's own code. Run from the checkout root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import unittest

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def fake_raw(workload="serve_point", n=120):
    ops = [[metrics.READS[i % 4], "native", 10.0 + i % 7, True] for i in range(n)]
    return {
        "info": {"workload": workload, "heap_live_mb": 512.0},
        "min_samples": 100,
        "setup_s": [3.0, 2.0, 4.0],
        "window_s": 10.0,
        "ops": ops,
        "traced_ops": [o[:2] + [o[2] * 1.1, True] for o in ops],
        "failures": [],
        "checks": [{"name": "reads.answers", "ok": True, "detail": ""}],
        "layers": {k: 1.0 for k in metrics.PER_LAYER if not k.startswith(("trace.", "jvm."))},
    }


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertEqual(metrics.tail_percentile(39), 50.0)
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(199), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_at_least_ten_samples_lie_beyond(self):
        for n in (20, 57, 100, 333, 1000, 4321, 10000):
            values = list(range(1, n + 1))
            p = metrics.tail_percentile(n)
            v = metrics.percentile(values, p)
            self.assertGreaterEqual(sum(1 for x in values if x > v), 10, (n, p, v))

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(metrics.percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(metrics.percentile([7], 99), 7)

    def test_sample_count_reported(self):
        _, details = metrics.summarize(fake_raw())
        self.assertEqual(details["read_samples"], 120)
        self.assertEqual(details["read_tail_percentile"], 90.0)

    def test_percentile_rests_on_the_guaranteed_count(self):
        raw = fake_raw(n=300)
        self.assertEqual(metrics.summarize(raw)[1]["read_tail_percentile"], 90.0)
        raw["min_samples"] = 400
        with self.assertRaises(ValueError):
            metrics.summarize(raw)


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(metrics.geomean([2.0, 8.0]), 4.0)
        self.assertAlmostEqual(metrics.geomean([5.0]), 5.0)
        self.assertAlmostEqual(metrics.geomean([1.0, 10.0, 100.0]), 10.0)

    def test_not_dominated_by_one_large_value(self):
        small = [10.0] * 99
        self.assertLess(metrics.geomean(small + [10000.0]), 11.0)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            metrics.geomean([1.0, 0.0])
        with self.assertRaises(ValueError):
            metrics.geomean([])


class Names(unittest.TestCase):
    def test_pattern(self):
        for name in list(metrics.END_TO_END) + list(metrics.PER_LAYER):
            self.assertTrue(metrics.NAME_RE.fullmatch(name), name)
            self.assertLessEqual(len(name), 64, name)
            self.assertTrue(name[0].isalnum(), name)
        self.assertIsNone(metrics.NAME_RE.fullmatch("bad name"))
        self.assertIsNone(metrics.NAME_RE.fullmatch("p99/ms"))

    def test_benchmark_json_matches_runner(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        per = {m["name"]: m["unit"] for m in bench["per_layer"]}
        self.assertEqual(e2e, metrics.END_TO_END)
        self.assertEqual(per, metrics.PER_LAYER)
        raw = fake_raw()
        self.assertEqual(set(metrics.result(raw, False)["metrics"]), set(e2e))
        self.assertEqual(set(metrics.result(raw, True)["metrics"]), set(per))

    def test_layer_targets_cover_every_layer_metric(self):
        with open(os.path.join(ROOT, "perfbench", "layers.json")) as fh:
            targets = json.load(fh)["per_layer"]
        self.assertEqual(set(targets), set(metrics.PER_LAYER))
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            workloads = {w["name"] for w in json.load(fh)["workloads"]}
        for name, t in targets.items():
            if t["moves"] is None:
                # measured, but no workload of a benchmark round moves it
                self.assertIsNone(t["workload"], name)
                self.assertTrue(t["why"], name)
            else:
                self.assertIn(t["moves"], metrics.END_TO_END, name)
                self.assertIn(t["workload"], workloads, name)


class Result(unittest.TestCase):
    def test_shape(self):
        res = metrics.result(fake_raw(), False)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["attempted"], 240)
        self.assertEqual(res["failed"], 0)
        self.assertEqual(res["metrics"]["setup_s"], {"value": 3.0, "unit": "s"})
        self.assertAlmostEqual(res["metrics"]["throughput_sps"]["value"], 12.0)

    def test_failed_statement_or_check_makes_run_incorrect(self):
        raw = fake_raw()
        raw["ops"][3][3] = False
        res = metrics.result(raw, False)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        raw = fake_raw()
        raw["checks"].append({"name": "suite.row_counts", "ok": False, "detail": "x"})
        self.assertFalse(metrics.result(raw, False)["correct"])

    def test_tracing_overhead(self):
        lay = metrics.result(fake_raw(), True)["metrics"]
        self.assertTrue(math.isclose(lay["trace.overhead_class_geomean"]["value"], 0.1, rel_tol=1e-9))
        self.assertTrue(math.isclose(lay["trace.overhead_throughput"]["value"], 0.1, rel_tol=1e-9))

    def test_missing_layer_is_an_error(self):
        raw = fake_raw()
        del raw["layers"]["sched.floor_ms"]
        with self.assertRaises(ValueError):
            metrics.result(raw, True)


if __name__ == "__main__":
    unittest.main()
