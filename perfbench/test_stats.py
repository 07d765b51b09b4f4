"""Tests for the benchmark's own helpers: python3 -m unittest discover perfbench"""

import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import stats  # noqa: E402

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def record(**over):
    rec = {
        "workload": "report_daily", "trace": False,
        "attempted": 8, "failed": 0,
        "setup": {"setup_s": 9.5},
        "loop": {"wall_s": 10.2, "unit": "report", "planned_ops": 8, "done_ops": 8,
                 "capped": False},
        "samples": {"report": [1.0, 1.2, 1.1, 1.4, 1.3, 1.25, 1.15, 1.05]},
        "jvm": {"live_heap_peak_mb": 300.5},
        "record": {}, "layers": {},
    }
    rec.update(over)
    return rec


class PercentileRule(unittest.TestCase):

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile([7.0], 95), 7.0)

    def test_p95_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.p95([1.0] * 199))
        self.assertEqual(stats.beyond(200, 95), 10)
        self.assertEqual(stats.samples_needed(95), 200)
        self.assertEqual(stats.p95(list(range(200))), 189)

    def test_tail_picks_highest_supported_percentile(self):
        self.assertIsNone(stats.tail([1.0] * 39))
        self.assertEqual(stats.tail(list(range(40)))[0], 75)
        self.assertEqual(stats.tail(list(range(100)))[0], 90)
        self.assertEqual(stats.tail(list(range(1000)))[0], 99)

    def test_every_timing_carries_its_sample_count(self):
        m = stats.workload_metrics(record())
        for name in ("report_p50_s", "report_p95_s", "report_tail_s"):
            self.assertEqual(m[name]["n"], 8, name)
        self.assertIsNone(m["report_p95_s"]["value"])
        self.assertEqual(m["report_p95_s"]["needs_n"], 200)


class MetricNames(unittest.TestCase):

    def test_benchmark_names_and_units(self):
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in SPEC[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["unit"], stats.UNIT_RE)

    def test_rejects_bad_names(self):
        for bad in ("", "_x", "a b", "x/y", "a" * 65):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_result_has_exactly_the_declared_metrics(self):
        r = stats.result(record(), SPEC["end_to_end"])
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(r["metrics"]), [m["name"] for m in SPEC["end_to_end"]])
        t = stats.result(record(trace=True, layers={"spark.jobs": 3.0}), SPEC["per_layer"])
        self.assertEqual(list(t["metrics"]), [m["name"] for m in SPEC["per_layer"]])
        self.assertEqual(t["metrics"]["spark.jobs"]["value"], 3.0)


class FailedOps(unittest.TestCase):

    def test_clean_run_has_zero_share(self):
        rec = record()
        self.assertEqual(stats.failed_op_share(rec), 0.0)
        self.assertTrue(stats.result(rec, SPEC["end_to_end"])["correct"])

    def test_failing_check_raises_failed_op_share(self):
        rec = record(failed=1)
        self.assertAlmostEqual(stats.workload_metrics(rec)["failed_op_share"]["value"], 1 / 8)
        self.assertFalse(stats.result(rec, SPEC["end_to_end"])["correct"])

    def test_capped_loop_is_scaled_to_planned_size(self):
        rec = record(loop={"wall_s": 10.0, "unit": "report", "planned_ops": 8, "done_ops": 4,
                           "capped": True})
        self.assertEqual(stats.run_seconds(rec), 20.0)
        rec["loop"]["capped"] = False
        self.assertEqual(stats.run_seconds(rec), 10.0)


if __name__ == "__main__":
    unittest.main()
