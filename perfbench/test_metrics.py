"""Tests of perfbench's own arithmetic and checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import unittest
from pathlib import Path

import metrics
import run

HERE = Path(__file__).resolve().parent


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond_it(self):
        self.assertEqual(metrics.highest_supported(10000), 99.9)
        self.assertEqual(metrics.highest_supported(1000), 99.0)
        self.assertEqual(metrics.highest_supported(999), 90.0)
        self.assertEqual(metrics.highest_supported(100), 90.0)
        self.assertEqual(metrics.highest_supported(99), 75.0)
        self.assertEqual(metrics.highest_supported(40), 75.0)
        self.assertEqual(metrics.highest_supported(5), 50.0)

    def test_tail_states_its_percentile_and_count(self):
        p, v, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((p, v, n), (90.0, 90, 100))

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 50), 3)
        self.assertEqual(metrics.percentile(xs, 100), 5)
        self.assertEqual(metrics.percentile(xs, 1), 1)

    def test_failed_samples_miss_any_limit(self):
        lat = [1.0] * 98 + [math.inf] * 2
        self.assertEqual(metrics.percentile(lat, 99), math.inf)
        self.assertEqual(metrics.percentile(lat, 50), 1.0)


class Names(unittest.TestCase):
    def test_metric_names_are_well_formed_and_unique(self):
        names = metrics.end_to_end_names() + metrics.per_layer_names()
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertTrue(metrics.NAME_RE.match(n), n)

    def test_benchmark_json_lists_the_metrics_the_runs_print(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual([m["name"] for m in spec["end_to_end"]],
                         metrics.end_to_end_names())
        self.assertEqual([m["name"] for m in spec["per_layer"]],
                         metrics.per_layer_names())
        self.assertEqual(tuple(w["name"] for w in spec["workloads"]), run.WORKLOADS)


class ErrorRate(unittest.TestCase):
    def test_arithmetic(self):
        self.assertEqual(metrics.error_rate(200, 0), 0.0)
        self.assertEqual(metrics.error_rate(200, 5), 0.025)
        self.assertEqual(metrics.error_rate(3, 3), 1.0)

    def test_rejects_impossible_counts(self):
        for a, f in ((0, 0), (5, 6), (5, -1)):
            with self.assertRaises(ValueError):
                metrics.error_rate(a, f)


class NoTask(unittest.TestCase):
    def test_union_of_overlapping_tasks(self):
        # window 0..100; tasks cover 10..30 (two overlapping) and 50..60
        tasks = [(10, 25), (20, 30), (50, 60)]
        self.assertEqual(metrics.no_task(tasks, 0, 100), 70)

    def test_tasks_clipped_to_the_window(self):
        tasks = [(-50, 10), (90, 200)]
        self.assertEqual(metrics.no_task(tasks, 0, 100), 80)

    def test_no_tasks_is_all_idle_and_full_cover_is_none(self):
        self.assertEqual(metrics.no_task([], 5, 15), 10)
        self.assertEqual(metrics.no_task([(0, 4), (3, 20)], 0, 20), 0)


class SelfTime(unittest.TestCase):
    def test_span_minus_its_children(self):
        spans = [{"id": 1, "parent": 0, "start_ms": 0, "end_ms": 100},
                 {"id": 2, "parent": 1, "start_ms": 10, "end_ms": 40},
                 {"id": 3, "parent": 1, "start_ms": 30, "end_ms": 50},
                 {"id": 4, "parent": 2, "start_ms": 15, "end_ms": 20}]
        self.assertEqual(metrics.self_times(spans), {1: 60, 2: 25, 3: 20, 4: 5})


class Correctness(unittest.TestCase):
    def setUp(self):
        self.expected = json.loads((HERE / "expected.json").read_text())["batch_loops"]
        self.entries = metrics.LOOPS

    def test_recorded_fingerprints_cover_every_entry(self):
        self.assertEqual(sorted(self.expected), sorted(self.entries))
        self.assertEqual(metrics.batch_mismatches(self.expected, self.expected, self.entries), [])

    def test_perturbed_hash_or_count_is_caught(self):
        e = self.entries[1]
        wrong_hash = json.loads(json.dumps(self.expected))
        wrong_hash[e]["hash"] = format(int(wrong_hash[e]["hash"], 16) ^ 1, "x")
        self.assertEqual(metrics.batch_mismatches(self.expected, wrong_hash, self.entries), [e])
        wrong_rows = json.loads(json.dumps(self.expected))
        wrong_rows[e]["rows"] += 1
        self.assertEqual(metrics.batch_mismatches(self.expected, wrong_rows, self.entries), [e])

    def test_missing_output_is_a_mismatch(self):
        partial = {k: v for k, v in self.expected.items() if k != self.entries[0]}
        self.assertEqual(metrics.batch_mismatches(self.expected, partial, self.entries),
                         [self.entries[0]])


class ArgumentParsing(unittest.TestCase):
    def test_malformed_values_are_refused(self):
        good = ["--workload", "http_serve", "--seed", "1", "--seconds", "6", "--trace", "0"]
        self.assertEqual(run.parse_args(good).seed, 1)
        for bad in (["--seed", "1x"], ["--seconds", "0"], ["--trace", "2"],
                    ["--workload", "http"], ["--seconds", "6.5"]):
            argv = list(good)
            i = argv.index(bad[0])
            argv[i + 1] = bad[1]
            with self.assertRaises(SystemExit):
                run.parse_args(argv)

    def test_malformed_environment_is_refused(self):
        root = HERE.parent
        for env in ({"PERFBENCH_SF_DIR": str(root / "no-such-dir")},
                    {"PERFBENCH_JARS": str(root / "no-such-dir")}):
            with self.assertRaises(run.Refused):
                run.settings(env, root)


if __name__ == "__main__":
    unittest.main()
