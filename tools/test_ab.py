"""Unit tests for the statistics of tools/ab.py.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import pathlib
import tempfile
import unittest

import ab


class AbStatisticsTest(unittest.TestCase):

    def test_quartiles_interpolate_between_order_statistics(self):
        self.assertEqual(ab.quartiles([1, 2, 3, 4, 5]), (2, 3, 4))
        self.assertEqual(ab.quartiles([4, 1, 3, 2]), (1.75, 2.5, 3.25))
        self.assertEqual(ab.quartiles([7]), (7, 7, 7))

    def test_sign_test_is_two_sided_exact_binomial(self):
        self.assertAlmostEqual(ab.sign_test(10, 0), 2 / 1024)
        self.assertAlmostEqual(ab.sign_test(0, 10), 2 / 1024)
        self.assertAlmostEqual(ab.sign_test(9, 1), 22 / 1024)
        self.assertEqual(ab.sign_test(5, 5), 1.0)
        self.assertEqual(ab.sign_test(0, 0), 1.0)

    def test_order_alternates_starting_with_the_parent(self):
        self.assertEqual([ab.first_side(i) for i in range(4)],
                         ["parent", "change", "parent", "change"])

    def test_lower_is_better_counts_pairs_the_change_ran_faster(self):
        parent = [100, 110, 90, 105, 95, 100, 102, 98, 101, 99]
        change = [60, 65, 70, 58, 61, 62, 120, 59, 60, 63]
        s = ab.summarize(parent, change, "lower", 0.25)
        self.assertEqual((s["wins"], s["losses"], s["pairs"]), (9, 1, 10))
        self.assertEqual(s["parent_median"], 100)
        self.assertEqual(s["change_median"], 61.5)
        self.assertAlmostEqual(s["delta"], -0.385)
        # parent quartiles 98.25 and 101.75
        self.assertAlmostEqual(s["parent_iqr"], 3.5)
        self.assertAlmostEqual(s["parent_rel_iqr"], 0.035)
        self.assertEqual(s["verdict"], "better")

    def test_higher_is_better_flips_the_direction(self):
        s = ab.summarize([10, 10, 10, 10], [12, 12, 12, 8], "higher", 0.25)
        self.assertEqual((s["wins"], s["losses"]), (3, 1))
        # 3 of 4 is under the 9-in-10 share: not a claimable gain
        self.assertEqual(s["verdict"], "same")

    def test_a_gap_inside_the_parent_iqr_is_not_better(self):
        parent = [80, 120, 90, 110, 100, 85, 115, 95, 105, 100]
        change = [p - 5 for p in parent]
        s = ab.summarize(parent, change, "lower", 0.25)
        self.assertEqual(s["wins"], 10)
        self.assertLess(5, s["parent_iqr"])
        self.assertEqual(s["verdict"], "same")

    def test_worse_beyond_the_bound_and_wide_spread_are_flagged(self):
        worse = ab.summarize([100] * 4, [130] * 4, "lower", 0.25)
        self.assertEqual(worse["verdict"], "worse")
        wide = ab.summarize([50, 100, 150, 200], [50, 100, 150, 200], "lower", 0.25)
        self.assertGreater(wide["parent_rel_iqr"], 0.25)
        self.assertEqual(wide["verdict"], "unresolved")
        self.assertEqual((wide["wins"], wide["losses"]), (0, 0))

    def test_a_bad_run_loses_its_pair_and_wins_count_over_all_pairs(self):
        parent = [100] * 10
        change = [60] * 9 + [None]
        s = ab.summarize(parent, change, "lower", 0.25)
        self.assertEqual((s["wins"], s["losses"], s["pairs"]), (9, 1, 10))
        self.assertEqual(s["change_median"], 60)
        change = [60] * 8 + [None, None]
        s = ab.summarize(parent, change, "lower", 0.25)
        self.assertEqual((s["wins"], s["losses"], s["pairs"]), (8, 2, 10))
        self.assertEqual(s["verdict"], "same")
        both_bad = ab.summarize([None, 100], [None, 60], "lower", 0.25)
        self.assertEqual((both_bad["wins"], both_bad["losses"]), (1, 0))
        parent_bad = ab.summarize([None, 100], [60, 60], "lower", 0.25)
        self.assertEqual((parent_bad["wins"], parent_bad["losses"]), (2, 0))

    def test_failures_count_crashed_and_incorrect_runs(self):
        ok = {"correct": True, "attempted": 30, "failed": 0}
        wrong = {"correct": False, "attempted": 30, "failed": 2}
        self.assertEqual(ab.failures([ok, wrong, None]), (2, 2, 60))
        self.assertFalse(ab.good(wrong))
        self.assertFalse(ab.good(None))
        self.assertTrue(ab.good(ok))

    def test_more_failures_withhold_better_and_read_worse(self):
        self.assertTrue(ab.fails_more((0, 0, 300), (1, 0, 270)))
        self.assertTrue(ab.fails_more((0, 0, 300), (0, 1, 300)))
        self.assertTrue(ab.fails_more((0, 1, 300), (0, 2, 300)))
        self.assertFalse(ab.fails_more((0, 2, 300), (0, 2, 400)))
        self.assertFalse(ab.fails_more((1, 0, 270), (0, 0, 300)))
        s = ab.summarize([100] * 10, [60] * 10, "lower", 0.25, change_fails_more=True)
        self.assertEqual(s["wins"], 10)
        self.assertEqual(s["verdict"], "worse")
        none_good = ab.summarize([100, 100], [None, None], "lower", 0.25, True)
        self.assertIsNone(none_good["change_median"])
        self.assertEqual(none_good["verdict"], "worse")

    def test_wide_spread_is_resolved_when_every_change_run_beats_every_parent_run(self):
        parent = [100, 200, 300, 400, 500, 600, 700, 800, 900, 1000]
        change = [90, 95, 80, 85, 70, 75, 60, 65, 50, 55]
        s = ab.summarize(parent, change, "lower", 0.25)
        self.assertGreater(s["parent_rel_iqr"], 0.25)
        self.assertEqual(s["wins"], 10)
        self.assertEqual(s["verdict"], "better")
        # all change runs beat all parent runs, but the gap is inside the IQR
        parent = [100, 101, 102, 103, 200, 201, 202, 203]
        change = [99] * 8
        s = ab.summarize(parent, change, "lower", 0.25)
        self.assertGreater(s["parent_rel_iqr"], 0.25)
        self.assertLess(s["parent_median"] - s["change_median"], s["parent_iqr"])
        self.assertEqual(s["verdict"], "same")
        change[0] = 150
        self.assertEqual(ab.summarize(parent, change, "lower", 0.25)["verdict"],
                         "unresolved")

    def test_workloads_run_length_and_metrics_come_from_benchmark_json(self):
        with tempfile.TemporaryDirectory() as d:
            tree = pathlib.Path(d)
            (tree / "BENCHMARK.json").write_text(json.dumps({
                "run_seconds": 20,
                "workloads": [{"name": "batch_loops"}, {"name": "http_serve"}],
                "end_to_end": [{"name": "latency_ms", "better": "lower",
                                "bound": 0.25}]}))
            self.assertEqual(ab.benchmark(tree),
                             (["batch_loops", "http_serve"], 20,
                              [("latency_ms", "lower", 0.25)]))

    def test_unpaired_runs_are_refused(self):
        with self.assertRaises(AssertionError):
            ab.summarize([1, 2], [1], "lower", 0.25)


if __name__ == "__main__":
    unittest.main()
