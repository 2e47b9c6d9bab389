"""Unit tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median_needs_ten_samples_above_it(self):
        self.assertIsNone(metrics.percentile(range(1, 20), 0.5))  # rank 10, 9 above
        self.assertEqual(metrics.percentile(range(1, 21), 0.5), 10)  # rank 10, 10 above

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(metrics.percentile(range(1, 100), 0.9))
        self.assertEqual(metrics.percentile(range(1, 101), 0.9), 90)

    def test_nearest_rank_ignores_input_order(self):
        xs = [5, 1, 4, 2, 3] * 6
        self.assertEqual(metrics.percentile(xs, 0.5), 3)

    def test_empty(self):
        self.assertIsNone(metrics.percentile([], 0.5))

    def test_too_few_samples_never_read_as_a_number(self):
        for xs in ([], [5.0] * 19, range(1, 20)):
            with self.assertRaises(metrics.TooFewSamples):
                metrics.required_percentile(xs, 0.5, "lookup_p50_ms")
        self.assertEqual(metrics.required_percentile(range(1, 21), 0.5, "lookup_p50_ms"), 10)


class SelfTimeTest(unittest.TestCase):
    def test_nested_harness_spans(self):
        rows = [
            [2, 1, "merge", "apply", 10.0, 40.0],
            [3, 1, "compact", "compact", 40.0, 70.0],
            [1, 0, "harness", "upsert", 0.0, 100.0],
        ]
        st = metrics.self_times(rows, [(0.0, 100.0)])
        self.assertEqual(st, {"harness": 40.0, "merge": 30.0, "compact": 30.0})

    def test_derived_spans_nest_by_time_and_inherit_layer(self):
        rows = [
            [1, 0, "stream", "drain", 0.0, 100.0],
            [5, -1, "stream", "trigger", 5.0, 95.0],
            [6, -1, "merge", "merge", 10.0, 60.0],
            [7, -1, "", "stage", 20.0, 50.0],   # inside the merge
            [8, -1, "", "stage", 70.0, 80.0],   # inside the trigger only
        ]
        st = metrics.self_times(rows, [(0.0, 100.0)])
        self.assertAlmostEqual(st["stream"], 100 - 90 + 90 - 50 - 10 + 10)
        self.assertAlmostEqual(st["merge"], 50.0)
        self.assertAlmostEqual(st["harness"], 0.0)
        self.assertAlmostEqual(sum(st.values()), 100.0)

    def test_listener_stamp_just_before_a_harness_span_stays_inside(self):
        rows = [[1, 0, "lake", "lookup", 10.4, 30.0], [2, -1, "", "stage", 10.0, 20.0]]
        top = metrics.nest(rows)
        self.assertEqual(len(top), 1)
        self.assertEqual(top[0].children[0].layer, "lake")

    def test_overlapping_children_are_clipped_to_their_parent(self):
        rows = [
            [1, 0, "ops", "q", 0.0, 10.0],
            [2, -1, "sql", "analysis", 1.0, 5.0],
            [3, -1, "", "stage", 4.0, 8.0],   # starts inside the analysis span
        ]
        st = metrics.self_times(rows, [(0.0, 10.0)])
        # the stage nests under the analysis span and is clipped to it
        self.assertAlmostEqual(st["ops"], 6.0)
        self.assertAlmostEqual(st["sql"], 4.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_wall_outside_spans_is_harness_and_spans_outside_windows_are_ignored(self):
        rows = [[1, 0, "lake", "scan", 10.0, 30.0], [2, 0, "lake", "scan", 200.0, 250.0]]
        st = metrics.self_times(rows, [(0.0, 100.0)])
        self.assertEqual(st, {"lake": 20.0, "harness": 80.0})


class LevelTest(unittest.TestCase):
    def test_level_above_granted_cores_is_invalid(self):
        self.assertEqual(metrics.level_status(4, 4), "ok")
        self.assertEqual(metrics.level_status(1, 4), "ok")
        self.assertEqual(metrics.level_status(8, 4), "invalid")
        self.assertEqual(metrics.level_status(32, 4), "invalid")


class SpreadTest(unittest.TestCase):
    def test_quartile_spread_as_share_of_median(self):
        self.assertAlmostEqual(metrics.spread([10] * 10), 0.0)
        vals = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        q1, q2, q3 = 2.75, 5.5, 8.25
        self.assertAlmostEqual(metrics.spread(vals), (q3 - q1) / q2)

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1, 100]), 10.0)
        self.assertIsNone(metrics.geomean([]))


if __name__ == "__main__":
    unittest.main()
