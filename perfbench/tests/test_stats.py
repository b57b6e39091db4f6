"""Tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import report, stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median_and_interpolation(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(stats.percentile(xs, 80), 4.2)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_order_does_not_matter(self):
        xs = [0.3, 0.1, 0.9, 0.5, 0.7, 0.2]
        self.assertEqual(stats.percentile(xs, 80), stats.percentile(sorted(xs), 80))

    def test_sample_count_rule(self):
        # p75 leaves 10 of 40 samples above it; 39 support only p74
        self.assertEqual(stats.highest_percentile(40), 75)
        self.assertEqual(stats.highest_percentile(39), 74)
        self.assertEqual(stats.highest_percentile(50), 80)
        self.assertEqual(stats.highest_percentile(100), 90)
        self.assertEqual(stats.highest_percentile(10), 0)
        self.assertIsNone(stats.highest_percentile(9))
        self.assertTrue(stats.percentile_supported(40, 75))
        self.assertFalse(stats.percentile_supported(39, 75))

    def test_median_per_key(self):
        pairs = [("a", 0.9), ("b", 0.5), ("a", 0.7), ("b", 0.6), ("a", 3.0)]
        self.assertEqual(stats.median_per_key(pairs), {"a": 0.9, "b": 0.55})
        self.assertEqual(stats.median_per_key(reversed(pairs)), {"a": 0.9, "b": 0.55})

    def test_empty_samples_raise(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.median([])


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 3), (2, 5)]), 6)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time(0, 10, [(-5, 2), (8, 15)]), 6)
        self.assertEqual(stats.self_time(0, 10, [(20, 30)]), 10)

    def test_no_children(self):
        self.assertEqual(stats.self_time(2, 7, []), 5)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], lo=2, hi=4), 2)
        self.assertEqual(stats.union_length([(3, 3)]), 0)


class FailureCountTest(unittest.TestCase):
    execs = [{"q": "a", "ok": True}, {"q": "a", "ok": False},
             {"q": "b", "ok": True}, {"q": "c", "ok": True}]

    def test_raised_and_wrong_digest_both_fail(self):
        attempted, failed = stats.count_failures(
            self.execs, {"a": True, "b": False, "c": True})
        self.assertEqual((attempted, failed), (4, 2))

    def test_a_hang_is_attempted_and_failed(self):
        attempted, failed = stats.count_failures(
            self.execs, {"a": True, "b": True, "c": True}, hung=1)
        self.assertEqual((attempted, failed), (5, 2))

    def test_a_query_without_a_digest_fails(self):
        attempted, failed = stats.count_failures(self.execs, {"a": True, "b": True})
        self.assertEqual((attempted, failed), (4, 2))


class DigestMatchTest(unittest.TestCase):
    def test_full_pin_needs_rows_and_hash(self):
        pin = {"rows": 3, "hash": "42"}
        self.assertTrue(stats.digest_matches({"rows": 3, "hash": "42"}, pin))
        self.assertFalse(stats.digest_matches({"rows": 3, "hash": "41"}, pin))
        self.assertFalse(stats.digest_matches({"rows": 2, "hash": "42"}, pin))

    def test_rows_only_pin_ignores_the_hash(self):
        self.assertTrue(stats.digest_matches({"rows": 3, "hash": "1"}, {"rows": 3}))
        self.assertFalse(stats.digest_matches({"rows": 4, "hash": "1"}, {"rows": 3}))

    def test_missing_or_failed_digest_does_not_match(self):
        self.assertFalse(stats.digest_matches(None, {"rows": 3}))
        self.assertFalse(stats.digest_matches(
            {"rows": None, "hash": None, "error": "boom"}, {"rows": 3}))


class BreakdownTest(unittest.TestCase):
    def test_parts_sum_to_wall_time(self):
        e = {"start_ms": 1000, "builder_end_ms": 1600, "end_ms": 2000,
             "builder_s": 0.6, "execute_s": 0.4, "wall_s": 1.0,
             "codegen_builder_s": 0.1, "codegen_execute_s": 0.05}
        phases = [{"start_ms": 1100, "end_ms": 1200},
                  {"start_ms": 1150, "end_ms": 1250},
                  {"start_ms": 1600, "end_ms": 1700}]
        parts = report.breakdown(e, phases)
        self.assertAlmostEqual(parts["plan"], 0.25)
        self.assertAlmostEqual(parts["codegen"], 0.15)
        self.assertAlmostEqual(parts["builder"], 0.35)
        self.assertAlmostEqual(parts["execute"], 0.25)
        self.assertAlmostEqual(sum(parts.values()), e["wall_s"])

    def test_codegen_is_capped_by_the_span(self):
        e = {"start_ms": 0, "builder_end_ms": 100, "end_ms": 200,
             "builder_s": 0.1, "execute_s": 0.1, "wall_s": 0.2,
             "codegen_builder_s": 0.5, "codegen_execute_s": 0.0}
        parts = report.breakdown(e, [])
        self.assertAlmostEqual(parts["codegen"], 0.1)
        self.assertAlmostEqual(parts["builder"], 0.0)
        self.assertAlmostEqual(sum(parts.values()), 0.2)


if __name__ == "__main__":
    unittest.main()
