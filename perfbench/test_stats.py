"""Self-tests for the benchmark's arithmetic and its input generators.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import tempfile
import unittest

import fixture
import stats


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3.0]), 3.0)
        self.assertEqual(stats.median([5, 1, 3]), 3)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(10))))
        # 11 samples: only the smallest has ten above it
        self.assertEqual(stats.tail(list(range(11))), (100 * 1 / 11, 0))
        # 40 samples 1..40: the 30th value, the 75th percentile
        self.assertEqual(stats.tail(list(range(40, 0, -1))), (75.0, 30))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([2.0, 8.0, 4.0]), 4.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])

    def test_fail_ratio(self):
        self.assertEqual(stats.fail_ratio(0, 7), 0.0)
        self.assertEqual(stats.fail_ratio(1, 4), 0.25)
        with self.assertRaises(ValueError):
            stats.fail_ratio(0, 0)

    def test_self_time_with_overlapping_jobs(self):
        # phase 10..20; jobs 11..14 and 13..16 overlap (cover 11..16 once),
        # job 18..25 runs past the phase end and is clipped to 18..20,
        # job 0..1 lies outside
        jobs = [(11, 14), (13, 16), (18, 25), (0, 1)]
        self.assertEqual(stats.covered((10, 20), jobs), 7)
        self.assertEqual(stats.self_time((10, 20), jobs), 3)
        self.assertEqual(stats.self_time((10, 20), []), 10)
        self.assertEqual(stats.self_time((10, 20), [(5, 30)]), 0)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)


class FixtureTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for kind in ("a", "b"):
                fixture.tpch(os.path.join(d, kind), 0.001, 5)
                fixture.weather(os.path.join(d, "w" + kind), 7, 6, 5)
            for a, b in (("a", "b"), ("wa", "wb")):
                cmp = filecmp.dircmp(os.path.join(d, a), os.path.join(d, b))
                self.assertTrue(cmp.left_list)
                self.assertEqual(cmp.left_list, cmp.right_list)
                _, mismatch, errors = filecmp.cmpfiles(
                    cmp.left, cmp.right, cmp.common_files, shallow=False)
                # manifests name their own directory; compare everything else
                self.assertEqual([m for m in mismatch if m != "manifest.json"], [])
                self.assertEqual(errors, [])

    def test_schedule_replays_an_earlier_day(self):
        import numpy as np
        days = fixture.load_schedule(8, np.random.default_rng(1))
        self.assertEqual(len(days), 8)
        self.assertLess(len(set(days)), len(days))
        for i, d in enumerate(days):
            if d in days[:i]:
                self.assertLessEqual(d, max(days[:i]))


if __name__ == "__main__":
    unittest.main()
