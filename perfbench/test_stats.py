"""Tests of the benchmark's statistics: python3 -m unittest discover -s perfbench"""

import unittest

import stats


class TailTest(unittest.TestCase):
    def test_picks_highest_rung_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        # p90 is rank 90 with exactly 10 beyond; p95 would leave only 5.
        self.assertEqual(stats.tail(xs), (90, 90.0, 10))

    def test_rung_needs_ten_samples_beyond(self):
        xs = list(range(1, 40))  # 39 samples: p75 leaves 9 beyond
        self.assertEqual(stats.tail(xs), (20, 50.0, 19))
        xs = list(range(1, 41))  # 40 samples: p75 leaves exactly 10
        self.assertEqual(stats.tail(xs), (30, 75.0, 10))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (2.0, 50.0, 1))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class SumOfMediansTest(unittest.TestCase):
    def test_sums_each_keys_median(self):
        lat = {"a": [1.0, 9.0, 2.0], "b": [0.5, 0.5, 4.0], "c": [3.0]}
        self.assertAlmostEqual(stats.sum_of_medians(lat), 2.0 + 0.5 + 3.0)

    def test_one_slow_execution_does_not_move_it(self):
        base = {"a": [1.0, 1.0, 1.0], "b": [2.0, 2.0, 2.0]}
        spiked = {"a": [1.0, 50.0, 1.0], "b": [2.0, 2.0, 2.0]}
        self.assertEqual(stats.sum_of_medians(base), stats.sum_of_medians(spiked))

    def test_even_count_takes_the_mean_of_the_middle_two(self):
        self.assertAlmostEqual(stats.sum_of_medians({"a": [1.0, 2.0]}), 1.5)


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times({1: (None, 0, 10)}), {1: 10})

    def test_children_are_subtracted(self):
        spans = {1: (None, 0, 10), 2: (1, 1, 3), 3: (1, 5, 9)}
        self.assertEqual(stats.self_times(spans)[1], 10 - 2 - 4)

    def test_overlapping_children_count_once(self):
        # Two concurrent stages of one job cover [2, 8] together.
        spans = {1: (None, 0, 10), 2: (1, 2, 6), 3: (1, 4, 8)}
        self.assertEqual(stats.self_times(spans)[1], 4)

    def test_child_outside_parent_is_clipped(self):
        # A micro-batch whose end is reported past its parent's end.
        spans = {1: (None, 0, 10), 2: (1, 8, 15)}
        self.assertEqual(stats.self_times(spans)[1], 8)

    def test_grandchildren_belong_to_their_parent_only(self):
        spans = {1: (None, 0, 10), 2: (1, 0, 6), 3: (2, 1, 5)}
        st = stats.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (4, 2, 4))

    def test_self_times_add_up_to_the_root(self):
        spans = {1: (None, 0, 20), 2: (1, 2, 12), 3: (2, 3, 5), 4: (2, 6, 11),
                 5: (1, 14, 18)}
        self.assertEqual(sum(stats.self_times(spans).values()), 20)


if __name__ == "__main__":
    unittest.main()
