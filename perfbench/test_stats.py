"""Self-tests for the benchmark's statistics and compare rule.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import compare
import stats


class Percentile(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5], 0.5), 3)
        self.assertAlmostEqual(stats.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(stats.percentile(list(range(1, 11)), 0.9), 9.1)
        self.assertEqual(stats.percentile([7], 0.9), 7)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.percentile(xs, 0.5), stats.percentile(sorted(xs), 0.5))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_samples_beyond_p90(self):
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)
        self.assertEqual(stats.samples_beyond(99, 0.9), 10)
        self.assertEqual(stats.samples_beyond(91, 0.9), 9)
        self.assertTrue(stats.tail_ok(100, 0.9))
        self.assertFalse(stats.tail_ok(90, 0.9))
        # the samples counted as beyond really are above the percentile
        xs = list(range(100))
        p = stats.percentile(xs, 0.9)
        self.assertEqual(sum(1 for x in xs if x > p), stats.samples_beyond(100, 0.9))

    def test_a_miss_lands_in_the_tail(self):
        xs = stats.with_misses([1.0] * 95 + [None] * 5)
        self.assertEqual(stats.percentile(xs, 0.5), 1.0)
        self.assertEqual(stats.percentile(xs, 0.99), stats.MISSED_S)


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertAlmostEqual(stats.geomean([2, 2, 2]), 2)
        self.assertAlmostEqual(stats.geomean([0.5, 2, 4, 0.25]), 1)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])
        with self.assertRaises(ValueError):
            stats.geomean([])


class QuartileSpread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10, 11, 9, 10, 12, 10, 8, 10, 11, 9]
        import statistics
        q1, m, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / m)
        self.assertEqual(stats.quartile_spread([5.0] * 10), 0)


BATCHES = [  # MemoryStream offsets: one event per offset; a first batch starts at -1
    {"id": 0, "start": -1, "end": 7},
    {"id": 1, "start": 7, "end": 12},
    {"id": 2, "start": 12, "end": 30},
]


class OffsetToBatch(unittest.TestCase):
    def test_ranges_are_half_open(self):
        self.assertEqual(stats.batch_of_offset(0, BATCHES), 0)
        self.assertEqual(stats.batch_of_offset(7, BATCHES), 0)
        self.assertEqual(stats.batch_of_offset(8, BATCHES), 1)
        self.assertEqual(stats.batch_of_offset(12, BATCHES), 1)
        self.assertEqual(stats.batch_of_offset(13, BATCHES), 2)
        self.assertIsNone(stats.batch_of_offset(31, BATCHES))

    def test_overlap_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.batch_of_offset(5, BATCHES + [{"id": 9, "start": 3, "end": 6}])


class OpenLoopLatency(unittest.TestCase):
    def test_latency_runs_from_due_time_to_emit_end(self):
        events = [{"due": 0.0, "offset": 8}, {"due": 0.5, "offset": 12},
                  {"due": 1.0, "offset": 13}, {"due": 1.5, "offset": 31}]
        ends = {1: 6.0, 2: 11.0}
        got = stats.open_loop_latencies(events, BATCHES, ends)
        self.assertEqual(got[:3], [6.0, 5.5, 10.0])
        self.assertIsNone(got[3])  # never answered

    def test_unemitted_batch_is_a_miss(self):
        events = [{"due": 0.0, "offset": 3}]
        self.assertEqual(stats.open_loop_latencies(events, BATCHES, {}), [None])

    def test_an_event_answered_twice_is_a_miss(self):
        events = [{"due": 0.0, "offset": 5}]
        twice = BATCHES + [{"id": 9, "start": 3, "end": 6}]
        self.assertEqual(stats.open_loop_latencies(events, twice, {0: 6.0, 9: 7.0}), [None])

    def test_lateness_of_the_generator_counts(self):
        # an event offered late is still measured from when it was due
        events = [{"due": 2.0, "offset": 9, "late": 1.5}]
        self.assertEqual(stats.open_loop_latencies(events, BATCHES, {1: 6.0}), [4.0])


class AnsweredRate(unittest.TestCase):
    EVENTS = [{"due": 0.0}, {"due": 1.0}, {"due": 2.0}, {"due": 3.0}]

    def test_runs_to_the_last_answer(self):
        # answered at 2, 2, 5 and 5 s: four events in five seconds
        self.assertEqual(stats.answered_rate(self.EVENTS, [2.0, 1.0, 3.0, 2.0]), 0.8)

    def test_falls_when_the_loop_falls_behind(self):
        steady = stats.answered_rate(self.EVENTS, [1.0, 1.0, 1.0, 1.0])
        behind = stats.answered_rate(self.EVENTS, [1.0, 3.0, 5.0, 7.0])
        self.assertLess(behind, steady)

    def test_misses_do_not_count(self):
        self.assertEqual(stats.answered_rate(self.EVENTS, [2.0, None, None, None]), 0.5)
        self.assertEqual(stats.answered_rate(self.EVENTS, [None] * 4), 0.0)


class PairRule(unittest.TestCase):
    def spec(self, better="lower", bound=0.2):
        return {"name": "m", "unit": "s", "better": better, "bound": bound}

    def test_clear_gain(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        child = [x * 0.8 for x in parent]
        self.assertEqual(compare.verdict(self.spec(), parent, child)[0], "better")
        self.assertEqual(compare.verdict(self.spec(), child, parent)[0], "worse")

    def test_gap_inside_the_spread_is_no_change(self):
        parent = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 11.0, 9.0, 10.5, 9.5]
        child = [x * 0.97 for x in parent]
        self.assertEqual(compare.verdict(self.spec(), parent, child)[0], "no change")

    def test_spread_beyond_the_bound_is_unresolved(self):
        parent = [5.0, 15.0, 8.0, 12.0, 10.0, 4.0, 16.0, 9.0, 11.0, 10.0]
        child = [x * 0.5 for x in parent]
        self.assertEqual(compare.verdict(self.spec(bound=0.1), parent, child)[0], "unresolved")

    def test_higher_is_better(self):
        parent = [100.0 + i for i in range(10)]
        child = [x * 1.3 for x in parent]
        self.assertEqual(compare.verdict(self.spec(better="higher"), parent, child)[0], "better")

    def test_eight_of_ten_wins_is_not_enough(self):
        parent = [10.0] * 10
        child = [5.0] * 8 + [20.0] * 2
        self.assertNotEqual(compare.verdict(self.spec(), parent, child)[0], "better")


if __name__ == "__main__":
    unittest.main()
