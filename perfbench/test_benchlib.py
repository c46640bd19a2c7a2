"""Self-tests of the benchmark's pure helpers:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import statistics
import unittest

import benchlib


class TailPercentile(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 1001))  # 1000 samples: p99 leaves exactly 10
        p, v = benchlib.tail(xs)
        self.assertEqual(p, 99.0)
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_falls_back_when_sample_is_small(self):
        xs = list(range(100))  # p99 and p95 leave <10 beyond; p90 leaves 10
        self.assertEqual(benchlib.tail(xs)[0], 90.0)
        xs = list(range(30))  # only the median qualifies
        self.assertEqual(benchlib.tail(xs)[0], 50.0)

    def test_none_when_even_median_is_unsupported(self):
        self.assertIsNone(benchlib.tail(list(range(19))))

    def test_percentile_interpolates(self):
        self.assertEqual(benchlib.percentile([0, 10], 50), 5)
        self.assertEqual(benchlib.percentile([3, 1, 2], 50), 2)


def span(i, parent, start, end, layer="x", track="t"):
    return dict(id=i, parent=parent, start=start, end=end, layer=layer, track=track)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, -1, 0, 10, "root"),
                 span(2, 1, 1, 4, "a"), span(3, 1, 3, 6, "b"),  # overlap 3..4
                 span(4, 2, 2, 3, "c")]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st["root"], 10 - 5)  # children cover 1..6
        self.assertAlmostEqual(st["a"], 3 - 1)
        self.assertAlmostEqual(st["b"], 3)
        self.assertAlmostEqual(st["c"], 1)
        self.assertAlmostEqual(sum(st.values()), 10 + 1)  # b overlaps a by 1

    def test_children_are_clipped_to_parent(self):
        st = benchlib.self_times([span(1, -1, 0, 2, "p"), span(2, 1, 1, 5, "c")])
        self.assertAlmostEqual(st["p"], 1)

    def test_parents_inferred_by_containment_on_track(self):
        spans = [span(1, -1, 0, 10, "root"), span(2, -1, 2, 8, "mid"),
                 span(3, -1, 3, 4, "leaf"), span(4, -1, 3, 4, "other", track="u")]
        benchlib.assign_parents(spans)
        self.assertEqual(spans[1]["parent"], 1)
        self.assertEqual(spans[2]["parent"], 2)
        self.assertEqual(spans[3]["parent"], -1)

    def test_gaps(self):
        self.assertEqual(benchlib.gaps([(1, 2), (1.5, 3), (5, 6)], 0, 7),
                         [(0, 1), (3, 5), (6, 7)])


class Backlog(unittest.TestCase):
    def test_sawtooth_is_sustained(self):
        # 50 items/s offered, answered in bursts every second
        samples = [(t / 10, 5 * t, 50 * (t // 10)) for t in range(100)]
        self.assertLess(abs(benchlib.backlog_growth(samples)), 50)
        self.assertTrue(benchlib.sustained(samples, rate=50))

    def test_growing_backlog_is_not_sustained(self):
        # answered at half the offered rate: 250 items pile up in 10 s
        samples = [(t / 10, 5 * t, 2.5 * t) for t in range(100)]
        self.assertAlmostEqual(benchlib.backlog_growth(samples), 2.5 * 99, places=6)
        self.assertFalse(benchlib.sustained(samples, rate=50))


class Spread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(benchlib.spread(xs), (q3 - q1) / q2)


if __name__ == "__main__":
    unittest.main()
