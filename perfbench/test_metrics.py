"""Self-tests for the benchmark's arithmetic: python3 perfbench/run.py --selftest"""
import random
import unittest

import metrics


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(range(19), 0.5))
        self.assertEqual(metrics.percentile(range(20), 0.5), 9)
        self.assertIsNone(metrics.percentile(range(99), 0.9))
        self.assertEqual(metrics.percentile(range(100), 0.9), 89)
        self.assertIsNone(metrics.percentile(range(39), 0.75))
        self.assertEqual(metrics.percentile(range(40), 0.75), 29)

    def test_exactly_ten_beyond(self):
        for n in (20, 57, 100, 333):
            for q in (0.5, 0.75, 0.9):
                xs = list(range(n))
                v = metrics.percentile(xs, q)
                if v is not None:
                    self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_is_the_highest_supported(self):
        self.assertIsNone(metrics.tail(range(39)))
        self.assertEqual(metrics.tail(range(40)), (0.75, 29))
        self.assertEqual(metrics.tail(range(100)), (0.9, 89))
        self.assertEqual(metrics.tail(range(1000)), (0.99, 989))

    def test_order_free(self):
        xs = list(range(200))
        ys = xs[:]
        random.Random(3).shuffle(ys)
        self.assertEqual(metrics.percentile(xs, 0.9), metrics.percentile(ys, 0.9))


class JobSpanUnion(unittest.TestCase):
    def test_overlapping_aqe_jobs_count_once(self):
        jobs = [(0, 10), (5, 15), (12, 14), (20, 25)]
        self.assertEqual(metrics.union_length(jobs), 20)
        # Summing the same jobs reads 27 and would make the gap of a
        # 25-long row negative.
        self.assertEqual(sum(e - s for s, e in jobs), 27)
        self.assertEqual(metrics.driver_gap(0, 25, jobs), 5)

    def test_clipped_to_row(self):
        self.assertEqual(metrics.union_length([(-5, 5), (8, 40)], 0, 10), 7)

    def test_gap_never_negative(self):
        rnd = random.Random(7)
        for _ in range(500):
            start = rnd.uniform(0, 10)
            end = start + rnd.uniform(0, 10)
            jobs = []
            for _ in range(rnd.randint(0, 8)):
                s = rnd.uniform(start - 2, end)
                jobs.append((s, s + rnd.uniform(0, 6)))
            gap = metrics.driver_gap(start, end, jobs)
            self.assertGreaterEqual(gap, -1e-9)
            self.assertLessEqual(gap, end - start + 1e-9)


if __name__ == "__main__":
    unittest.main()
