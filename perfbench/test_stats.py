"""Self-tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

from stats import INF, closed_rate, nearest_rank, open_loop_health, self_times, tail, tail_pct, union_length


class ClosedRate(unittest.TestCase):
    @staticmethod
    def reqs(ends):
        return [(e - 10.0, e) for e in ends]

    def test_median_of_whole_bins(self):
        # 10, 10, 2 and 10 requests end in four 500 ms bins; those ending
        # after the 2000 ms window are left out
        ends = ([i * 50.0 + 20 for i in range(10)] + [500 + i * 50.0 for i in range(10)]
                + [1000.0, 1400.0] + [1500 + i * 50.0 for i in range(10)] + [2050.0] * 7)
        self.assertEqual(closed_rate([(self.reqs(ends), 2000.0)], min_per_bin=5), 20.0)

    def test_bins_of_all_segments_are_pooled(self):
        # bins of 10, 4 and 6 requests: the median is 6 per 500 ms
        seg1 = (self.reqs([i * 50.0 + 20 for i in range(10)] + [600.0] * 4), 1000.0)
        seg2 = (self.reqs([100.0] * 6), 700.0)
        self.assertEqual(closed_rate([seg1, seg2], min_per_bin=5), 12.0)

    def test_sparse_requests_count_their_share_inside_the_window(self):
        # 1 + 1 + 1/4 of a request inside 2 s, and 1/2 inside 0.5 s
        seg1 = ([(0.0, 1000.0), (1000.0, 1900.0), (1900.0, 2300.0)], 2000.0)
        seg2 = ([(0.0, 1000.0)], 500.0)
        self.assertEqual(closed_rate([seg1, seg2]), 2.75 / 2.5)


class NearestRank(unittest.TestCase):
    def test_textbook_values(self):
        xs = [15, 20, 35, 40, 50]
        self.assertEqual(nearest_rank(xs, 5), 15)
        self.assertEqual(nearest_rank(xs, 30), 20)
        self.assertEqual(nearest_rank(xs, 40), 20)
        self.assertEqual(nearest_rank(xs, 50), 35)
        self.assertEqual(nearest_rank(xs, 100), 50)

    def test_order_does_not_matter_and_failures_rank_last(self):
        self.assertEqual(nearest_rank([3, 1, 2], 50), 2)
        self.assertEqual(nearest_rank([1, INF, 2, 3], 100), INF)
        self.assertEqual(nearest_rank([1, INF, 2, 3], 75), 3)

    def test_empty(self):
        self.assertIsNone(nearest_rank([], 50))


class TailRule(unittest.TestCase):
    def test_p99_once_there_are_enough_samples(self):
        self.assertEqual(tail_pct(1000), 99.0)
        self.assertEqual(tail_pct(5000), 99.0)

    def test_lower_percentile_keeps_ten_samples_beyond(self):
        for n in (20, 21, 75, 84, 300, 999):
            p = tail_pct(n)
            rank = -(-p * n // 100)  # ceil
            self.assertLessEqual(rank, n - 10, n)
            # and no higher percentile (at 0.001 resolution) would
            self.assertGreater(-(-(p + 0.001) * n // 100), n - 10, n)
        self.assertAlmostEqual(tail_pct(200), 95.0)
        self.assertAlmostEqual(tail_pct(20), 50.0)

    def test_too_few_samples_gives_the_maximum(self):
        self.assertEqual(tail_pct(10), 100.0)
        self.assertEqual(tail_pct(19), 100.0)
        self.assertEqual(tail(list(range(7))), (6, 100.0, 7))

    def test_tail_value(self):
        xs = list(range(1, 201))  # 1..200
        v, p, n = tail(xs)
        self.assertEqual((v, p, n), (190, 95.0, 200))
        self.assertEqual(len([x for x in xs if x > v]), 10)


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(union_length([]), 0)

    def test_nested_children(self):
        spans = [(1, 0, 0, 100), (2, 1, 10, 30), (3, 1, 40, 50), (4, 2, 12, 20)]
        st = self_times(spans)
        self.assertEqual(st, {1: 70, 2: 12, 3: 10, 4: 8})
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children_count_once(self):
        # two children running at once (e.g. concurrent jobs) overlap 20..30
        st = self_times([(1, 0, 0, 100), (2, 1, 10, 30), (3, 1, 20, 50)])
        self.assertEqual(st[1], 60)

    def test_children_clipped_to_parent(self):
        # a child recorded on a coarser clock may stick out of its parent
        st = self_times([(1, 0, 10, 50), (2, 1, 0, 20), (3, 1, 45, 70)])
        self.assertEqual(st[1], 25)


def phase(late, backlog, unfinished=0, rate=10.0):
    n = len(late)
    sched = [j * 1000.0 / rate for j in range(n)]
    return {"sent": n, "sched_ms": sched, "disp_ms": [s + x for s, x in zip(sched, late)],
            "end_ms": [-1.0] * unfinished + [s + 50 for s in sched[unfinished:]],
            "backlog": backlog}


class OpenLoopHealth(unittest.TestCase):
    def test_steady_run_is_valid(self):
        late, why = open_loop_health(phase([1.0] * 98 + [300.0, 1.0], [1, 2, 1] * 10), 10.0)
        self.assertEqual(why, [])
        self.assertEqual(late, 1.0)  # the p99 of 100 sends is the 99th

    def test_isolated_late_sends_are_jitter(self):
        _, why = open_loop_health(phase([1.0, 500.0] * 30, [1] * 30), 10.0)
        self.assertEqual(why, [])

    def test_generator_falling_behind(self):
        # lateness grows to 10 s: the sends are no longer at 10 per second
        _, why = open_loop_health(phase([j * 100.0 for j in range(90)], [1] * 30), 10.0)
        self.assertEqual(len(why), 1)
        self.assertIn("fell behind", why[0])

    def test_growing_backlog(self):
        _, why = open_loop_health(phase([0.0] * 90, [1] * 10 + [2] * 10 + list(range(10, 30))),
                                  10.0)
        self.assertEqual(len(why), 1)
        self.assertIn("backlog grew", why[0])

    def test_unfinished_requests(self):
        _, why = open_loop_health(phase([0.0] * 30, [1] * 30, unfinished=2), 10.0)
        self.assertEqual(why, ["2 requests unfinished"])


if __name__ == "__main__":
    unittest.main()
