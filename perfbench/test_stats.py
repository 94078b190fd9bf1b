"""Tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import decimal
import unittest

import make_digests
import metrics
import stats


class PercentileRule(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(199), 90)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))

    def test_nearest_rank_leaves_ten_samples_beyond_p95_of_200(self):
        xs = list(range(1, 201))
        p95 = stats.percentile(xs, 95)
        self.assertEqual(p95, 190)
        self.assertEqual(sum(x > p95 for x in xs), 10)
        self.assertEqual(stats.percentile([5, 1, 3], 50), 3)

    def test_weighted_percentile_counts_weight_not_samples(self):
        samples = [(100, 1), (200, 8), (300, 1)]
        self.assertEqual(stats.weighted_percentile(samples, 50), 200)
        self.assertEqual(stats.weighted_percentile(samples, 95), 300)
        self.assertEqual(stats.weighted_percentile(samples, 10), 100)


class DriverOnly(unittest.TestCase):

    def test_wall_minus_union_of_job_intervals(self):
        jobs = [(10, 20), (15, 30), (50, 60), (90, 120)]
        # jobs cover 10-30, 50-60 and 90-100 of the window: 40 of 100
        self.assertEqual(stats.driver_only([(0, 100)], jobs), 60)

    def test_overlapping_jobs_count_once_and_windows_add(self):
        jobs = [(0, 10), (0, 10), (5, 15), (100, 110)]
        self.assertEqual(stats.union_length(jobs), 25)
        self.assertEqual(stats.driver_only([(0, 20), (100, 120)], jobs), 15)

    def test_no_jobs_is_all_driver(self):
        self.assertEqual(stats.driver_only([(0, 50)], []), 50)


class OpenLoopFreshness(unittest.TestCase):

    def test_measured_from_due_time_to_first_covering_commit(self):
        ticks = [(0, [1, 1]), (25, [2, 2]), (50, [3, 3])]
        batches = [[2, 1], [2, 2], [3, 3]]
        commits = [90, 100, 130]
        # tick 0 needs both partitions at 1: batch 0 has partition 1 at 1
        self.assertEqual(stats.freshness(ticks, batches, commits),
                         [90, 75, 80])

    def test_a_stall_counts_against_every_tick_it_delays(self):
        # ticks due every 25 ms; nothing commits until 500 ms
        ticks = [(k * 25, [k + 1]) for k in range(4)]
        self.assertEqual(stats.freshness(ticks, [[4]], [500]),
                         [500, 475, 450, 425])

    def test_tick_never_committed_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.freshness([(0, [1]), (25, [2])], [[1]], [10])


class SnapshotConsistency(unittest.TestCase):
    # 3 partitions x 4 ticks, 2 records per tick; tick k of partition p
    # sums to 2^(4p+k), so every set of ticks has its own amount sum
    PER_TICK = [[(2, 2 ** (4 * p + k)) for k in range(4)] for p in range(3)]

    def amount(self, ticks):
        return sum(2 ** (4 * p + k) for p, k in ticks)

    def test_whole_batch_prefixes_are_accepted(self):
        # partition 0 through tick 2, 1 through tick 1, 2 through tick 2
        seen = [(0, 0), (0, 1), (0, 2), (1, 0), (1, 1),
                (2, 0), (2, 1), (2, 2)]
        n = 2 * len(seen)
        self.assertTrue(stats.consistent_read(n, n, self.amount(seen),
                                              self.PER_TICK))
        self.assertTrue(stats.consistent_read(0, 0, 0, self.PER_TICK))

    def test_planted_half_batch_is_rejected(self):
        # one of the two records of partition 1's tick 2 (amount 2^6
        # split 2^5 + 2^5) is visible
        seen = [(0, 0), (0, 1), (0, 2), (1, 0), (1, 1),
                (2, 0), (2, 1), (2, 2)]
        n = 2 * len(seen) + 1
        s = self.amount(seen) + 2 ** 5
        self.assertFalse(stats.consistent_read(n, n, s, self.PER_TICK))

    def test_planted_duplicate_is_rejected(self):
        # a valid prefix, but one orderId appears twice
        seen = [(0, 0), (1, 0), (2, 0)]
        n = 2 * len(seen)
        self.assertFalse(stats.consistent_read(n, n - 1, self.amount(seen),
                                               self.PER_TICK))

    def test_replayed_batch_with_fresh_ids_is_rejected_by_sum(self):
        # partition 2 shows tick 0 twice and tick 1 instead of ticks 0-2:
        # the row count fits a prefix, the amount sum does not
        seen = [(0, 0), (0, 1), (0, 2), (1, 0), (1, 1),
                (2, 0), (2, 0), (2, 1)]
        n = 2 * len(seen)
        self.assertFalse(stats.consistent_read(n, n, self.amount(seen),
                                               self.PER_TICK))

    def test_recent_lookup_counts_from_its_first_tick(self):
        # ts >= tick 2: partition 0 through tick 3, the others through 2
        seen = [(0, 2), (0, 3), (1, 2), (2, 2)]
        n = 2 * len(seen)
        s = self.amount(seen)
        self.assertTrue(stats.consistent_read(n, n, s, self.PER_TICK, lo=2))
        # the same rows counted from tick 0 are not a prefix
        self.assertFalse(stats.consistent_read(n, n, s, self.PER_TICK))


class ReadMedian(unittest.TestCase):

    def test_each_kind_of_read_weighs_the_same(self):
        # nine fast lookups and three slow scans: the pooled median
        # would be a lookup; the per-kind medians are averaged
        reads = [("recent", 100)] * 9 + [("full", 500)] * 3
        self.assertEqual(metrics.read_p50(reads), 300)

    def test_one_kind_is_its_median(self):
        self.assertEqual(metrics.read_p50([("full", x) for x in (5, 1, 3)]),
                         3)


class MixDigests(unittest.TestCase):

    def passes(self, *digests):
        return [{"queries": [{"name": n, "digest": d}
                             for n, d in sorted(p.items())]}
                for p in digests]

    def test_matching_results_pass(self):
        want = {"q01": "a", "s12": "b"}
        checks = metrics.mix_checks(self.passes(want, want), want, "t")
        self.assertTrue(all(ok for _, ok, _ in checks))

    def test_planted_wrong_result_in_a_later_pass_is_rejected(self):
        want = {"q01": "a", "s12": "b"}
        checks = metrics.mix_checks(
            self.passes(want, {"q01": "a", "s12": "x"}), want, "t")
        self.assertFalse(checks[0][1])
        self.assertIn("('s12', 1)", checks[0][2])

    def test_query_that_never_ran_is_rejected(self):
        checks = metrics.mix_checks(self.passes({"q01": "a"}),
                                    {"q01": "a", "s12": "b"}, "t")
        self.assertFalse(checks[1][1])

    def test_cells_render_like_the_harness(self):
        self.assertEqual(make_digests.cell(1.0), "d3ff0000000000000")
        self.assertEqual(make_digests.cell(-0.0), make_digests.cell(0.0))
        self.assertEqual(make_digests.cell(True), "true")
        self.assertEqual(make_digests.cell(None), "\\N")
        self.assertEqual(make_digests.cell(
            datetime.datetime(1970, 1, 2, 0, 0, 0, 5)), "t86400000005")
        self.assertEqual(make_digests.cell(decimal.Decimal("1.500")), "1.5")


if __name__ == "__main__":
    unittest.main()
