"""The benchmark's own arithmetic."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        v = list(range(1, 11))                  # 1..10
        self.assertEqual(stats.percentile(v, 0.5), 5.5)
        self.assertAlmostEqual(stats.percentile(v, 0.9), 9.1)
        self.assertEqual(stats.percentile(v, 0.0), 1)
        self.assertEqual(stats.percentile(v, 1.0), 10)
        self.assertEqual(stats.percentile([7], 0.9), 7)
        self.assertEqual(stats.quartiles([4, 1, 3, 2, 5]), (2, 3, 4))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_sample_count_rule(self):
        # a percentile is supported when >= 10 samples lie beyond it
        self.assertIsNone(stats.supported_percentile(10))
        self.assertAlmostEqual(stats.supported_percentile(100), 0.90)
        self.assertAlmostEqual(stats.supported_percentile(1000), 0.99)
        self.assertLess(stats.supported_percentile(99), 0.90)


def batch(start_off, end_off, start_ms, dur_ms):
    return {"rows": end_off - start_off, "start_off": start_off,
            "end_off": end_off, "start_ms": start_ms,
            "duration_ms": {"triggerExecution": dur_ms}}


class LatencyTest(unittest.TestCase):
    RATE, INTERVAL = 10.0, 1000.0               # 10 hits per 1 s trigger

    def test_on_schedule(self):
        # the first trigger (random phase, capture load) is set-up; from
        # the first on-tick trigger on, the hits admitted at the trigger
        # due at tick k were created during the second before it
        bs = [batch(0, 10, 4370, 900)] + [
            batch(10 * k, 10 * k + 10, 4000 + 1000 * k + 2, 200)
            for k in range(1, 4)]
        lat = stats.hit_latencies(bs, self.RATE, self.INTERVAL)
        self.assertEqual(len(lat), 30)
        # first timed hit: created 4000, its batch ends 5202
        self.assertAlmostEqual(lat[0], 1202)
        # hit 19 of the timed run: created 5900, its batch ends 6202
        self.assertAlmostEqual(lat[19], 302)
        self.assertEqual(stats.trigger_lateness(bs, self.INTERVAL),
                         [2.0, 2.0, 2.0])

    def test_overrunning_first_trigger_is_set_up(self):
        # trigger 0 overruns its tick, trigger 1 runs at once (off-tick):
        # both are set-up, timing starts at the first on-tick trigger
        bs = [batch(0, 10, 4900, 300), batch(10, 20, 5200, 200),
              batch(20, 30, 6000, 200)]
        self.assertEqual([b["start_off"] for b in
                          stats.timed_batches(bs, self.INTERVAL)], [20])
        self.assertAlmostEqual(
            stats.hit_latencies(bs, self.RATE, self.INTERVAL)[0], 1200)

    def test_stall_is_charged_to_queued_hits(self):
        # batch 2 stalls for 2.5 s; batch 3 starts late, and its hits count
        # from their scheduled time, not from when they were admitted
        bs = [batch(0, 10, 4500, 200), batch(10, 20, 5000, 200),
              batch(20, 30, 6000, 2500), batch(30, 40, 8500, 200)]
        lat = stats.hit_latencies(bs, self.RATE, self.INTERVAL)
        # timed hit 20 was created 6000, emitted at 8700
        self.assertAlmostEqual(lat[20], 2700)
        self.assertEqual(stats.trigger_lateness(bs, self.INTERVAL),
                         [0.0, 0.0, 1500.0])

    def test_empty_batches_are_ignored(self):
        bs = [batch(0, 10, 4500, 200), batch(10, 20, 5000, 200),
              batch(20, 20, 5300, 50)]
        self.assertEqual(len(stats.hit_latencies(bs, self.RATE,
                                                 self.INTERVAL)), 10)


class SelfTimeTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_ms([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_ms([]), 0)

    def test_self_time_is_span_minus_children_union(self):
        # span 0..100; children overlap (10..40, 30..50) and one runs past
        # the span's end (90..120): covered = 40 + 10 = 50
        self.assertEqual(stats.self_ms((0, 100),
                                       [(10, 40), (30, 50), (90, 120)]), 50)
        self.assertEqual(stats.self_ms((0, 100), []), 100)
        self.assertEqual(stats.self_ms((0, 100), [(200, 300)]), 100)


if __name__ == "__main__":
    unittest.main()
