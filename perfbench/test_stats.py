"""Tests for the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


def op(sched, done, error=None, wrong=None, timed=True, name=None):
    op.n += 1
    return {"name": name or f"op{op.n}", "sched": sched, "done": done,
            "error": error, "wrong": wrong, "timed": timed}


op.n = 0


def raw(ops, items=10.0, seconds=2.0):
    return {"ops": ops, "setup_s": 2.0,
            "jvm_to_session_s": 0.5, "items": items, "items_seconds": seconds,
            "live_heap_peak_mb": 100.0}


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_pct(39), 100)
        self.assertEqual(stats.tail_pct(40), 75)
        self.assertEqual(stats.tail_pct(99), 75)
        self.assertEqual(stats.tail_pct(100), 90)
        self.assertEqual(stats.tail_pct(199), 90)
        self.assertEqual(stats.tail_pct(200), 95)
        self.assertEqual(stats.tail_pct(999), 95)
        self.assertEqual(stats.tail_pct(1000), 99)

    def test_few_samples_take_the_slowest(self):
        self.assertEqual(stats.tail_pct(9), 100)
        self.assertEqual(stats.percentile([3, 12000, 5, 900], stats.tail_pct(4)), 12000)

    def test_ten_samples_lie_beyond_the_chosen_tail(self):
        for n in (40, 57, 100, 250, 1000, 1234):
            xs = list(range(n))
            cut = stats.percentile(xs, stats.tail_pct(n))
            self.assertGreaterEqual(sum(1 for x in xs if x >= cut), 10, n)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 99), 5)
        self.assertEqual(stats.percentile([3, 1, 2], 100), 3)


class FailureAccounting(unittest.TestCase):
    def test_each_kind_of_failure_counts(self):
        ops = [op(0, 10), op(0, 12),
               op(0, None, error="IllegalStateException: boom"),  # threw
               op(0, 11, wrong="rows=3 expected 4"),               # wrong output
               op(0, None)]                                        # unfinished
        correct, attempted, failed, m, d = stats.summarize(raw(ops))
        self.assertEqual((attempted, failed), (5, 3))
        self.assertAlmostEqual(m["ok_frac"], 2 / 5)
        self.assertFalse(correct)
        self.assertEqual(d["wrong_ops"], 1)

    def test_a_clean_run_is_correct(self):
        correct, attempted, failed, m, _ = stats.summarize(raw([op(0, 5), op(5, 9)]))
        self.assertTrue(correct)
        self.assertEqual((attempted, failed, m["ok_frac"]), (2, 0, 1.0))

    def test_a_thrown_op_is_a_failure_but_not_a_wrong_output(self):
        correct, _, failed, _, _ = stats.summarize(
            raw([op(0, 5), op(5, None, error="boom")]))
        self.assertTrue(correct)
        self.assertEqual(failed, 1)

    def test_unfinished_ops_have_no_latency(self):
        self.assertEqual(stats.costs_ms([op(0, None), op(3, 8)]), [5])


class OpenLoopTiming(unittest.TestCase):
    def test_latency_runs_from_the_scheduled_send_time(self):
        # ten messages due every 10 ms; the generator stalls until t=100,
        # sends them all then, and each is processed 5 ms after sending
        sched = [10.0 * i for i in range(10)]
        done = [100.0 + 5 for _ in sched]
        lat = stats.costs_ms([op(s, d) for s, d in zip(sched, done)])
        self.assertEqual(lat, [105.0 - s for s in sched])
        # timing from the (late) send would hide the stall: 5 ms each
        self.assertEqual(stats.percentile(lat, 50), 60.0)

    def test_every_repetition_of_an_op_counts(self):
        ops = [op(0, 10, name="q1"), op(20, 50, name="q1"), op(60, 62, name="q1"),
               op(0, 4, name="q2")]
        self.assertEqual(sorted(stats.costs_ms(ops)), [2, 4, 10, 30])

    def test_a_measured_cpu_cost_replaces_the_wall_time(self):
        o = op(0, 100)
        o["cost_ms"] = 30.0
        self.assertEqual(stats.costs_ms([o, op(0, 8)]), [30.0, 8])

    def test_untimed_ops_do_not_feed_latency(self):
        self.assertEqual(stats.costs_ms([op(0, 7), op(0, 90, timed=False)]), [7])


class Summaries(unittest.TestCase):
    def test_setup_is_session_start_plus_workload_setup(self):
        _, _, _, m, _ = stats.summarize(raw([op(0, 4)]))
        self.assertEqual(m["setup_s"], 0.5 + 2.0)
        self.assertEqual(m["ops_per_cpu_s"], 5.0)

    def test_layer_values(self):
        self.assertEqual(stats.layer_value([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.layer_value([]), 0.0)
        self.assertEqual(stats.layer_value(4), 4.0)

    def test_spread_is_quartile_distance_over_median(self):
        self.assertAlmostEqual(stats.spread([10, 10, 10, 10]), 0.0)
        self.assertAlmostEqual(stats.spread([8, 9, 10, 11, 12]), 3.0 / 10)


if __name__ == "__main__":
    unittest.main()
