"""Unit tests for the benchmark's metric math on synthetic records.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import io
import unittest

import metrics


def trig(start, end, rows=1000, due=None, due_min=None, tid="q", batch=0):
    obs = {} if due is None else {"perfbench_src": {"due_max": due, "due_min": due_min}}
    return {"id": tid, "run": "r", "batch": batch, "start": start, "end": end,
            "rows": rows, "observed": obs, "dur": {}, "state": [], "out_rows": 0}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_and_count(self):
        xs = list(range(1, 21))  # 1..20
        self.assertEqual(metrics.percentile(xs, 50), (10, 20))
        self.assertEqual(metrics.percentile(xs, 90), (18, 20))
        self.assertEqual(metrics.percentile(xs, 100), (20, 20))

    def test_order_does_not_matter_and_single_sample(self):
        self.assertEqual(metrics.percentile([5, 1, 3], 50), (3, 3))
        self.assertEqual(metrics.percentile([7], 90), (7, 1))

    def test_empty(self):
        self.assertEqual(metrics.percentile([], 90), (None, 0))


class RowLatencyTest(unittest.TestCase):
    def test_rows_spread_evenly_between_due_bounds(self):
        # 1000 rows due over [0, 1000), all done at 1500: latencies 500..1500
        ranges = metrics.row_latency_ranges([trig(1000, 1500, rows=1000, due=1000, due_min=0)])
        self.assertEqual(ranges, [(1000, 500, 1500)])
        p50, n = metrics.row_percentile(ranges, 50)
        self.assertAlmostEqual(p50, 1000, places=3)
        self.assertEqual(n, 1000)

    def test_a_stalled_trigger_weighs_by_its_rows(self):
        steady = [(1000, 200, 300)] * 9
        stalled = [(3000, 2000, 5000)]  # three seconds of backlog at once
        p50, _ = metrics.row_percentile(steady + stalled, 50)
        p90, n = metrics.row_percentile(steady + stalled, 90)
        self.assertLess(p50, 300)
        self.assertGreater(p90, 2000)
        self.assertEqual(n, 12000)
        self.assertEqual(metrics.row_percentile([], 50), (None, 0))


class BacklogTest(unittest.TestCase):
    def test_slope_of_a_growing_backlog(self):
        # backlog grows 500 rows every second
        pts = [(1000 * i, 500 * i) for i in range(10)]
        self.assertAlmostEqual(metrics.slope_per_s(pts), 500.0)

    def test_flat_and_degenerate(self):
        self.assertAlmostEqual(metrics.slope_per_s([(0, 7), (1000, 7), (2000, 7)]), 0.0)
        self.assertEqual(metrics.slope_per_s([(0, 1)]), 0.0)
        self.assertEqual(metrics.slope_per_s([(5, 1), (5, 9)]), 0.0)

    def test_backlog_from_lag(self):
        t = trig(0, 2000, due=1500)
        self.assertEqual(metrics.latency_ms(t), 500)
        self.assertEqual(metrics.backlog_rows(t, 10000), 5000.0)
        self.assertIsNone(metrics.backlog_rows(trig(0, 1), 10000))

    def test_ladder_step_flags_an_overloaded_rate(self):
        # each trigger falls 400 ms further behind: backlog slope 0.4 * rate
        overloaded = [trig(i * 1000, i * 1000 + 900, due=i * 600) for i in range(1, 8)]
        step = metrics.ladder_step(overloaded, 10000, 0, 8000)
        self.assertFalse(step["sustainable"])
        self.assertGreater(step["slope_rps"], 3000)
        steady = [trig(i * 1000, i * 1000 + 300, due=i * 1000) for i in range(1, 8)]
        ok = metrics.ladder_step(steady, 10000, 0, 8000)
        self.assertTrue(ok["sustainable"])
        self.assertEqual(metrics.sustainable_rps([step, ok]), ok["committed_rps"])
        self.assertEqual(metrics.sustainable_rps([step]), 0.0)


class ThroughputTest(unittest.TestCase):
    def test_committed_rows_over_their_own_span(self):
        before = trig(0, 900, rows=5000)
        win = [trig(1000, 2100, rows=12000), trig(2100, 2900, rows=12000)]
        # 24000 rows committed between t=900 and t=2900
        self.assertAlmostEqual(metrics.committed_rps([before] + win, win, 1000), 12000.0)
        self.assertEqual(metrics.committed_rps([before], [], 1000), 0.0)


class RecoveryTest(unittest.TestCase):
    def test_first_trigger_back_within_tolerance(self):
        # steady 200 ms lag, pause at 10 s, resumed at 12 s, lag decays
        ts = [trig(t - 100, t, due=t - 200) for t in range(7000, 10001, 1000)]
        ts += [trig(12900, 13000, due=11000),   # 2000 ms lag
               trig(13900, 14000, due=13700),   # 300 ms: above 1.1 * 200
               trig(14900, 15000, due=14790)]   # 210 ms: recovered
        self.assertEqual(metrics.recovery_ms(ts, 10000, 12000), 5000)

    def test_no_recovery_or_no_reference(self):
        ts = [trig(t - 100, t, due=t - 200) for t in range(7000, 10001, 1000)]
        ts.append(trig(12900, 13000, due=11000))
        self.assertIsNone(metrics.recovery_ms(ts, 10000, 12000))
        self.assertIsNone(metrics.recovery_ms(ts[-1:], 10000, 12000))

    def test_rows_dropped_by_a_head_repositioned_source(self):
        # source started at t=0; 5 whole seconds offered by the pause,
        # 3 committed
        ts = [trig(1000, 1200, rows=100, due=999, due_min=0),
              trig(2000, 2200, rows=100, due=1999, due_min=1000),
              trig(3000, 3200, rows=100, due=2999, due_min=2000)]
        self.assertEqual(metrics.rows_dropped(ts, 5500, 100), 200)


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = [
            {"id": "t", "parent": None, "layer": "streaming", "start": 0, "end": 100},
            # overlapping children: union covers 10..60
            {"id": "j1", "parent": "t", "layer": "spark", "start": 10, "end": 50},
            {"id": "j2", "parent": "t", "layer": "spark", "start": 40, "end": 60},
            {"id": "s1", "parent": "j1", "layer": "spark", "start": 20, "end": 30},
            # child sticking out of its parent is clipped
            {"id": "c", "parent": "t", "layer": "sources", "start": 90, "end": 120},
        ]
        got = metrics.self_time_by_layer(spans)
        self.assertEqual(got["streaming"], 100 - 50 - 10)
        self.assertEqual(got["spark"], (40 - 10) + 20 + 10)
        self.assertEqual(got["sources"], 30)

    def test_union(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_ms([(0, 10)], 5, 8), 3)
        self.assertEqual(metrics.union_ms([]), 0)


class ReportTest(unittest.TestCase):
    def batch_run(self):
        def query(name, module, start):
            return {"t": "query", "name": name, "module": module, "pass": 0,
                    "start": start, "built": start + 50, "end": start + 200}
        return metrics.by_kind([
            {"t": "meta", "workload": "batch_catalog", "cores": 4, "launch_ms": 0},
            {"t": "session", "ready_ms": 1000},
            {"t": "setup_rep", "rep": 0, "start": 1000, "ms": 500.0},
            {"t": "phase", "name": "window", "start": 2000, "end": 3000},
            query("a", "M1", 2000), query("b", "M1", 2300), query("c", "M2", 2600),
            {"t": "output", "name": "a", "rows": 10},
            {"t": "final", "ms": 4000, "cpu_ms": 3000, "vmhwm_kb": 1024,
             "heap_after_gc_peak_bytes": 2 ** 20}])

    def test_module_metrics_follow_the_query_records(self):
        layer = metrics.per_layer(self.batch_run())
        self.assertEqual(layer["operators.M1.ms"], (400.0, "ms", 2))
        self.assertEqual(layer["operators.M2.ms"], (200.0, "ms", 1))
        self.assertEqual(sorted(k for k in layer if k.endswith(".ms")
                                and k.count(".") == 2), ["operators.M1.ms", "operators.M2.ms"])

    def test_a_module_the_run_skips_reads_zero(self):
        spec = [{"name": "operators.M1.ms", "unit": "ms"},
                {"name": "operators.M3.ms", "unit": "ms"}]
        with contextlib.redirect_stdout(io.StringIO()):
            got = metrics.report(self.batch_run(), [], True, spec)
        self.assertEqual(got["metrics"], {"operators.M1.ms": {"value": 400.0, "unit": "ms"},
                                          "operators.M3.ms": {"value": 0.0, "unit": "ms"}})
        self.assertTrue(got["correct"])


if __name__ == "__main__":
    unittest.main()
