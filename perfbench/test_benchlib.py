"""Self-tests of the benchmark's own arithmetic and output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import pyarrow as pa

import benchlib


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(benchlib.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(benchlib.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(benchlib.percentile(range(1, 101), 0.95), 95.05)
        self.assertEqual(benchlib.percentile([7], 0.95), 7)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 0.5)


def span(i, parent, kind, start, end, **attrs):
    return dict(id=i, parent=parent, kind=kind, name=kind,
                start_ms=start, end_ms=end, **attrs)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(benchlib.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(benchlib.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(benchlib.union_length([]), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [span(1, 0, "query", 0, 100),
                 span(2, 1, "construct", 0, 40),
                 span(3, 1, "exec", 40, 90),
                 span(4, 3, "job", 50, 80),
                 span(5, 3, "job", 60, 85)]   # overlaps job 4
        st = benchlib.self_times(spans)
        self.assertEqual(st[1], 10)
        self.assertEqual(st[2], 40)
        self.assertEqual(st[3], 50 - 35)
        self.assertEqual(st[4], 30)

    def test_children_are_clipped_to_parent(self):
        spans = [span(1, 0, "exec", 10, 20), span(2, 1, "job", 5, 15)]
        self.assertEqual(benchlib.self_times(spans)[1], 5)

    def test_by_kind_sums_in_seconds(self):
        spans = [span(1, 0, "run", 0, 3000), span(2, 1, "query", 0, 1000),
                 span(3, 1, "query", 1000, 2000)]
        by = benchlib.self_time_by_kind(spans)
        self.assertAlmostEqual(by["run"], 1.0)
        self.assertAlmostEqual(by["query"], 2.0)


class CompareTablesTest(unittest.TestCase):
    def test_equal_up_to_row_and_column_order(self):
        a = pa.table({"k": [1, 2, 3], "v": [0.5, float("nan"), None]})
        b = pa.table({"v": [None, 0.5, float("nan")], "k": [3, 1, 2]})
        ok, msg = benchlib.compare_tables(a, b)
        self.assertTrue(ok, msg)

    def test_value_difference_is_reported(self):
        a = pa.table({"k": [1, 2], "v": [1.0, 2.0]})
        b = pa.table({"k": [1, 2], "v": [1.0, 2.0000001]})
        ok, msg = benchlib.compare_tables(a, b)
        self.assertFalse(ok)
        self.assertIn("1 of 2 rows differ", msg)

    def test_duplicates_count(self):
        a = pa.table({"k": [1, 1, 2]})
        b = pa.table({"k": [1, 2, 2]})
        self.assertFalse(benchlib.compare_tables(a, b)[0])

    def test_type_and_column_mismatch(self):
        a = pa.table({"k": pa.array([1, 2], pa.int64())})
        b = pa.table({"k": pa.array([1, 2], pa.int32())})
        self.assertIn("types differ", benchlib.compare_tables(a, b)[1])
        c = pa.table({"j": [1, 2]})
        self.assertIn("columns differ", benchlib.compare_tables(a, c)[1])

    def test_cosmetic_type_spellings_agree(self):
        a = pa.table({"s": pa.array(["x"], pa.large_string())})
        b = pa.table({"s": pa.array(["x"], pa.string())})
        self.assertTrue(benchlib.compare_tables(a, b)[0])


HOUR = 3600 * 1000000


def win(start_h, etype, n, total):
    return {"w_start_us": str(start_h * HOUR), "event_type": etype,
            "n": str(n), "total_value": str(total)}


class CheckWindowsTest(unittest.TestCase):
    expected = [win(0, "a", 3, 1.5), win(0, "b", 1, 2.0), win(1, "a", 2, 7.0)]

    def test_closed_windows_match(self):
        sink = [win(0, "b", 1, 2.0), win(0, "a", 3, 1.5 + 1e-15)]
        # watermark at 1h: only the first hour's windows are closed
        self.assertEqual(benchlib.check_windows(sink, self.expected, 3600 * 1000), [])

    def test_missing_wrong_duplicate_and_open(self):
        sink = [win(0, "a", 4, 1.5), win(0, "a", 4, 1.5), win(1, "a", 2, 7.0)]
        errs = benchlib.check_windows(sink, self.expected, 3600 * 1000)
        text = " | ".join(errs)
        self.assertIn("emitted 2 times", text)
        self.assertIn("n=4 expected 3", text)
        self.assertIn("never emitted", text)            # (0, b)
        self.assertIn("not closed or not expected", text)  # (1h, a) still open

    def test_sum_tolerance_is_relative(self):
        sink = [win(0, "a", 3, 1.6), win(0, "b", 1, 2.0)]
        errs = benchlib.check_windows(sink, self.expected, 3600 * 1000)
        self.assertEqual(len(errs), 1)
        self.assertIn("total=1.6", errs[0])


def ev(i, user, etype, ts, value):
    return {"event_id": str(i), "user_id": str(user), "event_type": etype,
            "ts_us": str(ts), "value": str(value)}


class CheckFirstPerKeyTest(unittest.TestCase):
    events = [ev(0, 1, "view", 100, 1.0), ev(1, 1, "view", 200, 2.0),
              ev(2, 2, "view", 300, 3.0), ev(3, 1, "click", 400, 4.0)]

    def test_first_event_per_key(self):
        sink = [ev(3, 1, "click", 400, 4.0), ev(0, 1, "view", 100, 1.0),
                ev(2, 2, "view", 300, 3.0)]
        self.assertEqual(benchlib.check_first_per_key(sink, self.events), [])

    def test_later_duplicate_missing_and_extra_keys(self):
        sink = [ev(1, 1, "view", 200, 2.0), ev(2, 2, "view", 300, 3.0),
                ev(2, 2, "view", 300, 3.0), ev(9, 5, "view", 1, 1.0)]
        text = " | ".join(benchlib.check_first_per_key(sink, self.events))
        self.assertIn("emitted event 1, first is 0", text)
        self.assertIn("emitted twice", text)
        self.assertIn("('1', 'click') never emitted", text)
        self.assertIn("never generated", text)


class MetricsTest(unittest.TestCase):
    def rep(self, kind, wall, ops, lat, setup=0.1, heap=100.0, spans=(), layers=None):
        return {"kind": kind, "index": 0, "setup_s": setup, "wall_s": wall,
                "ops_ms": ops, "latency": lat, "items": 10, "attempted": 1,
                "failed": 0, "errors": [], "heap_mb": heap,
                "layers": layers or {}, "spans": list(spans)}

    def test_per_operation_aligns_identical_repetitions(self):
        self.assertEqual(benchlib.per_operation([[1, 10], [3, 30], [2, 20]]), [2, 20])
        self.assertEqual(benchlib.per_operation([[1, 10], [3]]), [1, 10, 3])
        self.assertEqual(benchlib.per_operation([]), [])

    def test_end_to_end_uses_timed_reps_only(self):
        raw = {"startup_s": 5.0, "reps": [
            self.rep("check", 100, [1000], [1000], setup=9),
            self.rep("timed", 2, [10, 20], [5, 7], setup=0.2, heap=50),
            self.rep("timed", 4, [30, 40], [9], setup=0.4, heap=70)]}
        m = benchlib.end_to_end(raw)
        self.assertEqual(m["wall_s"], 3)
        self.assertEqual(m["op_p50_ms"], 25)   # aligned: medians 20 and 30
        self.assertEqual(m["latency_p50_ms"], 7)   # pooled: shapes differ
        self.assertEqual(m["throughput_per_s"], (5 + 2.5) / 2)
        self.assertEqual(m["heap_retained_mb"], 60)
        self.assertAlmostEqual(m["setup_s"], 5.3)
        self.assertEqual({k for k, _ in benchlib.END_TO_END}, set(m))
        self.assertTrue(all(v > 0 for v in m.values()))

    def test_per_layer_attributes_jobs_and_overhead(self):
        spans = [span(1, 0, "run", 0, 1000),
                 span(2, 1, "query", 0, 1000),
                 span(3, 2, "construct", 0, 400),
                 span(4, 2, "exec", 400, 1000),
                 span(5, 3, "job", 100, 300),
                 span(6, 4, "job", 500, 900),
                 span(7, 5, "stage", 100, 300, tasks=1, task_s=0.2, gc_s=0,
                      shuffle_bytes=0, spill_bytes=0, skew=1.0, source=True),
                 span(8, 6, "stage", 500, 900, tasks=4, task_s=1.2, gc_s=0.1,
                      shuffle_bytes=64, spill_bytes=0, skew=3.0, source=True),
                 span(9, 4, "planning", 400, 450)]
        raw = {"cores": 4, "reps": [
            self.rep("warm", 30.0, [], []),
            self.rep("untraced", 10.0, [], []),
            self.rep("traced", 10.4, [], [], spans=spans,
                     layers={"memo.pinned_rdds": 3}),
            self.rep("traced", 10.6, [], [], spans=spans,
                     layers={"memo.pinned_rdds": 3}),
            self.rep("untraced", 10.0, [], [])]}
        m = benchlib.per_layer(raw)
        self.assertEqual({k for k, _ in benchlib.PER_LAYER}, set(m))
        self.assertEqual(m["construct.jobs"], 1)
        self.assertAlmostEqual(m["construct.task_s"], 0.2)
        self.assertEqual(m["exec.jobs"], 1)
        self.assertEqual(m["exec.tasks"], 4)
        self.assertAlmostEqual(m["exec.s"], 0.6)
        self.assertAlmostEqual(m["exec.core_util"], 1.2 / (0.6 * 4))
        self.assertEqual(m["exec.skew"], 3.0)
        self.assertAlmostEqual(m["plan.planning_s"], 0.05)
        self.assertAlmostEqual(m["self.exec_s"], 0.6 - 0.4 - 0.05)
        self.assertEqual(m["memo.pinned_rdds"], 3)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.5)
        self.assertAlmostEqual(m["trace.overhead_pct"], 5.0)
        self.assertAlmostEqual(m["trace.overhead_spread_s"], 0.1)
        self.assertEqual(m["trace.overhead_resolved"], 1)

    def test_tracing_overhead_pairs_and_resolution(self):
        def run(*walls):  # (untraced, traced) per pair, order flipping
            reps = []
            for j, (u, t) in enumerate(walls):
                pair = [self.rep("untraced", u, [], []), self.rep("traced", t, [], [])]
                reps += pair if j % 2 == 0 else pair[::-1]
            return benchlib.tracing_overhead(reps)
        m = run((10.0, 10.1), (11.0, 10.0), (9.0, 10.5))
        self.assertAlmostEqual(m["trace.overhead_s"], 0.1)   # diffs 0.1, -1.0, 1.5
        self.assertAlmostEqual(m["trace.base_wall_s"], 10.0)
        self.assertAlmostEqual(m["trace.overhead_spread_s"], 1.25)
        self.assertEqual(m["trace.overhead_resolved"], 0)
        self.assertEqual(run((10.0, 10.3), (10.1, 10.3), (9.9, 10.3))
                         ["trace.overhead_resolved"], 1)
        with self.assertRaises(ValueError):   # two traced in a row: no pair
            benchlib.tracing_overhead([self.rep("traced", 1, [], []),
                                       self.rep("traced", 1, [], [])])


if __name__ == "__main__":
    unittest.main()
