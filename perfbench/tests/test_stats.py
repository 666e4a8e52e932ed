"""Percentiles, the sample-count rule and failure accounting.

    python3 -m unittest discover -s perfbench/tests
"""

import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def op(send=0.0, done=10.0, head="ok", trailer="done 1", rows=1, kept=('{"n":1}',),
       digest="7"):
    return {"send": send, "done": done, "head": head, "trailer": trailer, "rows": rows,
            "kept": list(kept), "digest": digest}


class QuantileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.quantile(xs, 0.5), 50)
        self.assertEqual(stats.quantile(xs, 0.95), 95)
        self.assertEqual(stats.quantile(xs, 1.0), 100)
        self.assertEqual(stats.quantile([3.0], 0.95), 3.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.quantile([5, 1, 4, 2, 3], 0.5), 3)

    def test_tail_count(self):
        self.assertEqual(stats.tail_count(100, 0.95), 5)
        self.assertEqual(stats.tail_count(200, 0.95), 10)
        self.assertEqual(stats.tail_count(199, 0.95), 9)
        self.assertEqual(stats.tail_count(1, 0.5), 0)

    def test_min_samples_leaves_ten_beyond_p95(self):
        n = stats.min_samples(0.95)
        self.assertEqual(n, 200)
        self.assertGreaterEqual(stats.tail_count(n, 0.95), stats.MIN_TAIL)
        self.assertLess(stats.tail_count(n - 1, 0.95), stats.MIN_TAIL)
        self.assertEqual(stats.min_samples(0.5), 20)

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([10.0] * 10), 0.0)
        xs = [90, 95, 98, 100, 100, 100, 102, 105, 110, 120]
        self.assertAlmostEqual(stats.spread(xs), (106.25 - 97.25) / 100.0)


class CheckTest(unittest.TestCase):
    AGG = {"rows": [{"k": "a", "n": 2, "x": 0.1 + 0.2}]}

    def test_agg_match_with_float_tolerance(self):
        good = op(kept=['{"k":"a","n":2,"x":0.30000000000000004}'])
        self.assertIsNone(stats.check_op(good, self.AGG))
        near = op(kept=['{"k":"a","n":2,"x":0.3}'])
        self.assertIsNone(stats.check_op(near, self.AGG))

    def test_agg_mismatches(self):
        for kept in (['{"k":"a","n":3,"x":0.3}'],         # int differs
                     ['{"k":"a","n":2,"x":0.31}'],        # float beyond tolerance
                     ['{"k":"a","n":2}'],                 # column missing (null dropped)
                     ['{"k":"a","n":2,"x":0.3}'] * 2):    # extra row
            with self.subTest(kept=kept):
                o = op(kept=kept, rows=len(kept), trailer=f"done {len(kept)}")
                self.assertIsNotNone(stats.check_op(o, self.AGG))

    def test_protocol_failures(self):
        self.assertIn("no ok", stats.check_op(op(head="error boom"), self.AGG))
        self.assertIn("bad trailer", stats.check_op(op(trailer="error mid-stream"), self.AGG))
        self.assertIn("bad trailer", stats.check_op(op(trailer="done 1 truncated"), self.AGG))
        self.assertIn("client read", stats.check_op(op(trailer="done 2"), self.AGG))

    def test_row_stream_by_count_and_digest(self):
        ref = {"count": 3, "digest": "42"}
        self.assertIsNone(stats.check_op(op(rows=3, trailer="done 3", digest="42"), ref))
        self.assertIsNotNone(stats.check_op(op(rows=2, trailer="done 2", digest="42"), ref))
        self.assertIsNotNone(stats.check_op(op(rows=3, trailer="done 3", digest="41"), ref))
        # a reference that disagreed with DuckDB is stored as count -1
        self.assertIsNotNone(stats.check_op(op(rows=3, trailer="done 3", digest="42"),
                                            {"count": -1, "digest": "42"}))


class FailureAccountingTest(unittest.TestCase):
    def test_failed_ops_count_as_infinitely_slow(self):
        ops = [op(done=float(i)) for i in range(1, 21)]
        p50, p95, n, tail = stats.latency_summary(ops, failed_ids=set())
        self.assertEqual((p50, p95, n, tail), (10.0, 19.0, 20, 1))
        # the two fastest ops fail: they leave the latency sample as misses,
        # they are not timed as fast rows
        p50, p95, _, _ = stats.latency_summary(ops, failed_ids={0, 1})
        self.assertEqual(p50, 12.0)
        self.assertEqual(p95, math.inf)

    def test_failed_ops_take_the_cap(self):
        ops = [op(done=float(i)) for i in range(1, 21)]
        _, p95, _, _ = stats.latency_summary(ops, failed_ids={0, 1}, cap=5000.0)
        self.assertEqual(p95, 5000.0)

    def test_all_failed(self):
        p50, _, n, _ = stats.latency_summary([op(), op()], failed_ids={0, 1})
        self.assertEqual((p50, n), (math.inf, 2))


if __name__ == "__main__":
    unittest.main()
