"""The artifact diff: bounds on end-to-end metrics, growth of watched counts,
and the tracing overhead."""

import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import diff  # noqa: E402

BENCH = {"end_to_end": [
    {"name": "throughput_ops_s", "unit": "ops/s", "better": "higher", "bound": 0.1},
    {"name": "latency_p50_ms", "unit": "ms", "better": "lower", "bound": 0.1},
]}


def rec(workload, trace=0, tput=10.0, p50=100.0, layers=None):
    return {"workload": workload, "trace": trace,
            "end_to_end": {"throughput_ops_s": tput, "latency_p50_ms": p50},
            "per_layer": layers if trace else None}


class CompareTest(unittest.TestCase):
    def test_within_bounds_is_quiet(self):
        before = [rec("a", tput=10.0, p50=100.0)]
        after = [rec("a", tput=9.5, p50=109.0)]
        self.assertEqual(diff.compare(before, after, BENCH), [])

    def test_names_each_metric_outside_its_bound(self):
        before = [rec("a"), rec("b")]
        after = [rec("a", tput=8.0), rec("b", p50=150.0)]
        found = {(k, w, m) for k, w, m, *_ in diff.compare(before, after, BENCH)}
        self.assertEqual(found, {("REGRESSION", "a", "throughput_ops_s"),
                                 ("REGRESSION", "b", "latency_p50_ms")})

    def test_improvement_is_not_a_regression(self):
        self.assertEqual(diff.compare([rec("a")], [rec("a", tput=20.0, p50=10.0)], BENCH), [])

    def test_uses_medians_over_runs(self):
        before = [rec("a", p50=100.0), rec("a", p50=101.0), rec("a", p50=99.0)]
        after = [rec("a", p50=300.0), rec("a", p50=104.0), rec("a", p50=105.0)]
        self.assertEqual(diff.compare(before, after, BENCH), [])

    def test_traced_runs_do_not_count_as_end_to_end(self):
        before = [rec("a")]
        after = [rec("a"), rec("a", trace=1, tput=1.0, layers={})]
        self.assertEqual(diff.compare(before, after, BENCH), [])

    def test_names_watched_counts_that_grew(self):
        lay = {"spark.jobs_per_op": 4.0, "spark.shuffle_bytes_per_op": 1000.0,
               "sharing.cache_builds_per_op": 0.0, "memo.misses": 3,
               "spark.tasks_per_op": 4.0}
        grown = dict(lay, **{"spark.jobs_per_op": 5.0, "sharing.cache_builds_per_op": 0.5,
                             "memo.misses": 3, "spark.tasks_per_op": 9.0})
        found = diff.compare([rec("a", 1, layers=lay)], [rec("a", 1, layers=grown)], BENCH)
        self.assertEqual({(k, m) for k, _, m, *_ in found},
                         {("GREW", "spark.jobs_per_op"), ("GREW", "sharing.cache_builds_per_op")})

    def test_count_tolerance(self):
        lay = {"spark.jobs_per_op": 4.0}
        after = [rec("a", 1, layers={"spark.jobs_per_op": 4.04})]
        self.assertEqual(diff.compare([rec("a", 1, layers=lay)], after, BENCH), [])
        self.assertEqual(len(diff.compare([rec("a", 1, layers=lay)], after, BENCH,
                                          count_tolerance=0.0)), 1)

    def test_overhead(self):
        recs = [rec("a", tput=10.0, p50=100.0),
                rec("a", 1, layers={"trace.throughput_ops_s": 9.0, "trace.latency_p50_ms": 110.0})]
        tput, p50 = diff.overhead(recs)["a"]
        self.assertAlmostEqual(tput, 0.1)
        self.assertAlmostEqual(p50, 0.1)


class CommandLineTest(unittest.TestCase):
    def test_exit_code_and_output(self):
        with tempfile.TemporaryDirectory() as d:
            paths = {}
            for name, recs in (("bench", None), ("a", [rec("w")]), ("b", [rec("w", p50=200.0)]),
                               ("c", [rec("w", p50=101.0)])):
                paths[name] = os.path.join(d, name)
                with open(paths[name], "w") as f:
                    if recs is None:
                        json.dump(BENCH, f)
                    else:
                        f.write("\n".join(json.dumps(r) for r in recs) + "\n")
            cmd = [sys.executable, os.path.join(HERE, "diff.py"), "--bench", paths["bench"]]
            bad = subprocess.run(cmd + [paths["a"], paths["b"]], capture_output=True, text=True)
            self.assertEqual(bad.returncode, 1)
            self.assertIn("REGRESSION w latency_p50_ms", bad.stdout)
            ok = subprocess.run(cmd + [paths["a"], paths["c"]], capture_output=True, text=True)
            self.assertEqual(ok.returncode, 0, ok.stdout)


if __name__ == "__main__":
    unittest.main()
