"""BENCHMARK.json agrees with what run.py prints, and the seeded inputs are
deterministic."""

import contextlib
import io
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import corpus  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class BenchmarkJsonTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_keys_and_limits(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertRegex(w["name"], NAME)
            self.assertLessEqual(len(w["why"]), 200)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))

    def test_metrics_match_run_py(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]}, run.PER_LAYER)
        self.assertLessEqual({w["name"] for w in self.bench["workloads"]}, set(workloads.NAMES))


class SeedTest(unittest.TestCase):
    def test_same_seed_same_statements(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(workloads.make(w, 7), workloads.make(w, 7))
            self.assertNotEqual(workloads.make(w, 7), workloads.make(w, 8))

    def test_every_template_in_the_pool(self):
        for w, spec in workloads.WORKLOADS.items():
            stmts, schedules = workloads.make(w, 3)
            self.assertEqual(len(stmts), len(spec["templates"]) * spec["variants"])
            self.assertEqual(len(schedules), workloads.CLIENTS)
            self.assertTrue(all(0 <= s < len(stmts) for sched in schedules for s, _, _ in sched))

    def test_catalogue_queue(self):
        a = workloads.catalogue_queue(7)
        self.assertEqual(a, workloads.catalogue_queue(7))
        self.assertNotEqual(a, workloads.catalogue_queue(8))
        pool = workloads.CATALOGUE_POOL
        self.assertEqual(len(set(pool)), len(pool))
        self.assertEqual({q[0] for q in pool}, set("dmpqstuw"))  # every family but graph
        # each stretch of one round holds every query once
        n = len(pool)
        for r in range(workloads.CATALOGUE_ROUNDS):
            self.assertEqual(sorted(a[r * n:(r + 1) * n]), sorted(pool))

    def test_corpus_is_deterministic(self):
        a, b = corpus.build_tables(5, sf=0.001), corpus.build_tables(5, sf=0.001)
        self.assertEqual(list(a), corpus.TABLES)
        for name in corpus.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(corpus.build_tables(6, sf=0.001)["lineitem"].equals(a["lineitem"]))


def fake_trace(stmt_ids):
    """The trace part of a harness result, with every counter at 1."""
    return {"spark": {k: 1 for k in run.SPARK_KEYS},
            "catalyst": {k: 1 for k in ("parse_ms", "analyze_ms", "optimize_ms", "plan_ms")},
            "catalyst_conn": {k: 1 for k in ("analyze_ms", "optimize_ms", "plan_ms", "counts")},
            "catalyst_root": {k: 1 for k in ("analyze_ms", "optimize_ms", "plan_ms", "counts")},
            "memo_hits": 1, "memo_misses": 1, "deadline_total": 0, "deadline_missed": 0,
            "parse_ms": {str(i): 1.0 for i in stmt_ids}, "audit_ms": {str(i): 1.0 for i in stmt_ids},
            "sharing": None, "cached_entries": 0}


def fake_op(workload, i, ok):
    """The i-th op of a harness result: correct, or failed if not `ok`."""
    t = 10.0 * i
    if workload == "catalogue":
        return {"caller": i % 4, "name": f"q{i}", "error": None if ok else "boom",
                "send": t, "built": t + 1, "done": t + 5}
    return {"client": i % 4, "stmt": 0, "send": t, "ok": t + 1, "first": t + 2, "done": t + 5,
            "bytes": 10, "rows": 1, "warns": 0, "head": "ok" if ok else "error: boom",
            "trailer": "done 1", "digest": "0", "kept": ['{"n": 1}']}


class RunReportTest(unittest.TestCase):
    """run.py on a faked harness result: the printed metrics are exactly
    BENCHMARK.json's, and failed ops are counted and never timed as fast."""

    def report(self, workload, trace, failed=0):
        n = stats.min_samples(0.95)
        memory = {"vm_hwm_mb": 2800.0, "heap_committed_mb": 2048.0, "heap_live_mb": 100.0}
        res = {"setup_s": 5.0, "window_s": 2.0, "memory": memory, "phases_s": {}, "refs": {},
               "ops": [fake_op(workload, i, i >= failed) for i in range(n)],
               "trace": fake_trace([0]) if trace else None}
        saved = (run.run_jvm, run.ensure_corpus, build.build, workloads.expected)
        run.run_jvm = lambda *a: res
        run.ensure_corpus = lambda work: work
        build.build = lambda work: work
        workloads.expected = lambda corpus_dir, stmts, kind: [[{"n": 1}]] * len(stmts)
        out = io.StringIO()
        try:
            with tempfile.TemporaryDirectory() as d, contextlib.redirect_stdout(out):
                os.environ["CARGO_TARGET_DIR"] = d
                run.main(["--workload", workload, "--seed", "1", "--seconds", "1",
                          "--trace", str(trace)])
        finally:
            run.run_jvm, run.ensure_corpus, build.build, workloads.expected = saved
            os.environ.pop("CARGO_TARGET_DIR", None)
        return json.loads(out.getvalue().strip().splitlines()[-1])

    def test_every_metric_on_every_workload(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for w in bench["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                result = self.report(w["name"], trace)
                self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                self.assertEqual(set(result["metrics"]), {m["name"] for m in bench[key]},
                                 (w["name"], trace))
                self.assertTrue(result["correct"])

    def test_failures_are_counted(self):
        for w in ("gw_window_agg", "catalogue"):
            result = self.report(w, 0, failed=20)
            self.assertEqual((result["correct"], result["failed"]), (False, 20))
            # 180 correct 5 ms ops in a 2 s window; the failed ones take the
            # whole window, so the slowest tenth sets p95
            self.assertAlmostEqual(result["metrics"]["throughput_ops_s"]["value"], 180 / 2.0)
            self.assertEqual(result["metrics"]["latency_p95_ms"]["value"], 2000.0)


class MissingProgramTest(unittest.TestCase):
    def test_fails_without_printing_a_result(self):
        # a tree holding only the benchmark: no program to build
        with tempfile.TemporaryDirectory() as d:
            bench_copy = os.path.join(d, "perfbench")
            subprocess.run(["cp", "-r", HERE, bench_copy], check=True)
            proc = subprocess.run(
                [sys.executable, os.path.join(bench_copy, "run.py"), "--workload", "gw_window_agg",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=60,
                env=dict(os.environ, CARGO_TARGET_DIR=os.path.join(d, ".bench_build")))
            self.assertNotEqual(proc.returncode, 0)
            self.assertNotIn('"correct"', proc.stdout)


if __name__ == "__main__":
    unittest.main()
