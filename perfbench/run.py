"""The repo benchmark: one run of one workload, checked and measured.

    python3 perfbench/run.py --workload gw_window_agg --seed 1 --seconds 20 --trace 0

Builds the program from source (perfbench/build.py), writes the synthetic
corpus (perfbench/corpus.py), computes each wire statement's expected answer
outside the timed region, runs the workload in one JVM (perfbench/harness)
and checks every op. The last line of stdout is one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Everything it writes goes
under the work directory ($CARGO_TARGET_DIR, default .bench_build); each run
also appends its record to <work>/results/runs.jsonl for perfbench/diff.py.
See perfbench/README.md.
"""

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import corpus  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

CORPUS_SEED = 42
CORES = 4
JVM_TIMEOUT_S = 150
HEAP = "1g"
SHARING_OPS_PER_CLIENT = 6
CATALOGUE_CALLERS = 4
# a window runs --seconds, longer if needed to reach the ops a p95 needs, but
# at most this many times --seconds (a run that slow reports fewer ops)
MAX_WINDOW = 1.75
CATALOGUE_WARMUP_S = 20.0

END_TO_END = {
    "setup_s": "s",
    "throughput_ops_s": "ops/s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "first_row_p50_ms": "ms",
    "rss_peak_mb": "MiB",
}

PER_LAYER = {
    "server.ack_ms": "ms",
    "server.audit_to_first_row_ms": "ms",
    "server.stream_ms": "ms",
    "server.bytes_per_op": "B",
    "audit.inspect_ms": "ms",
    "audit.warns_per_op": "count",
    "catalyst.parse_ms": "ms",
    "catalyst.analyze_ms": "ms",
    "catalyst.optimize_ms": "ms",
    "catalyst.plan_ms": "ms",
    "window.wait_ms": "ms",
    "window.jobs_per_batch": "count",
    "window.deadline_miss_ratio": "ratio",
    "sharing.prelude_ms": "ms",
    "sharing.action_ms": "ms",
    "sharing.cache_builds_per_op": "count",
    "sharing.cached_entries": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_run_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms",
    "spark.input_bytes_per_op": "B",
    "spark.shuffle_bytes_per_op": "B",
    "spark.spill_bytes_per_op": "B",
    "spark.result_bytes_per_op": "B",
    "operators.build_ms": "ms",
    "operators.exec_ms": "ms",
    "memo.hits": "count",
    "memo.misses": "count",
    "trace.throughput_ops_s": "ops/s",
    "trace.latency_p50_ms": "ms",
}

SPARK_KEYS = ["jobs", "stages", "tasks", "task_run_ms", "gc_ms", "input_bytes",
              "shuffle_bytes", "spill_bytes", "result_bytes"]

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def work_dir():
    w = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(w if os.path.isabs(w) else os.path.join(build.ROOT, w))


def ensure_corpus(work):
    out = os.path.join(work, f"corpus-sf0.1-s{CORPUS_SEED}")
    if not os.path.exists(os.path.join(out, "READY")):
        corpus.write_corpus(out, CORPUS_SEED)
        open(os.path.join(out, "READY"), "w").close()
    return out


def run_jvm(work, classes, plan_lines, tag):
    """Run the harness on a plan; return its result dict."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(work, "logs"), exist_ok=True)
    plan_path = os.path.join(work, f"plan-{tag}.tsv")
    result_path = os.path.join(work, f"result-{tag}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    launch_ms = int(time.time() * 1000)
    with open(plan_path, "w") as f:
        f.write(f"launch_ms\t{launch_ms}\n" + "\n".join(plan_lines) + "\n")
    # a fixed, pre-touched heap keeps the peak RSS from depending on when
    # the collector decided to grow the heap; 1 GiB is over four times the
    # largest live heap seen after a collection, and keeps the JVM's
    # footprint small on a shared host
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           *JVM_OPTS, "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
           "perfbench.Harness", plan_path, result_path]
    log_path = os.path.join(work, "logs", f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            # a thread dump into the log shows where it hung
            proc.send_signal(signal.SIGQUIT)
            time.sleep(2)
            code = None
        finally:
            if proc.poll() is None:  # timed out, or this process is being stopped
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            log_text = f.read()
        if code is None:
            # the top frames of the callers and the main thread, and any deadlock
            log_text = "\n\n".join("\n".join(b.splitlines()[:12]) for b in log_text.split("\n\n")
                                   if b.startswith(('"perfbench', '"main"', "Found one Java-level")))
        sys.stderr.write(log_text[-6000:] + "\n")
        why = f"timed out after {JVM_TIMEOUT_S} s" if code is None else f"exited {code}"
        raise SystemExit(f"harness {why}; log: {log_path}")
    with open(result_path) as f:
        return json.load(f)


def rss_peak_mb(memory):
    """Peak resident memory with the Java heap counted at its live size: the
    heap is fixed and pre-touched, so VmHWM alone holds all of it whatever
    the program keeps live."""
    return memory["vm_hwm_mb"] - memory["heap_committed_mb"] + memory["heap_live_mb"]


def gateway_run(args, work, classes, corpus_dir):
    spec = workloads.WORKLOADS[args.workload]
    stmts, schedules = workloads.make(args.workload, args.seed)
    answers = workloads.expected(corpus_dir, stmts, spec["kind"])
    min_ops = stats.min_samples(0.95)
    plan = [f"workload\t{args.workload}", f"corpus\t{corpus_dir}", f"cores\t{CORES}",
            f"batching\t{int(spec['batching'])}", f"trace\t{args.trace}",
            f"warmup_s\t{spec['warmup_s']}", f"seconds\t{args.seconds}", f"min_ops\t{min_ops}",
            f"max_seconds\t{MAX_WINDOW * args.seconds}", f"sharing_ops_per_client\t{SHARING_OPS_PER_CLIENT}"]
    plan += [f"stmt\t{i}\t{spec['kind']}\t{sql}" for i, sql in enumerate(stmts)]
    plan += [f"client\t{c}\t" + ",".join(f"{s}:{p}:{d}" for s, p, d in steps)
             for c, steps in enumerate(schedules)]
    res = run_jvm(work, classes, plan, f"{args.workload}-s{args.seed}-t{args.trace}")

    expect = {}
    for i, ans in enumerate(answers):
        if spec["kind"] == "agg":
            expect[i] = {"rows": ans}
        else:
            ref = res["refs"][str(i)]
            # the reference run itself must agree with DuckDB's row count
            expect[i] = {"count": ans if ref["rows"] == ans else -1, "digest": ref["digest"]}
    ops = res["ops"]
    reasons = {i: r for i, op in enumerate(ops)
               if (r := stats.check_op(op, expect[op["stmt"]])) is not None}
    window = res["window_s"]
    p50, p95, n, tail = stats.latency_summary(ops, reasons, cap=window * 1e3)
    first = [window * 1e3 if i in reasons else op["first"] - op["send"] for i, op in enumerate(ops)]
    e2e = {
        "setup_s": res["setup_s"],
        "throughput_ops_s": (len(ops) - len(reasons)) / window,
        "latency_p50_ms": p50,
        "latency_p95_ms": p95,
        "first_row_p50_ms": stats.quantile(first, 0.5),
        "rss_peak_mb": rss_peak_mb(res["memory"]),
    }
    info = {"samples": n, "tail_beyond_p95": tail, "window_s": window,
            "phases_s": res["phases_s"], "memory_mb": res["memory"],
            "failures": sorted(set(reasons.values()))[:5]}
    layers = None
    if args.trace:
        layers = gateway_layers(res, ops, e2e)
    return ops, reasons, e2e, layers, info


def gateway_layers(res, ops, e2e):
    tr = res["trace"]
    n = max(1, len(ops))

    def med(xs):
        return stats.quantile(xs, 0.5) if xs else 0.0

    def per_op(by_stmt):
        """Op-weighted mean of a per-statement measurement."""
        return sum(by_stmt[str(op["stmt"])] for op in ops) / n

    cat = {k: tr["catalyst_conn"][k] + tr["catalyst_root"][k]
           for k in ("analyze_ms", "optimize_ms", "plan_ms")}
    sh = tr["sharing"] or {}
    m = {
        "server.ack_ms": med([op["ok"] - op["send"] for op in ops]),
        "server.audit_to_first_row_ms": med([op["first"] - op["ok"] for op in ops]),
        "server.stream_ms": med([op["done"] - op["first"] for op in ops]),
        "server.bytes_per_op": sum(op["bytes"] for op in ops) / n,
        "audit.inspect_ms": per_op(tr["audit_ms"]),
        "audit.warns_per_op": sum(op["warns"] for op in ops) / n,
        # the planning tracker of a streamed Dataset has no parsing phase,
        # so parsing is timed apart on each distinct statement
        "catalyst.parse_ms": per_op(tr["parse_ms"]),
        "catalyst.analyze_ms": cat["analyze_ms"] / n,
        "catalyst.optimize_ms": cat["optimize_ms"] / n,
        "catalyst.plan_ms": cat["plan_ms"] / n,
        "window.wait_ms": med(sh.get("wait_ms", [])),
        "window.jobs_per_batch": sh.get("jobs_per_batch", 0.0),
        "window.deadline_miss_ratio": tr["deadline_missed"] / tr["deadline_total"]
        if tr["deadline_total"] else 0.0,
        "sharing.prelude_ms": med(sh.get("prelude_ms", [])),
        "sharing.action_ms": med(sh.get("action_ms", [])),
        "sharing.cache_builds_per_op": tr["catalyst_root"]["counts"] / n,
        "sharing.cached_entries": tr["cached_entries"],
        "operators.build_ms": 0.0,
        "operators.exec_ms": 0.0,
    }
    return {**m, **common_layers(tr, n, e2e)}


def common_layers(tr, n, e2e):
    """The layers both kinds of workload measure the same way: Spark
    execution and Memo counters per op, and the traced run's own numbers."""
    m = {f"spark.{k}_per_op": tr["spark"][k] / n for k in SPARK_KEYS}
    m["memo.hits"] = tr["memo_hits"] / n
    m["memo.misses"] = tr["memo_misses"] / n
    m["trace.throughput_ops_s"] = e2e["throughput_ops_s"]
    m["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
    return m


def catalogue_run(args, work, classes, corpus_dir):
    min_ops = stats.min_samples(0.95)
    plan = ["workload\tcatalogue", f"corpus\t{corpus_dir}", f"cores\t{CORES}",
            f"trace\t{args.trace}", f"callers\t{CATALOGUE_CALLERS}",
            f"warmup_s\t{CATALOGUE_WARMUP_S}", f"seconds\t{args.seconds}",
            f"min_ops\t{min_ops}", f"max_seconds\t{MAX_WINDOW * args.seconds}",
            "queue\t" + "\t".join(workloads.catalogue_queue(args.seed))]
    res = run_jvm(work, classes, plan, f"catalogue-s{args.seed}-t{args.trace}")
    ops = res["ops"]
    # a query that throws is a failure, never a timed row
    reasons = {i: op["error"] for i, op in enumerate(ops) if op["error"] is not None}
    window = res["window_s"]
    p50, p95, n, tail = stats.latency_summary(ops, reasons, cap=window * 1e3)
    e2e = {
        "setup_s": res["setup_s"],
        "throughput_ops_s": (len(ops) - len(reasons)) / window,
        "latency_p50_ms": p50,
        "latency_p95_ms": p95,
        # a noop write returns no rows, so the first row is the `done`
        "first_row_p50_ms": p50,
        "rss_peak_mb": rss_peak_mb(res["memory"]),
    }
    info = {"samples": n, "tail_beyond_p95": tail, "window_s": window,
            "phases_s": res["phases_s"], "memory_mb": res["memory"],
            "failures": [f"{ops[i]['name']}: {r}" for i, r in sorted(reasons.items())][:10]}
    layers = None
    if args.trace:
        tr = res["trace"]
        good = [op for i, op in enumerate(ops) if i not in reasons] or ops
        k = max(1, len(ops))
        layers = {name: 0.0 for name in PER_LAYER}  # no gateway, audit or window here
        layers.update({
            **{f"catalyst.{p}": tr["catalyst"][p] / k
               for p in ("parse_ms", "analyze_ms", "optimize_ms", "plan_ms")},
            "operators.build_ms": stats.quantile([op["built"] - op["send"] for op in good], 0.5),
            "operators.exec_ms": stats.quantile([op["done"] - op["built"] for op in good], 0.5),
            **common_layers(tr, k, e2e),
        })
    return ops, reasons, e2e, layers, info


def main(argv=None):
    # a stop request unwinds through run_jvm, which then stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    started = time.time()

    work = work_dir()
    os.makedirs(work, exist_ok=True)
    classes = build.build(work)
    corpus_dir = ensure_corpus(work)
    runner = catalogue_run if args.workload == "catalogue" else gateway_run
    ops, reasons, e2e, layers, info = runner(args, work, classes, corpus_dir)

    units = {**END_TO_END, **PER_LAYER}
    chosen = layers if args.trace else e2e
    metrics = {k: {"value": float(v), "unit": units[k]} for k, v in chosen.items()}
    result = {"correct": not reasons and len(ops) > 0, "attempted": len(ops),
              "failed": len(reasons), "metrics": metrics}
    info["wall_s"] = time.time() - started
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "time": time.time(), "info": info,
              "end_to_end": e2e, "per_layer": layers, "result": result}
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results", "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: {info['samples']} samples, "
          f"{info['tail_beyond_p95']} beyond p95, window {info['window_s']:.1f} s, "
          f"setup {e2e['setup_s']:.2f} s, "
          f"phases {info.get('phases_s', {})}, wall {info['wall_s']:.1f} s")
    for reason in info["failures"]:
        print(f"# failed: {reason}")
    for k, v in metrics.items():
        print(f"# {k:32s} {v['value']:14.4f} {v['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
