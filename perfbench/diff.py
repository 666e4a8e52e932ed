"""Compare two benchmark artifacts and name what got worse.

    python3 perfbench/diff.py BEFORE.jsonl AFTER.jsonl [--bench BENCHMARK.json]

An artifact is a file of run records as `perfbench/run.py` appends them to
<work>/results/runs.jsonl: one JSON object per line (a JSON list of them is
accepted too). Runs are grouped by workload; each metric is the median over
the group's runs. The script names

  * every (workload, end-to-end metric) whose AFTER median is worse than the
    BEFORE median by more than the metric's bound in BENCHMARK.json, and
  * every watched per-layer count (spark.jobs_per_op,
    spark.shuffle_bytes_per_op, sharing.cache_builds_per_op, memo.misses)
    whose AFTER median exceeds the BEFORE median by more than
    COUNT_TOLERANCE (2 %, since per-op counts average over whichever ops a
    window holds).

It also prints each artifact's tracing overhead: the traced runs' own
throughput and p50 latency against the untraced runs'. Exits 1 when anything
was named, 0 otherwise.
"""

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WATCHED_COUNTS = ["spark.jobs_per_op", "spark.shuffle_bytes_per_op",
                  "sharing.cache_builds_per_op", "memo.misses"]
COUNT_TOLERANCE = 0.02


def load(path):
    with open(path) as f:
        text = f.read().strip()
    if text.startswith("["):
        return json.loads(text)
    return [json.loads(line) for line in text.splitlines() if line.strip()]


def medians(records, key):
    """{workload: {metric: median}} over the records that carry `key`
    (end_to_end for every run, per_layer for traced runs)."""
    by = {}
    for r in records:
        if key == "end_to_end" and r.get("trace"):
            continue
        for k, v in (r.get(key) or {}).items():
            by.setdefault(r["workload"], {}).setdefault(k, []).append(v)
    return {w: {k: statistics.median(vs) for k, vs in ms.items()} for w, ms in by.items()}


def worse_by(before, after, better):
    """Share by which `after` is worse than `before` (negative if better)."""
    if before == 0:
        return 0.0 if after == before else float("inf")
    change = (after - before) / abs(before)
    return change if better == "lower" else -change


def compare(before, after, bench, count_tolerance=COUNT_TOLERANCE):
    """Return a list of (kind, workload, metric, before, after, share) findings."""
    found = []
    e2e_a, e2e_b = medians(before, "end_to_end"), medians(after, "end_to_end")
    for w in sorted(set(e2e_a) & set(e2e_b)):
        for m in bench["end_to_end"]:
            name = m["name"]
            if name in e2e_a[w] and name in e2e_b[w]:
                share = worse_by(e2e_a[w][name], e2e_b[w][name], m["better"])
                if share > m["bound"]:
                    found.append(("REGRESSION", w, name, e2e_a[w][name], e2e_b[w][name], share))
    pl_a, pl_b = medians(before, "per_layer"), medians(after, "per_layer")
    for w in sorted(set(pl_a) & set(pl_b)):
        for name in WATCHED_COUNTS:
            if name in pl_a[w] and name in pl_b[w]:
                share = worse_by(pl_a[w][name], pl_b[w][name], "lower")
                if share > count_tolerance:
                    found.append(("GREW", w, name, pl_a[w][name], pl_b[w][name], share))
    return found


def overhead(records):
    """{workload: (throughput share lost, p50 share added)} from the traced
    runs against the untraced runs of the same artifact."""
    plain = medians(records, "end_to_end")
    traced = medians(records, "per_layer")
    out = {}
    for w in sorted(set(plain) & set(traced)):
        p, t = plain[w], traced[w]
        if "trace.throughput_ops_s" in t and p.get("throughput_ops_s"):
            out[w] = (1 - t["trace.throughput_ops_s"] / p["throughput_ops_s"],
                      t["trace.latency_p50_ms"] / p["latency_p50_ms"] - 1)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.bench) as f:
        bench = json.load(f)
    before, after = load(args.before), load(args.after)
    for label, recs in (("before", before), ("after", after)):
        for w, (tput, p50) in overhead(recs).items():
            print(f"tracing overhead ({label}) {w}: throughput {-tput:+.1%}, p50 {p50:+.1%}")
    found = compare(before, after, bench)
    for kind, w, name, a, b, share in found:
        print(f"{kind} {w} {name}: {a:.4g} -> {b:.4g} (worse by {share:.1%})")
    if not found:
        print("no metric outside its bound, no watched count grew")
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main())
