"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/steady.py --workload gw_window_agg --seeds 1-10

Runs `perfbench/run.py` once per seed, as separate processes, and prints for
each metric its median, its quartile spread (inter-quartile distance as a
share of the median) and the bound from BENCHMARK.json. A spread at or above
a third of its bound is marked: the benchmark is meant to stay below that.
Each run's record also lands in <work>/results/runs.jsonl.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.bench) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, failed = {}, 0
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", "0"],
            stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}")
            failed += 1
            continue
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        failed += result["failed"] > 0 or not result["correct"]
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':32s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        sp, bound = stats.spread(xs), bounds.get(k)
        mark = " <-- over bound/3" if bound and sp >= bound / 3 else ""
        print(f"{k:32s} {statistics.median(xs):12.4f} {sp:8.4f} {bound if bound else '-':>6}{mark}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
