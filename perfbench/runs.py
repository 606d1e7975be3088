"""Run the benchmark over several seeds and summarize each metric's
median, quartiles and spread (inter-quartile distance over the median)
against its bound in BENCHMARK.json — the figures the README reports.

    python3 perfbench/runs.py --workload viewer-pan --seeds 1-10
"""
import argparse
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import run  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    results, walls = [], []
    for s in seeds(a.seeds):
        t = time.monotonic()
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             a.workload, "--seed", str(s), "--seconds", str(a.seconds),
             "--trace", str(a.trace)], stdout=subprocess.PIPE, text=True)
        walls.append(time.monotonic() - t)
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}")
            continue
        results.append(json.loads(p.stdout.strip().splitlines()[-1]))
        print(f"seed {s}: {walls[-1]:.0f} s {json.dumps(results[-1])}", flush=True)
    if len(results) < 2:
        return 1
    bounds = {m["name"]: m.get("bound", "") for m in
              bench["end_to_end"] + bench["per_layer"]}
    print(f"\n{a.workload}: {len(results)} runs of {a.seconds} s, "
          f"wall per run {run.median(walls):.0f} s (max {max(walls):.0f} s), "
          f"attempted {[r['attempted'] for r in results]}, "
          f"failed {sum(r['failed'] for r in results)}, "
          f"all correct: {all(r['correct'] for r in results)}\n")
    print("| metric | unit | median | q1 | q3 | spread | bound |")
    print("|---|---|---|---|---|---|---|")
    for k in sorted(results[0]["metrics"]):
        v = [r["metrics"][k]["value"] for r in results]
        q1, m, q3 = run.quartiles(v)
        sp = f"{run.spread(v):.3f}" if m > 0 else "—"
        print(f"| `{k}` | {results[0]['metrics'][k]['unit']} | {m:.4g} | "
              f"{q1:.4g} | {q3:.4g} | {sp} | {bounds.get(k, '')} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
