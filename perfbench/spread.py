#!/usr/bin/env python3
"""Run-to-run spread of the benchmark: median and quartiles over seeds.

    python3 perfbench/spread.py --runs 10 [--first-seed 1] [--trace 0] [workload ...]

Runs perfbench/run.py once per seed for each workload (all workloads by
default) and prints, per metric, the median and quartiles of the per-run
values (statistics.quantiles(n=4)) and the spread (q3 - q1) / median next to
the metric's bound from BENCHMARK.json. Exits non-zero if a run fails or an
end-to-end spread exceeds its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    ok = True
    for wl in names:
        values, walls = {}, []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t = time.monotonic()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True)
            walls.append(time.monotonic() - t)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else None
            if p.returncode != 0 or not res or not res["correct"]:
                print(f"{wl} seed {seed}: FAILED (exit {p.returncode})\n{p.stderr[-2000:]}")
                ok = False
                continue
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"== {wl}: {len(walls)} runs, wall per run median {statistics.median(walls):.1f} s"
              f" (max {max(walls):.1f} s)")
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / q2 if q2 else float("inf")
            b = bounds.get(k)
            flag = ""
            if b is not None:
                flag = f"bound {b}" + (" OVER" if spread > b else
                                       " (< bound/3)" if spread < b / 3 else "")
                ok &= spread <= b
            print(f"   {k:<26} median {q2:.4f}  q1 {q1:.4f}  q3 {q3:.4f}  "
                  f"spread {spread:.4f}  {flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
