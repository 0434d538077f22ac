#!/usr/bin/env python3
"""Steadiness check for the perfbench end-to-end metrics.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1,2] \
        [--repeat 2] [--seconds 10] [--out results.json]

Runs perfbench/run.py (tracing off) for every workload, seed and repeat,
then prints each end-to-end metric's median, first and third quartile
(statistics.quantiles, n=4) and spread = (q3 - q1) / median, flagging
every metric whose spread exceeds its bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--out")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results = {}
    flagged = 0
    for w in a.workloads.split(","):
        runs = []
        for seed in seeds:
            for _ in range(a.repeat):
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"),
                     "--workload", w, "--seed", str(seed),
                     "--seconds", str(a.seconds), "--trace", "0"],
                    cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                    text=True)
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or not lines:
                    print(f"{w} seed {seed}: run failed ({p.returncode})")
                    continue
                r = json.loads(lines[-1])
                r["seed"] = seed
                runs.append(r)
                print(f"{w} seed {seed}: correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']} " + " ".join(
                          f"{k}={v['value']:.4g}"
                          for k, v in r["metrics"].items()), flush=True)
        results[w] = runs
        if len(runs) < 2:
            continue
        print(f"\n{w}: {len(runs)} runs")
        print(f"  {'metric':16s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>8s} {'bound':>6s}")
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = spread > bounds[m]
            flagged += flag
            print(f"  {m:16s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{spread:8.3f} {bounds[m]:6.2f}"
                  f"{'  SPREAD > BOUND' if flag else ''}")
        print()
    if a.out:
        with open(a.out, "w") as f:
            json.dump(results, f, indent=1)
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
