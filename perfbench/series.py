"""Steadiness series: run workloads on several seeds and report each
end-to-end metric's spread against its bound in BENCHMARK.json.

Usage, from the repository root:
  python3 perfbench/series.py [--workloads a,b] [--runs 10] [--first-seed 1] [--out file.json]

Spread is the distance between the first and third quartile of the runs'
values (statistics.quantiles(values, n=4)) as a share of their median. A
metric is steady when its spread is within its bound, and comfortably so
below a third of it. Every metric, set-up time included, is flagged
against its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    for w in a.workloads.split(","):
        values, walls = {m: [] for m in bounds}, []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{p.stdout}\n{p.stderr[-3000:]}")
            result = json.loads(p.stdout.strip().split("\n")[-1])
            if not result["correct"]:
                sys.exit(f"{w} seed {seed}: output check failed\n{p.stdout}")
            for m in bounds:
                values[m].append(result["metrics"][m]["value"])
            print(f"{w} seed {seed} wall {walls[-1]:.1f} s " +
                  " ".join(f"{m}={values[m][-1]:.4g}" for m in bounds), flush=True)
        summary[w] = {"wall_s": walls, "metrics": {}}
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            summary[w]["metrics"][m] = {"values": vs, "median": med, "spread": spread}
            flag = ("ok" if spread <= bounds[m] / 3 else
                    "WIDE" if spread <= bounds[m] else "OVER BOUND")
            print(f"  {w} {m}: median {med:.4g} spread {spread:.4f} bound {bounds[m]} {flag}")
        print(f"  {w} wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
