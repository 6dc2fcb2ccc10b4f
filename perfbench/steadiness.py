#!/usr/bin/env python3
"""Steadiness check for the graft benchmark.

Usage (from the root of a graft checkout):
  python3 perfbench/steadiness.py [--runs 10] [--first-seed 1]

Runs each workload --runs times, each with another seed, and prints for
every end-to-end metric the median, the quartiles (Python's
statistics.quantiles(values, n=4)) and the spread (q3 - q1) / median
against the metric's bound in BENCHMARK.json. Then runs the traced
schedule twice with the first seed per workload and checks that every
per-span `jobs` count repeats exactly, and prints the traced run's
end-to-end numbers beside the untraced medians (the tracing overhead).
Exits non-zero when a run fails, a spread exceeds its bound, or a job
count differs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:] + p.stdout[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    bad = False
    for w in (x["name"] for x in bench["workloads"]):
        values = {m: [] for m in bounds}
        for i in range(a.runs):
            detail, res = run(w, a.first_seed + i, bench["run_seconds"], 0)
            print(f"{w} seed {a.first_seed + i}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
        medians = {}
        print(f"\n{w}: {'metric':<22}{'median':>12}{'q1':>12}{'q3':>12}"
              f"{'spread':>9}{'bound':>7}")
        for m, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            medians[m] = med
            spread = (q3 - q1) / med
            flag = "" if spread <= bounds[m] / 3 else (
                "  > bound/3" if spread <= bounds[m] else "  > BOUND")
            bad |= spread > bounds[m]
            print(f"{w}: {m:<22}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}"
                  f"{spread:>9.3f}{bounds[m]:>7.2f}{flag}")
        runs = [run(w, a.first_seed, bench["run_seconds"], 1) for _ in range(2)]
        jobs = [{k: v["value"] for k, v in r[1]["metrics"].items() if k.endswith(".jobs")}
                for r in runs]
        diff = {k: (jobs[0][k], jobs[1].get(k)) for k in jobs[0] if jobs[0][k] != jobs[1].get(k)}
        print(f"{w}: per-span jobs over two traced runs of seed {a.first_seed}: "
              + ("identical" if not diff else f"DIFFER {diff}"))
        bad |= bool(diff)
        traced = runs[0][0]["end_to_end"]
        print(f"{w}: traced run end-to-end (tracing overhead vs untraced median): " +
              ", ".join(f"{m}={traced[m]:.4g} ({traced[m] / medians[m]:.2f}x)"
                        for m in bounds))
        print()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
