#!/usr/bin/env python3
"""Stability runner: how much each end-to-end metric spreads across seeds.

    python3 perfbench/stability.py [--runs 10] [--sets 1] [--workloads a,b]

Runs ``perfbench/run.py`` (tracing off) ``--runs`` times per workload, each
time with another seed, and reports per metric the median and the spread:
the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. With
``--sets 2`` it repeats the whole sweep and also reports how far the second
set's median moved from the first's, in the metric's worse direction.

A spread above the metric's bound in BENCHMARK.json, or a median that
moved by more than the bound, is flagged and makes the exit code 1; a run
that fails its output checks or exits non-zero does too. ``setup_s`` is
held to its bound like every other metric.
Use it to set the bounds from measured spread. Run from the repository
root.
"""
import argparse
import json
import statistics
import subprocess
import sys


def run_once(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        return None
    return json.loads(lines[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = ([w for w in a.workloads.split(",") if w] or
                 [w["name"] for w in spec["workloads"]])
    bad = False
    for w in workloads:
        medians = []
        for s in range(a.sets):
            vals = {m["name"]: [] for m in spec["end_to_end"]}
            for i in range(a.runs):
                seed = a.first_seed + s * a.runs + i
                res = run_once(w, seed, spec["run_seconds"])
                if res is None or not res["correct"]:
                    print(f"{w} seed {seed}: run failed or incorrect: {res}")
                    bad = True
                    continue
                for k, v in res["metrics"].items():
                    vals[k].append(v["value"])
                print(f"{w} set {s + 1} seed {seed}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                    flush=True)
            medians.append({})
            for m in spec["end_to_end"]:
                xs = vals[m["name"]]
                if len(xs) < 2:
                    bad = True
                    continue
                sp = spread(xs)
                med = statistics.median(xs)
                medians[-1][m["name"]] = med
                flag = ""
                if sp > m["bound"]:
                    flag, bad = "  OVER BOUND", True
                elif sp > m["bound"] / 3:
                    flag = "  above bound/3"
                print(f"  {w} set {s + 1} {m['name']:>18}: median {med:.4g} "
                      f"{m['unit']}, spread {sp:.3f} (bound {m['bound']})"
                      f"{flag}", flush=True)
        if a.sets == 2:
            for m in spec["end_to_end"]:
                n = m["name"]
                if n not in medians[0] or n not in medians[1]:
                    continue
                m0, m1 = medians[0][n], medians[1][n]
                worse = (m1 - m0) / m0 if m["better"] == "lower" else (m0 - m1) / m0
                flag = ""
                if worse > m["bound"]:
                    flag, bad = "  OVER BOUND", True
                print(f"  {w} {n:>18}: set-2 median worse by {worse:+.3f} "
                      f"(bound {m['bound']}){flag}", flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
