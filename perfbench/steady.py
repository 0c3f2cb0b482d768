#!/usr/bin/env python3
"""Steadiness: repeat each workload over several seeds and print, per
metric, the median, the quartiles and their spread (IQR / median) next
to the metric's bound from BENCHMARK.json. The bounds are set from
these figures: every spread but setup_s's should stay under a third of
its bound.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 10]
        [--first-seed 1] [--trace 0|1]
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


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout, workload, seed, seconds, trace):
    """One run of the benchmark in `checkout`: (result dict, wall s)."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True, timeout=1000)
    wall = time.time() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:"
                           f"\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    # the figures printed above the result line ("<workload> <name>
    # <value> <unit>"), for the breakdown's spreads
    res["printed"] = {}
    for ln in lines[:-1]:
        f = ln.split()
        if len(f) >= 3 and f[0] == workload:
            try:
                res["printed"][f[1]] = float(f[2])
            except ValueError:
                pass
    return res, wall


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    s = spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in s["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in s["end_to_end"]}
    for w in a.workloads.split(","):
        values, walls, shares, correct = {}, [], [], True
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            res, wall = run_once(ROOT, w, seed, s["run_seconds"], a.trace)
            walls.append(wall)
            correct &= res["correct"]
            shares.append(res["failed"] / res["attempted"])
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            for k, v in res["printed"].items():
                if k not in res["metrics"]:
                    values.setdefault("(printed) " + k, []).append(v)
            print(f"# {w} seed {seed}: {wall:.1f} s wall, "
                  f"correct={res['correct']}", file=sys.stderr, flush=True)
        wall_med = statistics.median(walls)
        print(f"\n{w}: {a.seeds} runs, correct={correct}, failed share "
              f"{sorted(set(shares))}, wall median {wall_med:.1f} s, "
              f"max {max(walls):.1f} s")
        print(f"  {'metric':30s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>8s} {'bound':>6s}")
        for k, xs in values.items():
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(k)
            flag = "" if b is None or k == "setup_s" or spread < b / 3 \
                else "  <-- over a third of the bound"
            print(f"  {k:30s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{spread:8.3f} {b if b is not None else '':>6}{flag}")


if __name__ == "__main__":
    main()
