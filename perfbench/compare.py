#!/usr/bin/env python3
"""Paired comparison of a parent and a change checkout.

    python3 perfbench/compare.py --parent DIR --change DIR
        [--workloads a,b] [--pairs 10] [--first-seed 101]

Each pair runs both checkouts on the same fresh seed, alternating which
side runs first. Per workload and end-to-end metric it prints both
sides' median and quartiles and a verdict:
  gain       the change wins at least 9 of 10 pairs (ties count for
             neither) and the medians differ by more than the parent's
             own quartile spread;
  regressed  the change's median is worse than the parent's by more
             than the metric's bound;
  unresolved the parent's own spread is wider than the bound and not
             every change run beats every parent run;
  same       none of the above.
Both checkouts need BENCHMARK.json and perfbench/ (each builds itself on
its first run).
"""
import argparse
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from steady import quartiles, run_once, spec  # noqa: E402


def verdict(p, c, better, bound):
    sign = 1 if better == "higher" else -1
    wins = sum(1 for x, y in zip(p, c) if sign * (y - x) > 0)
    q1, pm, q3 = quartiles(p)
    cm = statistics.median(c)
    if wins >= 0.9 * len(p) and abs(cm - pm) > q3 - q1:
        return "gain", wins
    if sign * (cm - pm) < -bound * pm:
        return "regressed", wins
    if (q3 - q1) / pm > bound and not all(
            sign * (y - x) > 0 for x in p for y in c):
        return "unresolved", wins
    return "same", wins


def main():
    s = spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in s["workloads"]))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    a = ap.parse_args()
    metrics = {m["name"]: m for m in s["end_to_end"]}
    for w in a.workloads.split(","):
        runs = {"parent": [], "change": []}
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change",
                                                              "parent")
            for side in order:
                res, _ = run_once(getattr(a, side), w, seed,
                                  s["run_seconds"], 0)
                runs[side].append(res)
        shares = {side: sorted({r["failed"] / r["attempted"] for r in rs})
                  for side, rs in runs.items()}
        print(f"\n{w}: {a.pairs} pairs; failed share parent "
              f"{shares['parent']} change {shares['change']}; correct "
              f"parent {all(r['correct'] for r in runs['parent'])} change "
              f"{all(r['correct'] for r in runs['change'])}")
        for k, m in metrics.items():
            p = [r["metrics"][k]["value"] for r in runs["parent"]]
            c = [r["metrics"][k]["value"] for r in runs["change"]]
            v, wins = verdict(p, c, m["better"], m["bound"])
            pq, cq = quartiles(p), quartiles(c)
            print(f"  {k:20s} parent {pq[1]:10.4f} [{pq[0]:.4f}, "
                  f"{pq[2]:.4f}]  change {cq[1]:10.4f} [{cq[0]:.4f}, "
                  f"{cq[2]:.4f}]  wins {wins}/{a.pairs}  {v}")


if __name__ == "__main__":
    main()
