#!/usr/bin/env python3
"""Alternating A/B pairs of the graft benchmark between two checkouts.

    python3 tools/ab_pairs.py --parent <checkout> --change <checkout> \
        --workload crawl --pairs 10 --seed0 N [--out runs.json]

Pair i runs `graftbench/run.py --trace 0` with seed N+i in both checkouts:
the parent first in even pairs, the change first in odd ones. For every
end-to-end metric of BENCHMARK.json it prints each side's median and
quartiles and the number of pairs the change won (ties count for neither
side). It then prints whether the gain rule holds for that metric: the
change wins at least 9 of 10 pairs, and the medians differ in the
metric's better direction by more than the parent's quartile distance.
It exits 1 if any run reports `correct: false` or gives no result.
Only BENCHMARK.json and graftbench/ of each checkout are read.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; its result JSON, or None when it printed none."""
    cmd = [sys.executable, os.path.join(checkout, "graftbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def quartiles(xs):
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--out", help="write every run's result to this JSON file")
    a = ap.parse_args()

    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["end_to_end"]
    sides = {"parent": a.parent, "change": a.change}
    runs = []  # per pair: seed, side run first, each side's result or None
    bad = 0
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"pair": i, "seed": seed, "first": order[0]}
        for side in order:
            r = run_once(sides[side], a.workload, seed, spec["run_seconds"])
            ok = r is not None and r.get("correct") is True
            pair[side] = r if ok else None
            bad += not ok
            shown = {m["name"]: r["metrics"][m["name"]]["value"]
                     for m in metrics} if ok else None
            print(f"pair {i} seed {seed} {side:6s} correct={ok} {shown}",
                  flush=True)
        runs.append(pair)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)

    complete = [p for p in runs if p["parent"] and p["change"]]
    print(f"\n{a.workload}: {len(complete)} complete pairs of {a.pairs}")
    need = math.ceil(0.9 * len(complete))
    for m in metrics if complete else []:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["metrics"][name]["value"] for p in complete]
        chg = [p["change"]["metrics"][name]["value"] for p in complete]
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        gap = (pmed - cmed) if lower else (cmed - pmed)
        holds = wins >= need and gap > pq3 - pq1
        rel = (cmed - pmed) / pmed if pmed else float("nan")
        print(f"  {name:12s} parent {pmed:10.3f} [{pq1:.3f}, {pq3:.3f}]"
              f"  change {cmed:10.3f} [{cq1:.3f}, {cq3:.3f}]"
              f"  ({rel:+.1%})  change won {wins}/{len(complete)}"
              f"  gain rule {'holds' if holds else 'does not hold'}"
              f" (needs >= {need} wins and gap {gap:.3f} > parent IQR {pq3 - pq1:.3f})")
    if bad:
        print(f"{bad} run(s) reported correct: false or no result")
        sys.exit(1)


if __name__ == "__main__":
    main()
