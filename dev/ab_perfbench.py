#!/usr/bin/env python3
"""A/B comparison of two checkouts on one benchmark workload.

Usage:
  python3 dev/ab_perfbench.py <parent-dir> <change-dir> --workload W --pairs N --seed0 S

Runs `perfbench/run.py` (untraced, at the `run_seconds` of the change's
BENCHMARK.json) from each checkout in turn, pair i on seed S+i for both
sides, alternating which side runs first. Each run's metrics are printed
as it finishes. The summary gives, for every end-to-end metric of
BENCHMARK.json, each side's median and quartiles and the number of pairs
the change won (ties count for neither side). A gain holds when the change
wins at least nine tenths of the pairs and the medians differ by more
than the parent's interquartile range.

The benchmark itself is only invoked, never modified. Runs that fail or
report incorrect output are listed and left out of the pairs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = None
    if p.returncode != 0 or res is None or not res.get("correct"):
        return None, "\n".join(lines[-20:])
    return {k: v["value"] for k, v in res["metrics"].items()}, None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}

    pairs, failed = [], []
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            vals, err = run_once(sides[side], args.workload, seed, seconds)
            if vals is None:
                failed.append((i, seed, side))
                print(f"pair {i} seed {seed} {side}: FAILED\n{err}", flush=True)
                continue
            got[side] = vals
            shown = " ".join(f"{m['name']}={vals[m['name']]:.4g}" for m in metrics)
            print(f"pair {i} seed {seed} {side}: {shown}", flush=True)
        if len(got) == 2:
            pairs.append(got)

    print(f"\n{args.workload}: {len(pairs)} complete pairs of {args.pairs}, "
          f"run_seconds={seconds}, {len(failed)} failed runs")
    if not pairs:
        return 1
    print(f"{'metric':<20} {'parent median [q1, q3]':<32} {'change median [q1, q3]':<32} "
          f"{'wins':<7} {'ratio':<7} gain")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"][name] for p in pairs]
        chg = [p["change"][name] for p in pairs]
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        (pq1, pq3), (cq1, cq3) = quartiles(par), quartiles(chg)
        pm, cm = statistics.median(par), statistics.median(chg)
        better = (cm < pm) if lower else (cm > pm)
        gain = wins >= 0.9 * len(pairs) and better and abs(cm - pm) > (pq3 - pq1)
        ratio = cm / pm if pm else float("nan")
        print(f"{name:<20} {f'{pm:.4g} [{pq1:.4g}, {pq3:.4g}]':<32} "
              f"{f'{cm:.4g} [{cq1:.4g}, {cq3:.4g}]':<32} "
              f"{f'{wins}/{len(pairs)}':<7} {ratio:<7.3f} {'yes' if gain else 'no'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
