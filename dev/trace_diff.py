#!/usr/bin/env python3
"""Per-layer metrics of two checkouts, side by side.

Usage:
  python3 dev/trace_diff.py <parent-dir> <change-dir> --workload W --seed S

Runs one traced benchmark (`perfbench/run.py --trace 1`, at the
`run_seconds` of the change's BENCHMARK.json) from each checkout in turn,
then prints every per-layer metric of either run: the parent's value,
the change's, the difference and the ratio. A change must not alter
what the pipeline writes, so any difference in an `scd2.*` (SCD2
versions opened, closed, deleted) or `jdbc.*` (rows extracted) metric is
flagged. Exits 1 if a run failed or reported incorrect output, or if a
flagged metric differs; 0 otherwise.

The benchmark itself is only invoked, never modified.
"""
import argparse
import json
import os
import subprocess
import sys

MUST_MATCH = ("scd2.", "jdbc.")


def traced_run(checkout, workload, seed, seconds):
    """(metrics by name, correct, failed count, last output lines)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return None, False, None, "\n".join(lines[-20:])
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    return metrics, bool(res.get("correct")), res.get("failed"), "\n".join(lines[-6:-1])


def fmt(v):
    return "-" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    runs = {}
    ok = True
    for side, checkout in (("parent", args.parent), ("change", args.change)):
        metrics, correct, failed, tail = traced_run(
            os.path.abspath(checkout), args.workload, args.seed, seconds)
        print(f"== {side} ({checkout}): correct={correct} failed={failed}\n{tail}", flush=True)
        if metrics is None or not correct:
            ok = False
        runs[side] = metrics or {}

    par, chg = runs["parent"], runs["change"]
    names = list(par) + [n for n in chg if n not in par]
    print(f"\n{args.workload} seed={args.seed} run_seconds={seconds}")
    print(f"{'metric':<44} {'parent':>14} {'change':>14} {'diff':>14} {'ratio':>8}")
    flagged = []
    for n in names:
        p, c = par.get(n), chg.get(n)
        diff = c - p if p is not None and c is not None else None
        ratio = f"{c / p:.3f}" if diff is not None and p else "-"
        flag = ""
        if n.startswith(MUST_MATCH) and p != c:
            flag = "  <-- must match"
            flagged.append(n)
        print(f"{n:<44} {fmt(p):>14} {fmt(c):>14} {fmt(diff):>14} {ratio:>8}{flag}")
    for prefix in MUST_MATCH:
        shown = [n for n in names if n.startswith(prefix)]
        state = "DIFFER" if any(n in flagged for n in shown) else "identical"
        print(f"{prefix}* ({len(shown)} metrics): {state}")
    return 0 if ok and not flagged else 1


if __name__ == "__main__":
    sys.exit(main())
