#!/usr/bin/env python3
"""Dev tool: alternating parent/change pairs of one perfbench workload.

Usage: python3 tools/benchpairs.py --parent DIR --change DIR --workload W
           --pairs N [--seed-start S]

DIR is the root of a graft checkout (for the parent, a `git clone` or
`git archive` of the parent commit). Pair i runs seed S + i on both
sides with

    python3 perfbench/run.py --workload W --seed s --seconds 10 --trace 0

in each checkout; the parent runs first on odd seeds, the change on even
ones. Only the last stdout line of run.py (its JSON result) is read; a
run that prints none counts as failed. The first run in a checkout also
builds it (run.py's own sbt build, outside the timed metrics).

Prints every run's four end-to-end metrics, then per metric and side the
median and quartiles (inclusive method), the pairs the change wins
(lower is better, ties count for neither), and whether the gain rule
holds: the change wins at least 9/10 of the pairs and its median is
below the parent's by more than the parent's interquartile range.
"""
import argparse
import json
import statistics
import subprocess
import sys

METRICS = ["setup_s", "pass_s", "cpu_s", "heap_live_mb"]


def run(checkout, workload, seed):
    """One untraced run; returns run.py's result dict, or None."""
    p = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "10", "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed-start", type=int, default=1)
    a = ap.parse_args()

    sides = {"parent": a.parent, "change": a.change}
    vals = {s: {m: [] for m in METRICS} for s in sides}
    pairs = []
    bad = 0
    for seed in range(a.seed_start, a.seed_start + a.pairs):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        got = {}
        for side in order:
            r = run(sides[side], a.workload, seed)
            ok = bool(r) and r.get("correct") and r.get("failed") == 0
            if r:
                got[side] = {m: r["metrics"][m]["value"] for m in METRICS}
            bad += not ok
            shown = " ".join(f"{m}={got[side][m]:.4f}" for m in METRICS) if r else "no result"
            extra = "" if not r else f" correct={r.get('correct')} failed={r.get('failed')}"
            print(f"seed {seed} {side:6s} {shown}{extra}", flush=True)
        if len(got) == 2:
            pairs.append(got)
            for side in sides:
                for m in METRICS:
                    vals[side][m].append(got[side][m])

    n = len(pairs)
    print(f"\n{a.workload}: {n} complete pairs, {bad} runs incorrect, failed or missing")
    if not n:
        sys.exit(1)
    for m in METRICS:
        pm, cm = statistics.median(vals["parent"][m]), statistics.median(vals["change"][m])
        pq, cq = quartiles(vals["parent"][m]), quartiles(vals["change"][m])
        wins = sum(p["change"][m] < p["parent"][m] for p in pairs)
        iqr = pq[1] - pq[0]
        holds = wins >= 0.9 * n and pm - cm > iqr
        print(f"{m:13s} parent {pm:.4f} [{pq[0]:.4f}, {pq[1]:.4f}]  "
              f"change {cm:.4f} [{cq[0]:.4f}, {cq[1]:.4f}]  "
              f"change/parent {cm / pm:.3f}  wins {wins}/{n}  "
              f"gap {pm - cm:+.4f} vs parent IQR {iqr:.4f}  gain rule {'holds' if holds else 'fails'}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
