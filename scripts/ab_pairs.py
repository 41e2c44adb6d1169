#!/usr/bin/env python3
"""Paired A/B runs of ``perfbench/run.py`` from two checkouts.

    python3 scripts/ab_pairs.py --parent ../parent --change . --pairs 10 \\
        --seed 101 --workloads lake_daily,sql_analytics --seconds 10

Pair ``i`` runs both checkouts on seed ``seed + i``; the side that runs first
alternates from pair to pair, so a drift of the host's speed during the
session loads both sides alike. Each run is the benchmark's own command
(one fresh process), its last stdout line parsed as the result JSON.

Per workload and metric it prints each side's median, the parent's
quartiles and their distance (IQR), the change's median delta, how many
pairs the change won (strictly better than its paired parent run; ties count
for neither side) and every run. A gain is claimed when the change wins at
least nine tenths of the pairs and the medians differ by more than the
parent's IQR. Metric directions come from the change's ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: {' '.join(cmd)} exited {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def directions(checkout: str) -> dict[str, str]:
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec.get("per_layer", [])}


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def summarize(runs: list[dict], better: dict[str, str]) -> list[dict]:
    """One row per metric over the pairs in ``runs``."""
    rows = []
    for name in runs[0]["parent"]["metrics"]:
        p = [r["parent"]["metrics"][name]["value"] for r in runs]
        c = [r["change"]["metrics"][name]["value"] for r in runs]
        sign = 1 if better.get(name, "lower") == "lower" else -1
        q1, q3 = quartiles(p)
        pm, cm = statistics.median(p), statistics.median(c)
        wins = sum(sign * (b - a) < 0 for a, b in zip(p, c))
        rows.append({
            "metric": name,
            "better": better.get(name, "lower"),
            "parent_median": pm,
            "parent_q1": q1,
            "parent_q3": q3,
            "parent_iqr": q3 - q1,
            "change_median": cm,
            "delta_pct": 100.0 * (cm - pm) / pm if pm else None,
            "wins": wins,
            "pairs": len(runs),
            "claim_holds": wins >= 0.9 * len(runs) and sign * (pm - cm) > q3 - q1,
            "parent_runs": p,
            "change_runs": c,
        })
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=101, help="seed of the first pair")
    ap.add_argument("--workloads", default="lake_daily")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)

    better = directions(args.change)
    for workload in args.workloads.split(","):
        runs = []
        for i in range(args.pairs):
            seed = args.seed + i
            sides = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {"seed": seed, "first": sides[0]}
            for side in sides:
                pair[side] = run_once(getattr(args, side), workload, seed, args.seconds, args.trace)
            runs.append(pair)
            bad = [s for s in ("parent", "change") if not pair[s]["correct"] or pair[s]["failed"]]
            print(f"{workload} pair {i + 1}/{args.pairs} seed {seed}"
                  + (f"  FAILED OPS: {bad}" if bad else ""), file=sys.stderr, flush=True)
        rows = summarize(runs, better)
        print(f"\n== {workload}: {args.pairs} pairs, seeds {args.seed}..{args.seed + args.pairs - 1}, "
              f"--seconds {args.seconds} --trace {args.trace}")
        print(f"{'metric':<28} {'parent med':>11} {'q1':>9} {'q3':>9} {'iqr':>8} "
              f"{'change med':>11} {'delta':>8} {'wins':>6}  claim")
        for r in rows:
            delta = f"{r['delta_pct']:+.1f}%" if r["delta_pct"] is not None else "n/a"
            print(f"{r['metric']:<28} {r['parent_median']:>11.4g} {r['parent_q1']:>9.4g} "
                  f"{r['parent_q3']:>9.4g} {r['parent_iqr']:>8.3g} {r['change_median']:>11.4g} "
                  f"{delta:>8} {r['wins']:>3}/{r['pairs']:<2}  {'yes' if r['claim_holds'] else 'no'}")
        for r in rows:
            print(f"  {r['metric']}: parent {[round(x, 4) for x in r['parent_runs']]}")
            print(f"  {' ' * len(r['metric'])}  change {[round(x, 4) for x in r['change_runs']]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
