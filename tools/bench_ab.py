"""Paired A/B of two checkouts on the perfbench workloads.

Runs ``perfbench/run.py --trace 0`` in a parent checkout and in a change
checkout, one run of each per (workload, seed) pair, and prints every
pair's ``pass_cpu_s`` and ``setup_s``, the medians of both sides with the
parent's interquartile range, and the number of pairs the change won
(lower is better for both metrics). The two runs of a pair are
interleaved, and the side that runs first alternates from pair to pair,
so drift on a shared host falls on both sides alike. A run that fails or
reports no figure is printed and left out of that metric's pairs.

    python3 tools/bench_ab.py --parent ../parent --change . \\
        --workloads analytics,pipeline --seeds 1,2,3,4,5

Each checkout runs its own ``perfbench/`` against its own engine, from its
own root, one run at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

METRICS = ("pass_cpu_s", "setup_s")
SECONDS = 5  # perfbench --seconds, the run length every documented A/B uses


def run_once(root: str, workload: str, seed: int) -> dict:
    """The metric values of one ``perfbench/run.py`` run in ``root``
    (empty when the run failed or its checks did not hold)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        print(f"    {root}: exit {proc.returncode}, no JSON line; stderr tail: "
              f"{proc.stderr.strip()[-300:]}", flush=True)
        return {}
    if not out.get("correct"):
        print(f"    {root}: failed {out.get('failed')}/{out.get('attempted')} ops", flush=True)
    return {k: m["value"] for k, m in out.get("metrics", {}).items()} if out.get("correct") else {}


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workloads", default="analytics,pipeline")
    ap.add_argument("--seeds", default="1,2,3,4,5", help="comma-separated; one pair per seed")
    args = ap.parse_args(argv)
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    seeds = [int(s) for s in args.seeds.split(",")]

    summary = {}
    for workload in args.workloads.split(","):
        pairs = []
        for i, seed in enumerate(seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {side: run_once(sides[side], workload, seed) for side in order}
            pairs.append(got)
            print(f"{workload} seed {seed} (first: {order[0]}): " + "; ".join(
                f"{m} {got['parent'].get(m, float('nan')):.2f} -> {got['change'].get(m, float('nan')):.2f}"
                for m in METRICS), flush=True)
        summary[workload] = {}
        for m in METRICS:
            done = [(p["parent"][m], p["change"][m]) for p in pairs
                    if m in p["parent"] and m in p["change"]]
            if not done:
                print(f"{workload} {m}: no complete pair")
                continue
            par, chg = [a for a, _ in done], [b for _, b in done]
            q1, q3 = quartiles(par)
            won = sum(b < a for a, b in done)
            summary[workload][m] = {"parent_median": statistics.median(par),
                                    "change_median": statistics.median(chg),
                                    "parent_iqr": q3 - q1, "won": won, "pairs": len(done)}
            print(f"{workload} {m}: median {statistics.median(par):.2f} -> "
                  f"{statistics.median(chg):.2f} s (parent IQR {q3 - q1:.2f} s), "
                  f"change lower in {won} of {len(done)} pairs", flush=True)
    print(json.dumps(summary, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
