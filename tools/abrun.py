#!/usr/bin/env python3
"""A/B a benchmark workload between two checkouts, in alternating pairs.

Usage:

    python3 tools/abrun.py PARENT CHANGE --workload warehouse_incremental --seeds 1 2 3

PARENT and CHANGE are two checkouts of the repository (say, a
``git archive`` of the parent commit and the working tree). For every
seed the pair runs ``perfbench/run.py --trace 0`` once in each checkout,
one run at a time; the side that runs first alternates from pair to
pair, so drift on the host weighs on both sides alike.

Per pair it prints each end-to-end metric of ``BENCHMARK.json`` for
both sides, the timed iteration count of each run and its
``host.steal_s``. Per side it closes with each metric's median and
quartiles, and the number of pairs in which the change did better (in
the direction ``BENCHMARK.json`` gives). A run that fails or reports
``correct: false`` stops the comparison with its stderr tail.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py --trace 0`` in ``checkout``: its result
    line, plus the iteration walls and host contention figures the run
    prints to stderr."""
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=1200,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    if proc.returncode != 0 or not result.get("correct"):
        sys.exit(f"{checkout} seed {seed}: FAILED rc={proc.returncode}\n{proc.stderr[-3000:]}")
    for line in reversed(proc.stderr.splitlines()):
        if line.startswith('{"workload"'):
            result["run"] = json.loads(line)
            break
    else:
        result["run"] = {"iterations_s": [], "host": {}}
    return result


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=None,
                    help="timed phase per run (default: BENCHMARK.json run_seconds)")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    metrics = {m["name"]: m["better"] for m in bench["end_to_end"]}
    sides = {"parent": args.parent, "change": args.change}
    values: dict[str, dict[str, list[float]]] = {s: {m: [] for m in metrics} for s in sides}
    wins = {m: 0 for m in metrics}

    for i, seed in enumerate(args.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        results = {side: run_once(sides[side], args.workload, seed, seconds) for side in order}
        print(f"pair {i + 1} seed {seed} ({order[0]} first)")
        for side in sides:
            r = results[side]
            got = {m: r["metrics"][m]["value"] for m in metrics}
            for m, v in got.items():
                values[side][m].append(v)
            print(f"  {side:6s} " + " ".join(f"{m}={v:.4g}" for m, v in got.items())
                  + f" iterations={len(r['run']['iterations_s'])}"
                  + f" steal_s={r['run']['host'].get('steal_s', float('nan')):.2f}")
        for m, better in metrics.items():
            p, c = values["parent"][m][-1], values["change"][m][-1]
            wins[m] += (c < p) if better == "lower" else (c > p)
        sys.stdout.flush()

    n = len(args.seeds)
    print(f"summary over {n} pairs: median (q1-q3); change better in k/{n}")
    for m in metrics:
        line = [f"  {m:18s}"]
        for side in sides:
            q1, med, q3 = quartiles(values[side][m])
            line.append(f"{side} {med:.4g} ({q1:.4g}-{q3:.4g})")
        line.append(f"change better {wins[m]}/{n}")
        print("  ".join(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
