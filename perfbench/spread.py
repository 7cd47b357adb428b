#!/usr/bin/env python3
"""Run one workload under several seeds and report each end-to-end
metric's spread: the distance between the first and third quartile of
its values, as a share of their median.

    python3 perfbench/spread.py --workload ops_suite --seeds 1 2 3 4 5

Runs are sequential (one benchmark process at a time). Each run's JSON
line is appended to ``perfbench/_work/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    log = os.path.join(HERE, "_work", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
        )
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        result = json.loads(last)
        with open(log, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": seed, "rc": proc.returncode,
                                 **result}) + "\n")
        if proc.returncode != 0 or not result.get("correct"):
            print(f"seed {seed}: FAILED rc={proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, vals in values.items():
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        flag = "ok" if spread < bounds[name] / 3 else "WIDE"
        print(f"{name:22s} median={med:.4g} spread={spread:.4f} bound/3={bounds[name] / 3:.4f} {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
