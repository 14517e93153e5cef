#!/usr/bin/env python3
"""Run the benchmark over several seeds and print each end-to-end
metric's median and quartile spread (Q3 - Q1 over the median), the
steadiness figure its bound in BENCHMARK.json is checked against.

    python3 perfbench/spread.py --workload lake_analytics --seeds 1 2 3 4 5
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
        lines = out.strip().splitlines()
        print("\n".join(line for line in lines if line.startswith("# workload")), flush=True)
        result = json.loads(lines[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds[name]
        print(f"{name:34s} median={med:.6g} spread={spread:.4f} bound={bound} "
              f"values={[round(v, 4) for v in vals]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
