"""Check the benchmark's run-to-run spread.

    python3 perfbench/steady.py --workload NAME --seeds 1 2 3 4 5 [--seconds S]

Runs the benchmark once per seed, one run at a time, and prints for each
end-to-end metric its median and the distance between the first and
third quartiles as a share of the median, next to a third of the
metric's bound from BENCHMARK.json (the steadiness target).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()
        result = json.loads(out[-1])
        print(seed, out[-2], file=sys.stderr)
        if not result["correct"]:
            print(f"seed {seed}: incorrect output", file=sys.stderr)
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for metric in bench["end_to_end"]:
        vals = values[metric["name"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        print(
            f"{metric['name']:<14} median={med:.4f} spread={(q3 - q1) / med:.3f} "
            f"target<{metric['bound'] / 3:.3f}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
