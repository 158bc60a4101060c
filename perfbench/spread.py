"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload kmeans_fit --seeds 1-10 [--seconds N]

Runs the benchmark once per seed, one run at a time, and prints for
each end-to-end metric its median and its quartile spread,
(Q3 - Q1) / median, next to the bound BENCHMARK.json gives it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from stats import quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {name: [] for name in bounds}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            print(f"seed {seed}: {result['failed']} of {result['attempted']} ops failed")
            return 1
        for name in bounds:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
              flush=True)
    if len(next(iter(values.values()))) < 2:
        return 0
    print(f"{'metric':<14}{'median':>12}{'spread':>9}{'bound':>8}")
    for name, xs in values.items():
        s = quartile_spread(xs)
        print(f"{name:<14}{statistics.median(xs):>12.4f}{s:>9.3f}{bounds[name]:>8.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
