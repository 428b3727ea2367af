#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workload registry_mix --seeds 1-10 [--trace 0]

Runs perfbench/run.py once per seed and prints, per metric, the median of
the runs and the distance between their first and third quartiles as a
share of the median (statistics.quantiles, n=4), next to the metric's
bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, failed = {}, 0
    for seed in seeds(a.seeds):
        r = subprocess.run(bench["command"] + [
            "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
            stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}", file=sys.stderr)
            return 1
        out = json.loads(r.stdout.strip().splitlines()[-1])
        failed += out["failed"] + (not out["correct"])
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(json.dumps({"seed": seed, **{k: round(v["value"], 4)
                                            for k, v in out["metrics"].items()}}))
    report = {}
    for k, xs in values.items():
        m = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [m, m, m]
        spread = (q[2] - q[0]) / m if m else 0.0
        report[k] = {"median": m, "spread": round(spread, 4), "bound": bounds.get(k)}
    print(json.dumps({"workload": a.workload, "failed": failed, "spread": report}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
