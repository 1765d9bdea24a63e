#!/usr/bin/env python3
"""Print every benchmark metric with its unit, for every workload.

Usage, from the repo root:

    python3 perfbench/report.py [--seed 1] [--seconds 10]

Runs each workload twice through run.py: untraced (the end-to-end
metrics) and traced (the per-layer metrics). Prints one line per
metric: workload, name, value, unit.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        workloads = [w["name"] for w in json.load(fh)["workloads"]]
    for w in workloads:
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True, check=True).stdout
            lines = out.strip().splitlines()
            env = json.loads(lines[-2])["perfbench_env"] if len(lines) > 1 else {}
            result = json.loads(lines[-1])
            print(f"# {w} trace={trace} correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']} "
                  f"nproc={env.get('nproc')} heap_mb={env.get('heap_mb')} "
                  f"fixture={env.get('fixture_sha')}")
            for name, m in result["metrics"].items():
                print(f"{w}\t{name}\t{m['value']:.6g}\t{m['unit']}")


if __name__ == "__main__":
    main()
