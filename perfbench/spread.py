"""Run one workload on several seeds and report each metric's median
and spread (inter-quartile distance as a share of the median):

    python3 perfbench/spread.py --workload serve --seeds 1-10 [--trace 0]

Runs are sequential, each in its own process, from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, help="default: run_seconds of BENCHMARK.json")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--keep", help="append every run's stdout to this file")
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True,
                              text=True, timeout=300)
        if args.keep:
            with open(args.keep, "a") as fh:
                fh.write(proc.stdout)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if res is None:
            print(f"seed {seed}: exit {proc.returncode}, no result")
            continue
        print(f"seed {seed}: exit {proc.returncode} correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        if len(xs) < 2 or not statistics.median(xs):
            continue
        sp = stats.spread(xs)
        b = bounds.get(k)
        flag = "" if b is None else f" bound={b} {'ok' if sp < b / 3 else 'WIDE' if sp > b else 'near'}"
        print(f"{k}: median={statistics.median(xs):.4g} spread={sp:.3f}{flag}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
