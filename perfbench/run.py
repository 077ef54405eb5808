"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs one workload (see ``perfbench/README.md``) from the root of a
source checkout, against the engine in that checkout, on inputs made
from ``--seed``. Every line but the last on stdout is a human-readable
``detail`` record; the last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the engine's public functions
in spans and reports the per-layer metrics instead. A wrong output
makes ``correct`` false; the exit code is non-zero only when the run
could not complete and printed no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import harness


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["serve", "batch"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    run_dir = os.path.join(harness.WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    pinned = harness.pin_environment(run_dir)
    # after this directory, so the benchmark's modules win name clashes
    sys.path.insert(1, harness.ROOT)

    t_start = time.perf_counter()
    import metrics as catalogue

    if args.workload == "serve":
        import serve as workload
    else:
        import batch as workload

    try:
        res = workload.run(
            seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
            run_dir=run_dir, t_start=t_start,
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    names = catalogue.PER_LAYER_NAMES if args.trace else catalogue.END_TO_END_NAMES
    units = catalogue.UNITS
    out_metrics = {n: {"value": res.metrics[n], "unit": units[n]} for n in names}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "environment": {k: pinned[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
        **res.detail,
    }
    print("detail " + json.dumps(detail, sort_keys=True, default=str))
    if res.mismatches:
        print("mismatch " + json.dumps(res.mismatches[:20], default=str))
    print(json.dumps({
        "correct": not res.mismatches,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": out_metrics,
    }))
    sys.stdout.flush()
    # a printed result, right or wrong, is a completed run
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
