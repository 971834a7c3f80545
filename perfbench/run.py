"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the checkout root. Prints progress on stderr and, as the last
line of stdout, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The full record of the run,
spans included, goes to ``.perfbench/results/``; ``perfbench/diff.py``
compares two such records. Exits non-zero when an output check fails
or the checkout has no program to run.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from metrics import END_TO_END, HAND_WORKLOADS, WORKLOADS, per_layer  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS + HAND_WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    run_dir = harness.new_run_dir(args.workload, args.seed)
    try:
        harness.prepare_env(run_dir, bool(args.trace))
    except harness.SetupError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    module = importlib.import_module(args.workload)
    ctx = harness.Context(
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        run_dir=run_dir,
    )
    t0, ticks = time.time(), harness.cpu_ticks()
    try:
        out = module.run(ctx)
    finally:
        harness.stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    wanted = per_layer(args.workload) if args.trace else END_TO_END
    values = out.layers if args.trace else out.e2e
    missing = sorted(set(wanted) - set(values))
    if missing:
        raise RuntimeError(f"workload did not report {missing}")
    metrics = {
        name: {"value": float(values[name]), "unit": unit}
        for name, unit in wanted.items()
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "wall_s": time.time() - t0,
        "cpus": harness.CPUS,
        "cpu_steal_share": harness.steal_share(ticks, harness.cpu_ticks()),
        "attempted": out.attempted,
        "failed": out.failed,
        "check_failures": out.check_failures,
        "end_to_end": out.e2e,
        "per_layer": out.layers if args.trace else {},
        "phases_s": ctx.phases,
        "detail": out.detail,
        "spans": ctx.tracer.spans,
    }
    res_dir = os.path.join(harness.WORK_ROOT, "results")
    os.makedirs(res_dir, exist_ok=True)
    path = os.path.join(
        res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    for msg in out.check_failures:
        print(f"perfbench: CHECK FAILED: {msg}", file=sys.stderr)
    correct = not out.check_failures
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
