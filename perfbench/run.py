"""moonlink_spark benchmark: one workload per process, printed as JSON.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_upsert_stream --seed 1 \
        --seconds 5 --trace 0

Workloads (closed loops, one client each): ``cdc_upsert_stream``,
``snapshot_read_mix``, ``rest_event_ingest``; see perfbench/README.md.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's entry points in spans and prints the per-layer metrics instead,
writing every span to ``.bench_work/traces/``.

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a report with every per-operation latency, its tail and sample count,
the byte amplifications and the error rate. Exit status is non-zero,
with no result line, when the engine cannot be imported from the
current directory."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import harness

WORKLOADS = ("cdc_upsert_stream", "snapshot_read_mix", "rest_event_ingest")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale",
        type=float,
        default=1.0,
        help="multiplier on data sizes; below 1 only for smoke tests",
    )
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    try:
        harness.import_engine(root)
    except ImportError as e:
        print(f"perfbench: cannot import moonlink_spark from {root}: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        report, result = harness.run(
            args.workload, root, work, args.seed, args.seconds,
            bool(args.trace), args.scale,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
