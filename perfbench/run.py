#!/usr/bin/env python3
"""Benchmark of the four ways the engine is used: ingest, serve, analytics
and stream.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it is the full report (metric names of the workload, the
pinned environment, set-up breakdown, output-check errors).  Exits non-zero
when an output check fails or the program is not there.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest", "serve", "analytics", "stream")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "moosestack_spark")):
        print(f"perfbench: no moosestack_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    return harness.run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), T_START)


if __name__ == "__main__":
    sys.exit(main())
