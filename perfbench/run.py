#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_epochs --seed 1 --seconds 10 --trace 0

Runs one workload from the repository root against the ``pcrawler_spark``
package next to this directory, checks every output, and prints each metric
by name with its unit; the last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, help="crawl_epochs | extract_bulk")
    p.add_argument("--seed", type=int, required=True, help="input generator seed")
    p.add_argument("--seconds", type=int, required=True,
                   help="measure operations until this many seconds have passed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0,
                   help="1: per-layer metrics from a traced run")
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds < 1:
        p.error("--seed must be >= 0 and --seconds >= 1")
    if not os.path.isfile(os.path.join(ROOT, "pcrawler_spark", "__init__.py")):
        print(f"no pcrawler_spark package under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import run

    return run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)


if __name__ == "__main__":
    sys.exit(main())
