"""Layered benchmark of the crawl engine.

    python3 perfbench/run.py --workload polite_crawl --seed 42 --seconds 15 --trace 0

Runs one workload (``polite_crawl`` or ``query_suite``)
on inputs generated from ``--seed``, checks the engine's outputs, and prints
one JSON line last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` the per-layer ones (event log, layer spans, micro-benches).
Progress and diagnostics go to stderr. ``--size smoke`` shrinks every input
for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("polite_crawl", "query_suite")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    for need in ("gh_crawler_spark", "bench.py", "tools"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    result = harness.run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
