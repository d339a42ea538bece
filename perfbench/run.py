#!/usr/bin/env python3
"""CDC replicator benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Prints human-readable lines, then, as
the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Exits nonzero if the checkout has
no engine to measure, if any output disagrees with the oracle, if the
run fails its validity check (live_tail: a growing backlog), or if a
step fails. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("bulk_replay", "live_tail")  # cdcbench.workloads.WORKLOADS


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "replicator_spark", "pipeline.py")):
        print(f"perfbench: no replicator_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, BENCH]
    from cdcbench import machine

    machine.confine_scratch()
    from cdcbench import runner

    result = runner.run(args.workload, args.seed, args.seconds, bool(args.trace))
    lines, final = runner.report(result)
    for line in lines:
        print(line)
    print(json.dumps(final), flush=True)
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
