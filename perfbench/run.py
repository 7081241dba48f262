"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_query --seed 1 --seconds 10 --trace 0

Runs one workload (``lake_ingest``, ``lake_query`` or ``curation``) on
``local[N]`` (N = min(4, cpus), 2 for ``curation``) from the root of a
source checkout, and
prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Every file the
run writes lives under ``.bench_work/`` and is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lake_ingest", "lake_query", "curation")


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=10)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "aws_data_wrangler_spark")):
        print(f"perfbench: no aws_data_wrangler_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    import harness

    run = harness.Run(args, T_PROCESS_START)
    try:
        result = harness.run_workload(run, importlib.import_module(args.workload))
    finally:
        run.stop_session()
        run.cleanup()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
