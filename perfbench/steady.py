"""Steadiness mode: repeat each workload over several seeds and print, for
every end-to-end metric, the median, the quartiles and the spread
(interquartile range over the median), with the host context of each run.

    python3 perfbench/steady.py                      # every workload, 10 seeds
    python3 perfbench/steady.py --workload lake_ingest --runs 5 --with-trace

The quartiles are ``statistics.quantiles(values, n=4)``. With
``--with-trace`` each seed also runs traced, and the tracing overhead is
reported as the traced minus the untraced timed wall time per op.
Bounds in BENCHMARK.json are set from this output; one fast or slow run
moves a quartile much less than it moves a mean or a range.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from typing import Any, Dict, List, Tuple

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> Tuple[Dict[str, Any], Dict[str, Any], float]:
    """One run.py process; returns (info line, result line, wall seconds)."""
    t = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600, check=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    return json.loads(lines[-2]), json.loads(lines[-1]), time.time() - t


def spread(values: List[float]) -> Tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def steady(workload: str, runs: int, seed0: int, seconds: int, with_trace: bool) -> Dict[str, Any]:
    """Run one workload ``runs`` times and print its spread table."""
    values: Dict[str, List[float]] = {}
    units: Dict[str, str] = {}
    overhead: List[float] = []
    for k in range(runs):
        seed = seed0 + k
        info, result, wall = run_once(workload, seed, seconds, 0)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        values.setdefault("failed_frac", []).append(info["failed_frac"])
        units["failed_frac"] = "ratio"
        line = (
            f"seed={seed} wall={wall:.1f}s correct={result['correct']} ops={info['ops']} "
            f"ops_beyond_p90={info['ops_beyond_p90']} load1_start={info['host.load1_start']} "
            f"steal_frac={info['host.steal_frac']}"
        )
        if with_trace:
            tinfo, tresult, _ = run_once(workload, seed, seconds, 1)
            overhead.append(tinfo["timed_s"] / tinfo["ops"] - info["timed_s"] / info["ops"])
            line += f" trace_overhead_per_op={overhead[-1]:+.4f}s traced_correct={tresult['correct']}"
        print(line, flush=True)

    print(f"\n{workload}: {runs} runs, {seconds} s each")
    print(f"{'metric':32} {'unit':8} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8}")
    summary = {}
    for name, vals in values.items():
        med, q1, q3, sp = spread(vals) if len(vals) > 1 else (vals[0], vals[0], vals[0], 0.0)
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "values": vals}
        print(f"{name:32} {units[name]:8} {med:14.5g} {q1:14.5g} {q3:14.5g} {sp:8.3f}")
    if overhead:
        print(f"tracing overhead per op: median {statistics.median(overhead):+.4f} s")
    print(json.dumps({"workload": workload, "metrics": summary}), flush=True)
    return summary


def main() -> int:
    # the run length and the workloads are the ones BENCHMARK.json defines
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", nargs="+", default=[w["name"] for w in bench["workloads"]])
    parser.add_argument("--runs", type=int, default=10)
    parser.add_argument("--seed0", type=int, default=1)
    parser.add_argument("--with-trace", action="store_true")
    args = parser.parse_args()
    for workload in args.workload:
        steady(workload, args.runs, args.seed0, bench["run_seconds"], args.with_trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
