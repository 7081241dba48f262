"""Run harness shared by the workloads: work directory, Spark session,
the timed closed loop, lazy-result materialization, memory and host
readings, and the result line.

A workload module defines ``generate(run)``, ``setup(run)``,
``warmup(run)``, ``next_op(run, i)``, ``check(run)`` (the number of
timed ops whose output is wrong) and ``stored_bytes(run)``, and may set
``CPUS`` to run on fewer cores than ``CPUS`` here; ``run_workload``
drives them.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from typing import Any, Callable, Dict, List

import numpy as np

CPUS = max(1, min(4, os.cpu_count() or 1))
DRIVER_MEMORY = "3g"
# the timed loop runs for --seconds and at least this many ops, so every
# run has a median op that is neither the first nor the last
MIN_OPS = 3


def read_steal() -> tuple:
    """(steal jiffies, total jiffies) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> List[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if ppid == pid:
            out.append(int(entry))
    return out


class Run:
    """State of one benchmark run: arguments, paths, session, timings."""

    def __init__(self, args: Any, t_process_start: float) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.t0 = t_process_start
        self.cpus = CPUS
        self.work = os.path.abspath(os.path.join(".bench_work", f"{args.workload}-{os.getpid()}"))
        self.inputs = os.path.join(self.work, "inputs")
        self.lake = os.path.join(self.work, "lake")
        self.gen_s = 0.0  # input generation time, excluded from setup_s
        self.input_bytes = 0
        self.rows = 0  # input rows the timed ops consumed
        self.latencies: List[float] = []  # successful timed ops
        self.busy_s = 0.0  # every timed op, failed ones too
        self.op_windows: List[tuple] = []  # (epoch start, epoch end, kind) per timed op
        self.attempted = 0
        self.failed = 0
        self.errors: List[str] = []
        self.setup_s = 0.0
        self.warmup_s = 0.0
        self.session_start_s = 0.0
        self.spark = None
        self.tracer = None
        self.jvm_proc = None
        self.steal0 = read_steal()
        self.load1_start = load1()

    # ------------------------------------------------------------ set-up

    def prepare_environment(self) -> None:
        """Keep every file the run writes inside the work directory."""
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.makedirs(self.inputs)
        os.makedirs(self.lake)
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = None
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        # every JVM the launcher starts: no /tmp/hsperfdata, tmpdir inside
        os.environ["_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    def generate(self, fn: Callable[[], Any]) -> Any:
        """Run input generation; its time is kept out of ``setup_s``."""
        t = time.perf_counter()
        result = fn()
        self.gen_s += time.perf_counter() - t
        return result

    def start_session(self) -> None:
        import aws_data_wrangler_spark as wr

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap size: a heap that grows on demand makes peak
            # RSS depend on GC timing
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Dderby.system.home={self.work}",
        }
        if self.traced:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                    # the default codec is zstd, which the parser cannot read
                    "spark.eventLog.compress": "false",
                }
            )
        t = time.perf_counter()
        self.spark = wr.get_spark(app_name=f"perfbench-{self.workload}", master=f"local[{self.cpus}]", extra_conf=conf)
        self.session_start_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.jvm_proc = getattr(SparkContext._gateway, "proc", None)

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and its workers) to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        proc = self.jvm_proc
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # never leave it running
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    # ------------------------------------------------------- timed loop

    def op(self, rows: int, fn: Callable[[], Any], timed: bool = True, kind: str = "op") -> Any:
        """Run one closed-loop op of ``kind``. A raised error counts as a failed op."""
        if timed:
            self.attempted += 1
        start_epoch = time.time()
        t = time.perf_counter()
        try:
            result = fn()
        except Exception:  # noqa: BLE001 - the run goes on; the failure is counted
            if not timed:
                raise
            self.busy_s += time.perf_counter() - t
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None
        elapsed = time.perf_counter() - t
        if timed:
            self.busy_s += elapsed
            self.latencies.append(elapsed)
            self.op_windows.append((start_epoch, start_epoch + elapsed, kind))
            self.rows += rows
        return result

    def force(self, df: Any, how: str) -> Any:
        """Materialize a lazy DataFrame: ``pandas`` or ``checkpoint``.

        Under tracing, the time is a span of the layer that produced the
        frame, because that layer's work only runs here."""
        def act():
            if how == "pandas":
                return df.toPandas()
            return df.localCheckpoint(eager=True)

        if self.tracer is None:
            return act()
        return self.tracer.materialize(df, how, act)

    # ----------------------------------------------------------- readings

    def _pids(self) -> List[int]:
        """This process, the driver JVM and its children (the Python workers)."""
        pids = [os.getpid()]
        if self.jvm_proc is not None:
            pids.append(self.jvm_proc.pid)
            pids.extend(_children(self.jvm_proc.pid))
        return sorted(set(pids))

    def reset_peak_rss(self) -> None:
        """Restart every process's RSS high-water mark from its current
        RSS, so the peak leaves out input generation and set-up."""
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_rss_mb(self) -> float:
        """Sum of peak RSS since ``reset_peak_rss`` over ``_pids``."""
        return sum(_vm_hwm_kb(p) for p in self._pids()) / 1024.0

    def steal_frac(self) -> float:
        s1, t1 = read_steal()
        s0, t0 = self.steal0
        return (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0


def quantile(values: List[float], q: float) -> float:
    return float(np.quantile(np.asarray(values, dtype=float), q))


def run_workload(run: Run, workload: Any) -> Dict[str, Any]:
    """Generate, set up, run the timed loop, check; returns the result object."""
    run.cpus = min(CPUS, getattr(workload, "CPUS", CPUS))
    run.prepare_environment()
    if run.traced:
        from tracing import Tracer

        run.tracer = Tracer(run)
        run.tracer.install()
    workload.generate(run)
    run.start_session()
    workload.setup(run)
    t_warm = time.perf_counter()
    workload.warmup(run)
    run.warmup_s = time.perf_counter() - t_warm
    run.setup_s = time.time() - run.t0 - run.gen_s
    if run.tracer is not None:
        run.tracer.timed_window_open()
    run.reset_peak_rss()
    i = 0
    while run.busy_s < run.seconds or i < MIN_OPS:
        workload.next_op(run, i)
        i += 1
    # read before the check, whose DuckDB copies of the inputs would count
    peak = run.peak_rss_mb()
    if run.tracer is not None:
        run.tracer.timed_window_close()
    t_check = time.perf_counter()
    try:
        bad = workload.check(run)
    except Exception:  # noqa: BLE001 - a check that raises fails every op
        run.errors.append(traceback.format_exc(limit=5))
        bad = run.attempted
    ok = bad == 0
    run.failed = min(run.attempted, run.failed + bad)
    check_s = time.perf_counter() - t_check
    stored = workload.stored_bytes(run)
    if run.tracer is not None:
        run.tracer.before_stop()
    run.stop_session()
    n = len(run.latencies)
    timed = run.busy_s
    metrics = {
        "setup_s": (run.setup_s, "s"),
        "rows_per_s": (run.rows / timed if timed else 0.0, "rows/s"),
        "ops_per_s": (n / timed if timed else 0.0, "1/s"),
        "op_p50_s": (quantile(run.latencies, 0.5) if n else 0.0, "s"),
        "op_p90_s": (quantile(run.latencies, 0.9) if n else 0.0, "s"),
        "bytes_stored_per_input_byte": (stored / run.input_bytes if run.input_bytes else 0.0, "ratio"),
        "peak_rss_mb": (peak, "MB"),
    }
    info = {
        "workload": run.workload,
        "seed": run.seed,
        "ops": n,
        "ops_beyond_p90": int(sum(1 for x in run.latencies if n and x > metrics["op_p90_s"][0])),
        "timed_s": round(timed, 4),
        "rows": run.rows,
        "input_bytes": run.input_bytes,
        "gen_s": round(run.gen_s, 3),
        "session_start_s": round(run.session_start_s, 3),
        "warmup_s": round(run.warmup_s, 3),
        "check_s": round(check_s, 3),
        "failed_frac": run.failed / run.attempted if run.attempted else 1.0,
        "host.load1_start": run.load1_start,
        "host.steal_frac": round(run.steal_frac(), 5),
        "p50_by_kind": {
            k: round(median([x for x, (_, _, kk) in zip(run.latencies, run.op_windows) if kk == k]), 4)
            for k in sorted({kk for _, _, kk in run.op_windows})
        },
        "errors": run.errors[:3],
    }
    if run.tracer is not None:
        out_metrics = run.tracer.layer_metrics(info)
    else:
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    info.update({k: round(v, 5) for k, (v, _) in metrics.items()})
    print(json.dumps(info), flush=True)
    return {
        "correct": ok and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out_metrics,
    }


def median(values: List[float]) -> float:
    return float(statistics.median(values))
