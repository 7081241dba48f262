"""Traced-run mode: per-layer metrics measured from outside the program.

``Tracer.install`` wraps every public function of each layer module and
rebinds it wherever the package holds a reference to it, so nested calls
(``s3.to_parquet`` -> ``s3.list_objects`` -> ``catalog.create_table``)
become parent and child spans. No source file of the program changes.
Each span sets the Spark job group, so the event log attributes every
job, stage and task to the innermost span that started it.

Functions that return a lazy DataFrame do their work where the frame is
materialized; ``Tracer.materialize`` times that as an ``exec`` span of
the layer that returned the frame.

Spans are kept in memory. After the session stops, the event log is
parsed and the spans of the timed window become per-layer metrics.
"""

from __future__ import annotations

import bisect
import functools
import glob
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from typing import Any, Callable, Dict, List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame as SparkDataFrame

PKG = "aws_data_wrangler_spark"

# layer -> (module, public functions; None = every public function it defines)
LAYERS: Dict[str, Tuple[str, Optional[List[str]]]] = {
    "s3.write": (f"{PKG}.s3._write", ["to_parquet", "to_csv", "to_json", "to_orc",
                                       "store_parquet_metadata", "merge_upsert_table"]),
    "s3.fs": (f"{PKG}.s3._fs", None),
    "s3.read": (f"{PKG}.s3._read", None),
    "catalog": (f"{PKG}.catalog", None),
    "athena": (f"{PKG}.athena", None),
    "streaming.upsert": (f"{PKG}.streaming", ["merge_upsert_batch", "read_upsert_table",
                                               "vacuum_upsert_table", "upsert_sink"]),
    "operators.text": (f"{PKG}.operators.text", None),
    "operators.dedup": (f"{PKG}.operators.dedup", None),
    "operators.sampling": (f"{PKG}.operators.sampling", None),
    "session": (f"{PKG}._session", ["get_spark", "ensure_session_defaults"]),
}

COMMON = [
    ("calls", "count"), ("busy_s", "s"), ("self_s", "s"), ("failed", "count"),
    ("jobs", "count"), ("tasks", "count"), ("exec_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"), ("growth_s", "s"),
]
EXTRAS = {
    "s3.write": [("files_written", "count"), ("bytes_written", "bytes")],
    "s3.fs": [("list_calls", "count"), ("list_s", "s"), ("files_listed", "count")],
    "s3.read": [("files_scanned", "count"), ("bytes_read", "bytes"), ("partitions_read_ratio", "ratio")],
    "catalog": [("repair_s", "s"), ("partitions", "count")],
    "athena": [("plan_s", "s"), ("exec_s", "s"), ("cache_hit_ratio", "ratio"), ("jobs_per_query", "count")],
    "streaming.upsert": [("bytes_rewritten", "bytes")],
    "session": [("start_s", "s"), ("warmup_s", "s")],
}
RUN_LEVEL = [
    ("driver_gap_s", "s"), ("trace.overhead_s", "s"),
    ("host.load1_start", "load"), ("host.steal_frac", "ratio"),
]


def metric_spec() -> List[Tuple[str, str]]:
    """Every per-layer metric a traced run prints, as (name, unit)."""
    out: List[Tuple[str, str]] = []
    for layer in LAYERS:
        common = [] if layer == "session" else COMMON
        out += [(f"{layer}.{m}", u) for m, u in common + EXTRAS.get(layer, [])]
    return out + RUN_LEVEL


LIST_FNS = {"list_objects", "list_directories"}


class Span:
    __slots__ = ("sid", "parent", "layer", "name", "phase", "start", "end", "failed", "children", "count")

    def __init__(self, sid: int, parent: Optional["Span"], layer: str, name: str, phase: str) -> None:
        self.sid, self.parent, self.layer, self.name, self.phase = sid, parent, layer, name, phase
        self.start = self.end = 0.0
        self.failed = False
        self.children: List["Span"] = []
        self.count = 0  # objects listed, for s3.fs listings

    @property
    def duration(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        covered = _union([(c.start, c.end) for c in self.children], self.start, self.end)
        return self.duration - covered


def _union(intervals: List[Tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, run: Any) -> None:
        self.run = run
        self.spans: List[Span] = []
        self.stack: List[Span] = []
        self.produced: Dict[int, Tuple[Any, str, str]] = {}
        self.cache_calls = 0
        self.cache_hits = 0
        self.overhead_s = 0.0  # the tracer's own bookkeeping time
        self.window_overhead_s = 0.0
        self.first_span = self.last_span = 0  # spans of the timed window
        self.catalog_partitions = 0.0

    # ---------------------------------------------------------- wrapping

    def install(self) -> None:
        import importlib

        importlib.import_module(PKG)
        wrappers: Dict[int, Callable] = {}
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            if names is None:
                names = [
                    n for n, f in vars(mod).items()
                    if inspect.isfunction(f) and f.__module__ == modname and not n.startswith("_")
                ]
            for n in names:
                fn = getattr(mod, n)
                wrappers[id(fn)] = self._wrap(layer, n, fn)
        # rebind every reference the package holds, so calls between
        # modules (``from ._fs import list_objects``) are traced too
        for modname, mod in list(sys.modules.items()):
            if modname == PKG or modname.startswith(PKG + "."):
                for attr, val in list(vars(mod).items()):
                    if id(val) in wrappers and callable(val):
                        setattr(mod, attr, wrappers[id(val)])

    def _wrap(self, layer: str, name: str, fn: Callable) -> Callable:
        tracer = self

        def traced(*args: Any, **kwargs: Any) -> Any:
            cached_before = None
            if layer == "athena" and name == "read_sql_query" and kwargs.get("max_cache_seconds"):
                from aws_data_wrangler_spark import athena

                cached_before = {id(df) for _, df in athena._RESULT_CACHE.values()}
            span = tracer.open(layer, name, "call")
            try:
                result = fn(*args, **kwargs)
            except BaseException:
                span.failed = True
                raise
            finally:
                tracer.close(span)
            if cached_before is not None:
                tracer.cache_calls += 1
                tracer.cache_hits += id(result) in cached_before
            if name in LIST_FNS and isinstance(result, list):
                span.count = len(result)
            if isinstance(result, SparkDataFrame):
                tracer.produced[id(result)] = (result, layer, name)
            return result

        return functools.wraps(fn)(traced)

    # ------------------------------------------------------------- spans

    def _set_group(self, span: Optional[Span]) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"pb-{span.sid}", f"{span.layer}.{span.name}")

    def open(self, layer: str, name: str, phase: str) -> Span:
        t = time.perf_counter()
        span = Span(len(self.spans), self.stack[-1] if self.stack else None, layer, name, phase)
        if span.parent is not None:
            span.parent.children.append(span)
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(span)
        self.overhead_s += time.perf_counter() - t
        span.start = time.time()
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        t = time.perf_counter()
        self.stack.pop()
        self._set_group(self.stack[-1] if self.stack else None)
        self.overhead_s += time.perf_counter() - t

    def materialize(self, df: Any, how: str, act: Callable[[], Any]) -> Any:
        _, layer, name = self.produced.pop(id(df), (None, "bench", how))
        span = self.open(layer, name, "exec")
        try:
            return act()
        except BaseException:
            span.failed = True
            raise
        finally:
            self.close(span)

    def timed_window_open(self) -> None:
        self.first_span = len(self.spans)
        self.overhead_s = 0.0
        self.cache_calls = self.cache_hits = 0

    def timed_window_close(self) -> None:
        self.last_span = len(self.spans)
        self.window_overhead_s = self.overhead_s

    def before_stop(self) -> None:
        """Readings that need the live session: the catalog's partition
        count for the workload's table, read outside any span."""
        table = getattr(self.run, "catalog_table", None)
        if table:
            self.catalog_partitions = float(self.run.spark.sql(f"SHOW PARTITIONS {table}").count())

    # ------------------------------------------------------------ metrics

    def _event_log(self) -> Dict[str, Any]:
        """Jobs, stage/task counters and SQL driver metrics per job group."""
        # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
        files = sorted(
            (p for p in glob.glob(os.path.join(self.run.work, "eventlog", "**", "*"), recursive=True)
             if os.path.isfile(p) and os.path.basename(p).startswith("events_")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        group_of_stage: Dict[int, str] = {}
        group_of_exec: Dict[str, str] = {}
        jobs: List[Tuple[str, float, float]] = []
        job_start: Dict[int, Tuple[str, float]] = {}
        per_group: Dict[str, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
        metric_names: Dict[int, str] = {}
        driver_updates: List[Tuple[str, int, float]] = []

        def plan_metrics(node: Dict[str, Any]) -> None:
            for m in node.get("metrics", []):
                metric_names[int(m["accumulatorId"])] = m["name"]
            for child in node.get("children", []):
                plan_metrics(child)

        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event", "")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        group = props.get("spark.jobGroup.id") or ""
                        job_start[ev["Job ID"]] = (group, ev["Submission Time"] / 1000.0)
                        execution = props.get("spark.sql.execution.id")
                        if execution is not None and group:
                            group_of_exec.setdefault(str(execution), group)
                        per_group[group]["jobs"] += 1
                    elif kind == "SparkListenerJobEnd":
                        group, start = job_start.get(ev["Job ID"], ("", 0.0))
                        jobs.append((group, start, ev["Completion Time"] / 1000.0))
                    elif kind == "SparkListenerStageSubmitted":
                        props = ev.get("Properties") or {}
                        group_of_stage[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id") or ""
                    elif kind == "SparkListenerTaskEnd":
                        g = per_group[group_of_stage.get(ev["Stage ID"], "")]
                        tm = ev.get("Task Metrics") or {}
                        g["tasks"] += 1
                        g["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                        g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                        g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                        g["bytes_read"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                        g["bytes_written"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                    elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"
                    ):
                        plan_metrics(ev.get("sparkPlanInfo") or {})
                    elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                        for m in ev.get("sqlPlanMetrics", []):
                            metric_names[int(m["accumulatorId"])] = m["name"]
                    elif kind.endswith("SparkListenerDriverAccumUpdates"):
                        for acc_id, value in ev.get("accumUpdates", []):
                            driver_updates.append((str(ev["executionId"]), int(acc_id), float(value)))
        for execution, acc_id, value in driver_updates:
            group = group_of_exec.get(execution)
            name = metric_names.get(acc_id)
            if group and name in ("number of written files", "number of files read", "number of partitions read"):
                per_group[group][name] += value
                if name == "number of partitions read":
                    per_group[group]["partitioned_scans"] += 1
        return {"groups": per_group, "jobs": jobs}

    def _growth(self, window: List[Span]) -> Dict[str, float]:
        """Per layer, how much its self time per op grew over the run: the
        least-squares slope of self time against op number, over the
        timed ops of the most common kind, times (ops - 1). On a growing
        table this names the layer whose cost scales with its size."""
        ops = self.run.op_windows
        kinds = [k for _, _, k in ops]
        main = max(set(kinds), key=kinds.count) if kinds else None
        ops = [(s, e) for s, e, k in ops if k == main]
        if len(ops) < 3:
            return {}
        per_op: Dict[str, List[float]] = defaultdict(lambda: [0.0] * len(ops))
        starts = [s for s, _ in ops]
        for span in window:
            j = bisect.bisect_right(starts, span.start) - 1
            if j >= 0 and span.end <= ops[j][1]:
                per_op[span.layer][j] += span.self_time()
        x = np.arange(len(ops), dtype=float)
        return {layer: float(np.polyfit(x, y, 1)[0]) * (len(ops) - 1) for layer, y in per_op.items()}

    def layer_metrics(self, info: Dict[str, Any]) -> Dict[str, Dict[str, Any]]:
        log = self._event_log()
        groups = log["groups"]
        window = self.spans[self.first_span : self.last_span]
        values: Dict[str, float] = defaultdict(float)

        def inside_same_layer(span: Span) -> bool:
            p = span.parent
            while p is not None:
                if p.layer == span.layer:
                    return True
                p = p.parent
            return False

        for span in window:
            layer = span.layer
            g = groups.get(f"pb-{span.sid}", {})
            outer = not inside_same_layer(span)
            if outer:
                values[f"{layer}.busy_s"] += span.duration
                values[f"{layer}.failed"] += span.failed
                if span.phase == "call":
                    values[f"{layer}.calls"] += 1
            values[f"{layer}.self_s"] += span.self_time()
            for key in ("jobs", "tasks", "exec_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
                values[f"{layer}.{key}"] += g.get(key, 0.0)
            if layer == "s3.write":
                values["s3.write.files_written"] += g.get("number of written files", 0.0)
                values["s3.write.bytes_written"] += g.get("bytes_written", 0.0)
            elif layer == "streaming.upsert":
                values["streaming.upsert.bytes_rewritten"] += g.get("bytes_written", 0.0)
            elif layer == "s3.read":
                values["s3.read.files_scanned"] += g.get("number of files read", 0.0)
                values["s3.read.bytes_read"] += g.get("bytes_read", 0.0)
                values["_partitions_read"] += g.get("number of partitions read", 0.0)
                values["_partitioned_scans"] += g.get("partitioned_scans", 0.0)
            elif layer == "s3.fs" and span.name in LIST_FNS:
                values["s3.fs.list_calls"] += 1
                values["s3.fs.list_s"] += span.duration if outer else 0.0
                values["s3.fs.files_listed"] += span.count
            elif layer == "catalog" and span.name == "repair_table_partitions":
                values["catalog.repair_s"] += span.duration
            elif layer == "athena":
                values[f"athena.{'plan_s' if span.phase == 'call' else 'exec_s'}"] += span.duration if outer else 0.0

        table_parts = getattr(self.run, "table_partitions", 0)
        scans = values.pop("_partitioned_scans", 0.0)
        read = values.pop("_partitions_read", 0.0)
        values["s3.read.partitions_read_ratio"] = read / (scans * table_parts) if scans and table_parts else 0.0
        queries = values.get("athena.calls", 0.0)
        values["athena.jobs_per_query"] = values.get("athena.jobs", 0.0) / queries if queries else 0.0
        values["athena.cache_hit_ratio"] = self.cache_hits / self.cache_calls if self.cache_calls else 0.0
        values["catalog.partitions"] = self.catalog_partitions
        start = [s for s in self.spans if s.layer == "session" and s.name == "get_spark"]
        values["session.start_s"] = start[0].duration if start else 0.0
        values["session.warmup_s"] = self.run.warmup_s
        job_spans = [(s, e) for _, s, e in log["jobs"]]
        values["driver_gap_s"] = sum(e - s - _union(job_spans, s, e) for s, e, _ in self.run.op_windows)
        for layer, growth in self._growth(window).items():
            values[f"{layer}.growth_s"] = growth
        values["trace.overhead_s"] = self.window_overhead_s
        values["host.load1_start"] = info["host.load1_start"]
        values["host.steal_frac"] = info["host.steal_frac"]
        return {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in metric_spec()}
