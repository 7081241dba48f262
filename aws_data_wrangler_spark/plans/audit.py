"""Programmatic physical-plan inspection.

Scale behavior is a first-class, testable property of every operator
(SURVEY §5 item 4, §6): these helpers turn ``df.explain()`` text into
structured facts a test — or a pipeline pre-flight check on a real
cluster — can assert on before burning 1000 executor-hours on a bad
plan.
"""

from __future__ import annotations

import re
from typing import Any, Dict

from pyspark.sql import DataFrame


def _executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def final_plan(df: DataFrame) -> str:
    """The physical plan adaptive execution settled on once ``df`` ran
    (its current plan before then), without the initial plan that the
    executed plan's text also carries."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.toString()


def plan_summary(df: DataFrame) -> Dict[str, Any]:
    """Summarize the physical plan into the facts that matter at scale.

    Returns counts of exchanges (shuffles), join strategies, scan
    pushdown evidence, whole-stage-codegen spans, and whether any
    Python evaluation (the slow path) appears in the plan.
    """
    plan = _executed_plan(df)
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "reused_exchanges": len(re.findall(r"\bReusedExchange\b", plan)),
        "broadcast_hash_joins": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "sort_merge_joins": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "broadcast_nested_loop_joins": len(
            re.findall(r"\bBroadcastNestedLoopJoin\b", plan)
        ),
        "cartesian_products": len(re.findall(r"\bCartesianProduct\b", plan)),
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "partition_filters": bool(re.search(r"PartitionFilters: \[[^\]]", plan)),
        "wholestage_codegen_spans": len(re.findall(r"WholeStageCodegen", plan)),
        "python_eval": bool(
            re.search(r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)
        ),
        "plan": plan,
    }


def assert_no_shuffle(df: DataFrame) -> None:
    """The plan must be a pure scan-side pipeline (no Exchange)."""
    summary = plan_summary(df)
    assert summary["exchanges"] == 0, f"expected shuffle-free plan:\n{summary['plan']}"


def assert_broadcast_join(df: DataFrame) -> None:
    """At least one join must be broadcast (small side never shuffled)."""
    summary = plan_summary(df)
    assert (
        summary["broadcast_hash_joins"] + summary["broadcast_nested_loop_joins"] > 0
    ), f"expected a broadcast join:\n{summary['plan']}"


def assert_no_cartesian(df: DataFrame) -> None:
    """No all-pairs physical join: neither CartesianProduct nor
    BroadcastNestedLoopJoin may appear (both are single-task-shaped
    scale killers when each side is corpus-sized)."""
    summary = plan_summary(df)
    assert (
        summary["cartesian_products"] == 0
        and summary["broadcast_nested_loop_joins"] == 0
    ), f"expected no cartesian/nested-loop join:\n{summary['plan']}"


def _logical_nodes(df: DataFrame, stage: str = "withCachedData"):
    stack = [getattr(df._jdf.queryExecution(), stage)()]
    while stack:
        node = stack.pop()
        yield node
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))


def cached_relations(df: DataFrame) -> int:
    """Number of distinct materialized tables the plan reads: cached
    ones (``cache`` / ``persist``) and persisted local checkpoints; a
    table read by several branches counts once."""
    system = df.sparkSession._jvm.java.lang.System
    seen = set()
    for node in _logical_nodes(df):
        kind = node.getClass().getSimpleName()
        if kind == "InMemoryRelation":
            seen.add(("cache", system.identityHashCode(node.cacheBuilder())))
        elif kind == "LogicalRDD" and node.rdd().getStorageLevel().isValid():
            seen.add(("rdd", node.rdd().id()))
    return len(seen)


def forced_broadcasts(df: DataFrame) -> list:
    """The column names of every relation the plan forces into a
    broadcast (``F.broadcast`` / a BROADCAST hint), one list each."""
    out = []
    for node in _logical_nodes(df, "analyzed"):
        if node.getClass().getSimpleName() == "ResolvedHint":
            strategy = node.hints().strategy()
            if strategy.isDefined() and "BROADCAST" in strategy.get().toString().upper():
                attrs = node.output()
                out.append([attrs.apply(i).name() for i in range(attrs.size())])
    return out


def assert_pushdown(df: DataFrame) -> None:
    """Filters must reach the parquet scan (PushedFilters non-empty)."""
    summary = plan_summary(df)
    assert summary["pushed_filters"], f"expected pushed filters:\n{summary['plan']}"


def global_window_over_unaggregated(df: DataFrame) -> bool:
    """True if the plan runs a Window over an ``Exchange SinglePartition``
    whose input is NOT pre-aggregated — i.e. the whole (potentially
    100 TB) input moves through ONE task for a partition-less window.

    A single-partition window over an *aggregate* output (Pareto over
    25 brands, YoY over 7 years) is bounded by the group count and
    fine; over a raw table it is the classic scale killer (the
    `orders_value_deciles` ntile defect, VERDICT r2). Detection walks
    the physical plan text: for each ``Exchange SinglePartition`` that
    feeds a Window above it, look for any aggregate between the
    exchange and the leaves below it.
    """
    lines = _executed_plan(df).splitlines()
    agg_re = re.compile(r"HashAggregate|SortAggregate|ObjectHashAggregate")
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        # a Window above (textually before) this exchange, with only
        # sort/AQE plumbing in between?
        feeds_window = False
        for j in range(i - 1, -1, -1):
            up = lines[j]
            if "Window" in up:
                feeds_window = True
                break
            if not re.search(r"Sort |AQEShuffleRead|ShuffleQueryStage|WindowGroupLimit|InputAdapter|WholeStageCodegen", up):
                break
        if not feeds_window:
            continue
        # pre-aggregated input below the exchange ⇒ bounded, fine
        if not any(agg_re.search(down) for down in lines[i + 1 :]):
            return True
    return False


def assert_no_global_window(df: DataFrame) -> None:
    """No partition-less Window over an unaggregated input (the
    single-task WindowExec scale killer)."""
    assert not global_window_over_unaggregated(df), (
        f"partition-less Window over unaggregated input:\n{_executed_plan(df)}"
    )
