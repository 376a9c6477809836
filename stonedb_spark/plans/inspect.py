"""Physical-plan inspection helpers.

The reference's performance story is its Knowledge Grid: per-pack
min/max/histogram pruning decided before touching data
(PrepareRoughMultiIndex, storage/tianmu/core/parameterized_filter.cpp:1145).
The Spark analog is Parquet row-group statistics + predicate pushdown +
column pruning; these helpers make that *testable* — every headline
query asserts that its filters reached the scan, its projection pruned
the schema, and its bounded dims broadcast, so a regression that turns
a pruned scan into a full scan fails CI instead of shipping a 100 TB
slowdown.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    plan = formatted_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan)]


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_nested_loop_join(df: DataFrame) -> bool:
    return "BroadcastNestedLoopJoin" in formatted_plan(df) or "CartesianProduct" in (
        formatted_plan(df)
    )


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen stages in the (executed) plan.
    Codegen nodes print as ``*(n) Op`` in simple mode."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def shuffle_exchange_count(df: DataFrame) -> int:
    """Shuffle (hash/range) Exchanges in the plan — broadcast excluded.

    The co-located-join gate: two tables bucketed on the join key must
    join with ZERO shuffle exchanges.  Uses simple explain mode —
    formatted mode moves the partitioning arguments into a detail
    section detached from the Exchange node name."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "simple"
    )
    return len(re.findall(r"\bExchange (?:hash|range)partitioning", plan))


def partitionless_windows(df: DataFrame) -> list[str]:
    """Window specs with an EMPTY partition clause — the plan shapes
    that drag the whole input into ONE task (Spark itself warns
    "Moving all data to a single partition").  Detected from the
    windowspecdefinition(...) rendering: partition columns print bare,
    order columns carry ASC/DESC — so a spec whose FIRST argument is
    ordered (or absent) has no partition clause."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        seg = plan[m.end(): m.end() + 400]
        pre = seg.split("specifiedwindowframe", 1)[0]
        first = pre.split(",", 1)[0].strip()
        if not first or " ASC" in first or " DESC" in first:
            out.append(first or "<empty spec>")
    return out


def _descend(root) -> list:
    """Every node under the physical plan node ``root``, as JVM objects.

    Descends ``AdaptiveSparkPlanExec.finalPhysicalPlan()`` and each
    ``*QueryStageExec.plan()``, so after an action the list holds the
    plan AQE actually ran (before one, the initial plan)."""
    out: list = []
    todo = [root]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        out.append(node)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def broadcast_exchanges(df: DataFrame) -> list[tuple[int, list[str]]]:
    """``(output rows, scanned root paths)`` of every BroadcastExchange
    in the executed plan.  Row counts are the exchange's
    ``numOutputRows`` metric, so they are real only after an action."""
    out = []
    for node in _descend(df._jdf.queryExecution().executedPlan()):  # noqa: SLF001
        if node.getClass().getSimpleName() != "BroadcastExchangeExec":
            continue
        paths = [
            str(p)
            for scan in _descend(node)
            if scan.getClass().getSimpleName() == "FileSourceScanExec"
            for p in scan.relation().location().rootPaths().mkString("\n").split("\n")
        ]
        out.append((int(node.metrics().apply("numOutputRows").value()), paths))
    return out
