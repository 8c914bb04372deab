"""Physical-plan shape: which exchanges a query plans, and what they move.
Used by tools/plan_audit.py and the plan-shape tests."""

from __future__ import annotations

from pyspark.sql import DataFrame


def _exchanges(df: DataFrame, name: str):
    """Each distinct ``name`` node of ``df``'s physical plan: as planned
    before execution, or AQE's final plan after the frame's own action ran
    (query stages are walked into).  Subtrees the plan repeats (and Spark's
    exchange reuse would run once) are yielded once."""
    seen, stack = set(), [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.nodeName()
        if kind == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if kind == "ReusedExchange":
            stack.append(node.child())
            continue
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
        if kind == name and node.semanticHash() not in seen:
            seen.add(node.semanticHash())
            yield node


def _output(node) -> dict[str, str]:
    attrs = node.output()
    return {attrs.apply(i).name(): attrs.apply(i).dataType().typeName()
            for i in range(attrs.size())}


def shuffle_exchanges(df: DataFrame) -> list[tuple[str, set[str]]]:
    """``(partitioning, output column names)`` for each distinct shuffle
    exchange of ``df``'s physical plan."""
    return [(node.outputPartitioning().toString(), set(_output(node)))
            for node in _exchanges(df, "Exchange")]


def broadcast_outputs(df: DataFrame) -> list[dict[str, str]]:
    """``{column: type name}`` of each distinct broadcast exchange of
    ``df``'s physical plan (``"array"`` marks an array column)."""
    return [_output(node) for node in _exchanges(df, "BroadcastExchange")]
