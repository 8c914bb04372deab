"""Physical-plan shape: which shuffles a query plans, and what they move.
Used by tools/plan_audit.py and the plan-shape tests."""

from __future__ import annotations

from pyspark.sql import DataFrame


def shuffle_exchanges(df: DataFrame) -> list[tuple[str, set[str]]]:
    """``(partitioning, output column names)`` for each distinct shuffle
    exchange of ``df``'s physical plan as planned, before AQE re-plans it.
    Subtrees the plan repeats (and Spark's exchange reuse would run once)
    are listed once."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    seen, out, stack = set(), [], [plan]
    while stack:
        node = stack.pop()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
        if node.nodeName() == "Exchange" and node.semanticHash() not in seen:
            seen.add(node.semanticHash())
            attrs = node.output()
            out.append((node.outputPartitioning().toString(),
                        {attrs.apply(i).name() for i in range(attrs.size())}))
    return out
