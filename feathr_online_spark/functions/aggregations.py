"""Aggregation-function registry with piper semantics.

Mirrors the reference registry (piper/src/pipeline/aggregation/mod.rs:78-104).
The reference implements each as a row-at-a-time accumulator; here each is a
Spark aggregate expression, so partial (map-side) + final aggregation and
spill come for free.  Documented deltas (SURVEY.md §2.3):

- ``avg``/``mean`` counts null rows in the denominator (aggregation/sum.rs:
  51-92) → sum/count(*) instead of F.avg;
- ``every``/``any`` treat null as false (all_any.rs) → coalesce first;
- ``array_agg``/``collect_list``/``collect_set``/``array_agg_if`` keep nulls
  in the reference (array_agg.rs: feed() pushes every Value, including
  Value::Null) where Spark's collect_list/collect_set drop them — replicated
  via the struct-wrap trick (SURVEY §7.3.4): wrap each element in a non-null
  struct so collect_list keeps it, then ``transform`` unwraps.  collect_set
  additionally preserves the reference SetAgg's first-encounter dedup via
  ``array_distinct`` over the wrapped list.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from feathr_online_spark.functions import piper as P


def _count(*args) -> Column:
    return F.count(F.lit(1))


def _count_if(cond) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0)).cast("long")


def _distinct_count(*cols) -> Column:
    return F.countDistinct(*cols)


def _every(b) -> Column:
    return F.bool_and(F.coalesce(b, F.lit(False)))


def _any(b) -> Column:
    return F.bool_or(F.coalesce(b, F.lit(False)))


def _ignore_null_flag(ignore_null, name: str) -> bool:
    # Spark's first/last take ignorenulls as a PLAN-TIME boolean; a
    # column-valued flag (per-row ignore_null) cannot be honored, so raise
    # instead of silently treating it as False (VERDICT r2 #6).
    if isinstance(ignore_null, Column):
        raise TypeError(
            f"{name}(x, ignore_null): ignore_null must be a literal boolean, "
            "not a column — Spark fixes the flag at plan time"
        )
    return bool(ignore_null)


def _first(x, ignore_null=None) -> Column:
    return F.first(x, ignorenulls=_ignore_null_flag(ignore_null, "first"))


def _last(x, ignore_null=None) -> Column:
    return F.last(x, ignorenulls=_ignore_null_flag(ignore_null, "last"))


def _wrapped(x) -> Column:
    x = x if isinstance(x, Column) else F.col(x)
    return F.struct(x.alias("v"))


def _unwrap(arr: Column) -> Column:
    return F.transform(arr, lambda s: s["v"])


def _array_agg(x) -> Column:
    # reference ArrayAgg keeps nulls (array_agg.rs feed() pushes every value);
    # collect_list drops them, so collect non-null STRUCTS and unwrap
    return _unwrap(F.collect_list(_wrapped(x)))


def _collect_set(x) -> Column:
    # reference SetAgg: first-encounter dedup, null retained (array_agg.rs:52)
    return F.array_distinct(_unwrap(F.collect_list(_wrapped(x))))


def _array_agg_if(x, cond) -> Column:
    # push x where cond is true — including null x (array_agg.rs:84-86); a
    # false/null cond nulls the whole struct, which collect_list drops
    return _unwrap(F.collect_list(F.when(cond, _wrapped(x))))


_AGG_REGISTRY: dict[str, object] = {
    "count": _count,
    "count_if": _count_if,
    "distinct_count": _distinct_count,
    "sum": F.sum,
    "avg": P.piper_avg,
    "mean": P.piper_avg,
    "min": F.min,
    "least": F.min,
    "max": F.max,
    "greatest": F.max,
    # piper argument order is (key, value): min_by(a, b) = value of b at the
    # minimum a (aggregation/min_max.rs:109-274).  Spark/DuckDB min_by(x, y)
    # is the REVERSE (x at minimum y), so swap.
    "min_by": lambda a, b: F.min_by(b, a),
    "max_by": lambda a, b: F.max_by(b, a),
    "every": _every,
    "any": _any,
    "some": _any,
    "first": _first,
    "first_value": _first,
    "last": _last,
    "last_value": _last,
    "array_agg": _array_agg,
    "collect_list": _array_agg,
    "collect_set": _collect_set,
    "array_agg_if": _array_agg_if,
}


def agg_fn(name: str):
    key = name.lower()
    if key not in _AGG_REGISTRY:
        raise KeyError(f"unknown aggregation function '{name}'")
    return _AGG_REGISTRY[key]

