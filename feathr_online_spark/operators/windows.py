"""Windowed feature engineering: lag/lead, rolling aggregates, gap-based
sessionization, forward-fill backfill.

The reference has NO window functions (SURVEY.md §2.6 — `window` is commented
out of its registry, function/mod.rs:328,413); these are the batch-window
primitives the north rule pairs with the as-of join.  All are single-shuffle
``Window.partitionBy(entity).orderBy(ts)`` constructions — pure JVM window
exec, no Python.

Scale: each helper shuffles once on the entity key (or reuses an existing
entity partitioning — consecutive window ops over the same (partitionBy,
orderBy) share one sort in the physical plan).  Skewed entities belong on
``operators.pit.pit_enrich``'s bucketed hot branch, which splits them by
(entity, time bucket).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec


# rolling aggregate name → function, for ``rolling`` and skew.py's bucketed core
ROLLING_FNS = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max,
               "count": F.count, "stddev": F.stddev}


def entity_window(on: str = "entity", ts: str = "event_time") -> WindowSpec:
    return Window.partitionBy(on).orderBy(ts)


def lag_lead(
    df: DataFrame,
    cols: Mapping[str, tuple[str, int]],
    on: str = "entity",
    ts: str = "event_time",
) -> DataFrame:
    """Add lag/lead columns: ``cols`` maps output name → (source col, offset);
    negative offset = lag, positive = lead.  e.g. ``{"prev_v": ("value", -1)}``."""
    w = entity_window(on, ts)
    out = {}
    for name, (src, off) in cols.items():
        out[name] = F.lag(src, -off).over(w) if off < 0 else F.lead(src, off).over(w)
    return df.withColumns(out)


def rolling(
    df: DataFrame,
    aggs: Mapping[str, tuple[Column | str, str]],
    on: str = "entity",
    ts: str = "event_time",
    rows: int | None = None,
    range_seconds: int | None = None,
    include_current: bool = True,
) -> DataFrame:
    """Rolling aggregates over a trailing window per entity.

    ``aggs`` maps output name → (column, fn) with fn ∈ {sum, avg, min, max,
    count, stddev}.  Exactly one of ``rows`` (last N rows) or ``range_seconds``
    (time-based lookback) must be given.  ``include_current=False`` ends the
    frame one step before the current row — the leakage-safe variant for
    features describing "history before now".
    """
    if (rows is None) == (range_seconds is None):
        raise ValueError("rolling: specify exactly one of rows / range_seconds")
    upper = Window.currentRow if include_current else -1
    if rows is not None:
        w = entity_window(on, ts).rowsBetween(-(rows - 1) if include_current else -rows, upper)
    else:
        # rangeBetween needs a numeric ordering column — MICROSECONDS since
        # epoch, so sub-second timestamps frame exactly (whole-second
        # unix_timestamp would silently lump a whole second together and
        # disagree with a fractional-epoch oracle at gap boundaries).
        # include_current=False ends the frame 1 µs before the current value:
        # "strictly before the current row's instant".
        w = (
            Window.partitionBy(on)
            .orderBy(F.unix_micros(F.col(ts)))
            .rangeBetween(-range_seconds * 1_000_000, 0 if include_current else -1)
        )
    out = {}
    for name, (col, fn) in aggs.items():
        out[name] = ROLLING_FNS[fn](col).over(w)
    return df.withColumns(out)


def gap_micros(gap_seconds: float) -> Column:
    """A session gap as a BIGINT microsecond literal.  ``F.lit(gap) * 1_000_000``
    is int × int and wraps at 2148 s with ANSI off (3600 s became
    −694,967,296 µs: every row a new session)."""
    if isinstance(gap_seconds, bool) or not gap_seconds > 0 or gap_seconds != int(gap_seconds):
        raise ValueError(f"session gap must be a positive whole number of seconds, got {gap_seconds!r}")
    return F.lit(int(gap_seconds) * 1_000_000).cast("long")


def sessionize(
    df: DataFrame,
    gap_seconds: int,
    on: str = "entity",
    ts: str = "event_time",
    session_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since the
    entity's previous event exceeds ``gap_seconds``.

    Classic two-window construction: lag diff → boundary flag → running sum of
    flags = per-entity session ordinal (0-based).  Both windows share one
    partitioning+sort, so the physical plan has a single shuffle and one sort.
    """
    w = entity_window(on, ts)
    prev = F.lag(F.col(ts)).over(w)
    # gap math in MICROSECONDS — exact for sub-second timestamps (floored
    # unix_timestamp diffs disagree with fractional-epoch oracles by ±1 s at
    # gap boundaries).
    is_new = (
        prev.isNull()
        | (F.unix_micros(F.col(ts)) - F.unix_micros(prev) > gap_micros(gap_seconds))
    ).cast("long")
    run = Window.partitionBy(on).orderBy(ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(session_col, F.sum(is_new).over(run) - F.lit(1))


def forward_fill(
    df: DataFrame,
    cols: list[str],
    on: str = "entity",
    ts: str = "event_time",
) -> DataFrame:
    """Backfill nulls with the most recent non-null value per entity:
    ``last(col, ignorenulls=True)`` over an unbounded-preceding frame —
    the standard Spark forward-fill (SURVEY.md §7.1 step 6)."""
    w = entity_window(on, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumns({c: F.last(F.col(c), ignorenulls=True).over(w) for c in cols})
