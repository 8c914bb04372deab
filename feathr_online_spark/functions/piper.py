"""Piper-semantics scalar functions as Column-expression builders.

Each function documents the reference behaviour it reproduces (file:line under
/root/reference) and how it maps onto native Spark.  All are pure Column
expressions: they stay inside whole-stage codegen and never leave the JVM.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# String functions
# ---------------------------------------------------------------------------

def substring0(s: ColumnOrName, start, length) -> Column:
    """0-based substring with negative-from-end start.

    Reference: piper/src/pipeline/function/string_functions.rs:91-124 —
    ``substring(s, start, len)`` is 0-based; a negative start counts from the
    end of the string, and a negative length means "slice up to
    len(s) + length" (i.e. length' = len(s) + length - start').  Spark's
    ``substring`` is 1-based with different negative handling, so normalize
    both first.
    """
    s = _col(s)
    start = F.lit(start) if not isinstance(start, Column) else start
    length = F.lit(length) if not isinstance(length, Column) else length
    # negative start wraps: start' = max(len + start, 0); non-negative is used as-is
    norm = F.when(start < 0, F.greatest(F.length(s) + start, F.lit(0))).otherwise(start)
    # negative length slices to len+length (string_functions.rs:114-118)
    norm_len = F.when(length < 0, F.greatest(F.length(s) + length - norm, F.lit(0))).otherwise(length)
    return F.substring(s, norm + 1, norm_len)


def split_literal(s: ColumnOrName, delim: str) -> Column:
    """Split on a *literal* delimiter (reference treats the delimiter as a
    plain string: string_functions.rs:8-54), whereas Spark ``split`` takes a
    Java regex — so escape the pattern."""
    return F.split(_col(s), re.escape(delim))


# ---------------------------------------------------------------------------
# Array functions
# ---------------------------------------------------------------------------

def element_at0(arr: ColumnOrName, idx) -> Column:
    """0-based ``element_at`` returning null when out of range.

    Reference: misc_functions.rs:306-326 (0-based, null OOR).  Spark's
    ``element_at`` is 1-based and its ``get`` is 0-based null-OOR — use ``get``.
    """
    idx = F.lit(idx) if not isinstance(idx, Column) else idx
    return F.get(_col(arr), idx)


def slice0(arr: ColumnOrName, start, end) -> Column:
    """0-based ``slice(arr, start, end)`` → elements [start, end), negative
    indexes counting from the end.

    Reference: misc_functions.rs:340-359.  Spark's ``slice`` is 1-based
    (start, *length*), so normalize both bounds against the array size.
    ``F.slice`` with length 0 already yields an empty array of the right
    element type, so no special empty-case branch is needed.
    """
    arr = _col(arr)
    start = F.lit(start) if not isinstance(start, Column) else start
    end = F.lit(end) if not isinstance(end, Column) else end
    n = F.size(arr)
    s = F.when(start < 0, F.greatest(n + start, F.lit(0))).otherwise(F.least(start, n))
    e = F.when(end < 0, F.greatest(n + end, F.lit(0))).otherwise(F.least(end, n))
    length = F.greatest(e - s, F.lit(0))
    return F.slice(arr, s + 1, length)


# ---------------------------------------------------------------------------
# Math
# ---------------------------------------------------------------------------

def div(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Integer division: both args cast to long, truncated quotient.
    Reference: math_op.rs:200-228.

    Uses Spark SQL's integral ``div`` (exact i64 arithmetic) — a
    try_divide-then-cast round-trip goes through double and silently rounds
    operands above 2^53."""
    return F.call_function("div", _col(a).cast("long"), _col(b).cast("long"))


def mod_long(a: ColumnOrName, b: ColumnOrName) -> Column:
    """``%`` with both operands forced to long (reference math_op.rs:231-259;
    Spark's ``%`` keeps operand types)."""
    return _col(a).cast("long") % _col(b).cast("long")


def mod_euclid(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Reference ``mod`` = Rust ``rem_euclid`` (function/mod.rs:264): result has
    the sign of the divisor's magnitude (always non-negative for positive b).
    Spark's ``pmod`` has exactly these semantics."""
    return F.pmod(_col(a), _col(b))


def bucket(v: ColumnOrName, *pivots) -> Column:
    """Index of the first pivot strictly greater than v; len(pivots) if none.

    Reference: function/bucket.rs:13-48.  Chained ``when`` folds to a compact
    codegen'd case expression.
    """
    v = _col(v)
    expr = F.lit(len(pivots))
    # build from the last pivot backwards so the first match wins
    for i in range(len(pivots) - 1, -1, -1):
        p = pivots[i]
        p = F.lit(p) if not isinstance(p, Column) else p
        expr = F.when(v < p, F.lit(i)).otherwise(expr)
    return expr


def distance_km(lat1, lng1, lat2, lng2) -> Column:
    """Haversine distance in km (reference misc_functions.rs:361-371), as pure
    column arithmetic — no UDF."""
    lat1, lng1, lat2, lng2 = (_col(c) if isinstance(c, (Column, str)) else F.lit(c)
                              for c in (lat1, lng1, lat2, lng2))
    r = F.lit(6371.0)
    dlat = F.radians(lat2 - lat1)
    dlng = F.radians(lng2 - lng1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlng / 2) ** 2
    )
    return r * F.lit(2.0) * F.asin(F.sqrt(a))


# ---------------------------------------------------------------------------
# Aggregates with piper null semantics
# ---------------------------------------------------------------------------

def piper_avg(x: ColumnOrName) -> Column:
    """Reference ``avg`` counts null rows in the denominator
    (aggregation/sum.rs:51-92 increments the count unconditionally), unlike
    Spark ``avg`` which ignores nulls.  sum(x)/count(*) reproduces it.

    The reference also TRUNCATES integer-column avg (Long sum / Long count
    via DivideOperator, math_op.rs:197); a Column builder can't see input
    types, so the typed DSL path (dsl.py summarize) switches to exact
    integral ``div`` — direct callers with integer columns wanting exact
    reference parity should do the same."""
    return F.sum(_col(x)) / F.count(F.lit(1))


# ---------------------------------------------------------------------------
# Datetime format bridge
# ---------------------------------------------------------------------------

_STRFTIME_TO_JAVA = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%-m": "M", "%d": "dd", "%-d": "d",
    "%H": "HH", "%-H": "H", "%M": "mm", "%-M": "m", "%S": "ss", "%-S": "s",
    "%f": "SSSSSS", "%j": "DDD", "%a": "EEE", "%A": "EEEE", "%b": "MMM",
    "%B": "MMMM", "%p": "a", "%z": "xx", "%%": "%",
}


def strftime_to_java(fmt: str) -> str:
    """Translate a chrono/strftime pattern (the reference's format dialect,
    timestamp.rs:12, e.g. ``"%Y/%-m/%-d %-H:%-M"`` in conf/pipeline.conf:21)
    into a Java DateTimeFormatter pattern for Spark's to_timestamp."""
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%":
            tok = fmt[i : i + 3] if fmt[i : i + 2] == "%-" else fmt[i : i + 2]
            if tok in _STRFTIME_TO_JAVA:
                out.append(_STRFTIME_TO_JAVA[tok])
                i += len(tok)
                continue
            raise ValueError(f"unsupported strftime token at {i}: {fmt[i:]}")
        # literal text that collides with Java pattern letters must be quoted
        if fmt[i].isalpha():
            out.append(f"'{fmt[i]}'")
        else:
            out.append(fmt[i])
        i += 1
    return "".join(out)


def timestamp_strftime(s: ColumnOrName, fmt: str) -> Column:
    """Reference ``timestamp(str, fmt)`` with a chrono format string
    (timestamp.rs:10-80) → Spark to_timestamp with the translated pattern."""
    return F.to_timestamp(_col(s), strftime_to_java(fmt))
