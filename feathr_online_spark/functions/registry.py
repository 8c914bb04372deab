"""Complete piper built-in function registry → Spark Column builders.

Mirrors the reference's registry (piper/src/pipeline/function/mod.rs:49-437,
which deliberately uses Spark SQL names) name-for-name.  Most entries ARE the
same-named ``pyspark.sql.functions``; entries whose reference semantics differ
(0-based indexing, literal split, euclidean mod, ±1-day last_day/next_day…)
point at the quirk wrappers in functions/piper.py, so a caller migrating off
the reference gets reference behaviour by name.

Usage::

    from feathr_online_spark.functions.registry import fn
    df.select(fn("substring")(F.col("s"), 0, 5))   # piper 0-based semantics
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from feathr_online_spark.functions import piper as P

# -- custom/quirk implementations -------------------------------------------


def _c(x) -> Column:
    """Accept Columns or python scalars (the DSL passes literals natively)."""
    return x if isinstance(x, Column) else F.lit(x)


def _log_piper(x, base=None):
    """Reference ``log(x, base)`` is strictly binary with the VALUE first
    (mod.rs:235 binary_fn(f64::log) — Rust's self.log(base) = ln(self)/
    ln(base)); Spark's log(base, x) takes the base first, so a passthrough
    would silently compute the reciprocal.  The unary form is allowed here
    as ln for Spark-compat."""
    if base is None:
        return F.log(_c(x))
    return F.ln(_c(x)) / F.ln(_c(base))


def _dayofweek_piper(x):
    """Reference bug-compat: dayofweek = (chrono weekday + 2) % 8
    (mod.rs:148) — Mon=2 … Sat=7 like Spark, but SUNDAY = 0 where Spark
    says 1 (the modulus should have been %7+1)."""
    d = F.dayofweek(x)  # Spark: Sun=1 … Sat=7
    return F.when(d == 1, F.lit(0)).otherwise(d)


def _date_from_unix_date_piper(x):
    """Reference bug-compat: date_from_unix_date interprets the int as days
    from the Common Era (mod.rs:141 from_num_days_from_ce: day 1 =
    0001-01-01), NOT days since the 1970 epoch as the Spark-named intent
    (and Spark's own function) would."""
    return F.date_add(F.make_date(F.lit(1), F.lit(1), F.lit(1)), _c(x).cast("int") - 1)


def _last_day_piper(x):
    """Reference bug-compat: last_day = date - 1 day (function/mod.rs:224,
    ``v - Duration::days(1)``), NOT Spark's end-of-month."""
    return F.date_sub(x, 1)


def _next_day_piper(x):
    """Reference bug-compat: next_day = date + 1 day (function/mod.rs:271),
    NOT Spark's next-weekday."""
    return F.date_add(x, 1)


def _get_json_array(col, path: str):
    """Reference get_json_array: ALL JsonPath matches as an array
    (extract_json.rs:45-80, full JsonPath via jsonpath_lib).

    One deliberate, documented delta: a single-location path (fields/indexes
    only, e.g. ``$.a``) whose match IS an array unwraps into its elements —
    so ``$.a`` and the reference-canonical ``$.a[*]`` agree — instead of the
    reference's one-element array-of-array.  Elements serialize as strings
    unquoted, objects/arrays compact JSON, JSON null → SQL NULL.

    No native fast path: Spark's get_json_object output is LOSSY text — a
    STRING value that happens to look like a JSON array ('{"a": "[1,2]"}')
    is indistinguishable from an actual array, and a JSON-null match from a
    missing one — so a JVM-side reimplementation silently diverges from the
    evaluator on exactly those inputs (found in round-3 code review).  The
    Arrow-vectorized evaluator parses the document once and keeps real
    types; it IS the semantics."""
    from feathr_online_spark.functions import jsonpath as JP

    return JP.get_json_array_udf(path)(_c(col))


def _get_json_object(col, path: str):
    """Reference get_json_object: FIRST JsonPath match (extract_json.rs:6-42).
    Spark's native function evaluates the simple-path subset in the JVM —
    keep it for those; full-JsonPath paths fall back to the evaluator.
    Wildcard paths must NOT take the native path: Spark's get_json_object
    collects ALL wildcard matches into a JSON array, where the reference
    returns the FIRST match."""
    from feathr_online_spark.functions import jsonpath as JP

    if JP.spark_native_path(path) and "*" not in path:
        return F.get_json_object(col, path)
    return JP.get_json_object_udf(path)(_c(col))


def _bit_fold(op: str, xs) -> Column:
    """Row-wise variadic bitwise fold (reference function/mod.rs:91-97) —
    long-cast operands, left fold from the first argument."""
    if not xs:
        raise ValueError("bitwise fold: at least one argument required")
    cols = [_c(x).cast("long") for x in xs]
    out = cols[0]
    for c in cols[1:]:
        out = getattr(out, op)(c)
    return out


def _bool_fold(op: str, xs) -> Column:
    """Row-wise variadic all/any (reference function/mod.rs:98-99,161)."""
    if not xs:
        raise ValueError("boolean fold: at least one argument required")
    cols = [_c(x).cast("boolean") for x in xs]
    out = cols[0]
    for c in cols[1:]:
        out = getattr(out, op)(c)
    return out


def _iff(cond, a, b):
    return F.when(cond, a).otherwise(b)


def _case_fn(*args):
    """Function-call ``case(cond1, val1, cond2, val2, ..., [default])`` —
    first true condition wins, trailing odd argument is the default
    (reference function/case.rs:40-55).  A NULL condition is an ERROR there
    (get_bool Err, case.rs:49) → null under error-as-value — NOT 'false';
    the null-check when() precedes each condition so evaluation order
    matches (a null first condition nulls the row even if a later condition
    would match)."""
    if not args:
        raise ValueError("case: at least one argument required")
    expr = None
    i = 0
    while i + 1 < len(args):
        # conditions may arrive as python literals from the DSL — F.when
        # demands a Column
        cond, val = _c(args[i]), _c(args[i + 1])
        nullhit = (cond.isNull(), F.lit(None))
        if expr is None:
            expr = F.when(*nullhit).when(cond, val)
        else:
            expr = expr.when(*nullhit).when(cond, val)
        i += 2
    default = _c(args[i]) if i < len(args) else None
    if expr is None:
        return default
    return expr.otherwise(default) if default is not None else expr


def _parse_chrono_ts(x, fmt=None, tz=None):
    t = F.to_timestamp(_c(x)) if fmt is None else P.timestamp_strftime(x, fmt)
    if tz is not None:
        t = F.to_utc_timestamp(t, tz)
    return t


def _timestamp_dt(x, fmt=None, tz=None):
    """Reference ``timestamp(str[, fmt[, tz]])`` — registered to
    datetime_functions.rs:52-79 ``to_timestamp`` (mod.rs:366): parses with a
    chrono format (default ``%Y-%m-%d %H:%M:%S``), interprets the wall time
    in ``tz`` (default UTC), and returns the instant as a DATETIME value.
    The epoch-seconds variant is unix_timestamp/to_unix_timestamp below."""
    return _parse_chrono_ts(x, fmt, tz)


def _unix_timestamp(x, fmt=None, tz=None):
    """Reference ``unix_timestamp``/``to_unix_timestamp`` (TimestampFunction,
    timestamp.rs:14-110, mod.rs:377,402): same chrono parsing, but the result
    is the epoch as a DOUBLE of whole seconds (chrono ``.timestamp()``
    floors); a DateTime input passes through to its epoch."""
    return F.unix_timestamp(_parse_chrono_ts(x, fmt, tz)).cast("double")


def _array_contains_piper(arr, v):
    """Reference array_contains is a plain equality scan (array_functions.rs
    test: contains(arr, null) = FALSE, contains(arr-with-null, missing) =
    FALSE), where Spark's SQL semantics yield NULL in both cases.  Coalesce
    to false — but only when the array itself is non-null (a null array stays
    null, the error-as-value convention)."""
    arr = _c(arr)
    return F.when(arr.isNull(), F.lit(None).cast("boolean")).otherwise(
        F.coalesce(F.array_contains(arr, v), F.lit(False))
    )


def _split_part_piper(s, delim, part):
    """Reference split_part (string_functions.rs:176-186): 1-based on a
    LITERAL delimiter; part 0 or out-of-range is an error → null under the
    error-as-value convention.  Spark's split_part returns '' out-of-range
    and supports negative parts — both diverge."""
    parts = P.split_literal(_c(s), delim)
    p = _c(part).cast("int")
    return F.when((p >= 1) & (p <= F.size(parts)), F.element_at(parts, p))


def _translate_piper(s, frm, to):
    """Reference translate (string_functions.rs:187-203) errors when from/to
    lengths differ (error-as-value → null); Spark would silently DELETE the
    unmatched characters.  from/to are literals in both engines, so the
    length check happens at plan build."""
    if isinstance(frm, str) and isinstance(to, str) and len(frm) != len(to):
        return F.lit(None).cast("string")
    return F.translate(_c(s), frm, to)


def _ascii_piper(s):
    """Reference ascii('') = null (misc_functions.rs:43-45 chars().next()
    None); Spark returns 0."""
    s = _c(s)
    return F.when(F.length(s) == 0, F.lit(None).cast("int")).otherwise(F.ascii(s))


def _array_except_piper(a, b):
    """Reference array_except is a FILTER, not a set op (array_functions.rs:
    19-27): left-side duplicates and order are preserved ([1,1,2]∖[2] =
    [1,1]); Spark's array_except dedups.  Membership is Value equality →
    null-safe equals."""
    a, b = _c(a), _c(b)
    return F.filter(a, lambda x: ~F.exists(b, lambda e: e.eqNullSafe(x)))


def _array_intersect_piper(a, b):
    """Reference array_intersect keeps left duplicates/order
    (array_functions.rs:29-37); Spark dedups."""
    a, b = _c(a), _c(b)
    return F.filter(a, lambda x: F.exists(b, lambda e: e.eqNullSafe(x)))


def _array_union_piper(a, b):
    """Reference array_union = the left array VERBATIM (duplicates kept)
    plus each right element not already present (array_functions.rs:
    167-175); Spark dedups both sides."""
    a, b = _c(a), _c(b)
    fresh = F.array_distinct(F.filter(b, lambda y: ~F.exists(a, lambda e: e.eqNullSafe(y))))
    return F.concat(a, fresh)


def _arrays_zip_piper(a, b):
    """Reference arrays_zip pairs elements as 2-element ARRAYS and TRUNCATES
    to the shorter input (array_functions.rs:186-197); Spark returns structs
    padded with nulls to the longer."""
    a, b = _c(a), _c(b)
    n = F.least(F.size(a), F.size(b))
    return F.zip_with(F.slice(a, 1, n), F.slice(b, 1, n), lambda x, y: F.array(x, y))


def _array_position_piper(arr, v):
    """Reference array_position returns NULL when the value is absent
    (array_functions.rs:135-143); Spark returns 0.  Both are 1-based."""
    return F.nullif(F.array_position(_c(arr), v), F.lit(0))


def _to_json_piper(x):
    """Reference to_json serializes ANY value to compact JSON — scalars
    included: to_json(5)='5', to_json("a")='"a"' (to_json.rs:16-25, serde
    to_string).  Spark's to_json only accepts struct/map/array, so wrap the
    value in a one-field struct, serialize natively, and strip the literal
    '{"v":' wrapper with an anchored extract (inner content may contain any
    braces/quotes — the anchors make the capture exact).  A null input
    serializes to 'null' like serde, where the struct trick would drop the
    field."""
    x = _c(x)
    wrapped = F.to_json(F.struct(x.alias("v")))
    return F.when(x.isNull(), F.lit("null")).otherwise(
        F.regexp_extract(wrapped, r'^\{"v":(.*)\}$', 1)
    )


def _piper_len(x):
    """Reference len/length dispatches on the runtime Value type — string
    chars or array count (len.rs:14-31; maps/other types are errors there
    too).  A bare Column builder cannot see the operand type, so this entry
    builds STRING length — and on an array-typed operand Spark's analyzer
    REJECTS it loudly (DATATYPE_MISMATCH), never a silent cast.  Two
    schema-aware paths supply the array dispatch:

    - the DSL ExprCompiler tracks static types (array → ``array_size``,
      dynamic → runtime carrier dispatch, dsl.py);
    - ``Pipeline.project`` resolves the operand tag attached below against
      ``df.schema`` at apply time, swapping in ``array_size`` for
      array-typed operands — so ``p.project(n=fn("len")(col))`` works for
      string AND array columns.
    """
    from pyspark.sql.functions import col as _colf

    operand = _colf(x) if isinstance(x, str) else x
    c = F.length(operand)
    # leading-dunder name: pyspark Column.__getattr__ treats other names as
    # struct-field access, which would make every column look tagged
    setattr(c, "__piper_len_operand", operand)
    return c


_REGISTRY: dict[str, object] = {
    # --- math (function/mod.rs:53-365) ---
    "abs": F.abs, "acos": F.acos, "acosh": F.acosh, "asin": F.asin, "asinh": F.asinh,
    "atan": F.atan, "atan2": F.atan2, "atanh": F.atanh, "cbrt": F.cbrt,
    "ceil": F.ceil, "ceiling": F.ceil, "cos": F.cos, "cosh": F.cosh,
    "cot": F.cot, "csc": F.csc, "sec": F.sec, "degrees": F.degrees,
    "e": lambda: F.lit(math.e), "pi": lambda: F.lit(math.pi), "tau": lambda: F.lit(math.tau),
    "exp": F.exp, "expm1": F.expm1, "factorial": F.factorial, "floor": F.floor,
    "hypot": F.hypot, "ln": F.log, "log": _log_piper, "log10": F.log10, "log1p": F.log1p,
    "log2": F.log2, "mod": P.mod_euclid,
    # reference Conv (misc_functions.rs:218-250) emits digits least-
    # significant-FIRST and never reverses (conv("30",10,16) = "e1"!),
    # panics on invalid digits, and renders 0 as "" — evident bugs we
    # deliberately do NOT replicate (like bit_and's fold-from-0).  We DO
    # match its lowercase digit alphabet; Spark's conv is uppercase.
    "conv": lambda x, f, t: F.lower(F.conv(_c(x), f, t)),
    "pow": F.pow, "power": F.pow, "radians": F.radians, "round": F.round,
    "sign": F.signum, "signum": F.signum, "sin": F.sin, "sinh": F.sinh,
    "sqrt": F.sqrt, "tan": F.tan, "tanh": F.tanh,
    "rand": F.rand, "random": F.rand,
    "shuffle": F.shuffle,                # rand_functions::shuffle (mod.rs:335)
    # --- bitwise ---
    # The reference registers bit_and/or/xor as VARIADIC SCALAR folds
    # (function/mod.rs:91-97), not aggregates.  NB its bit_and folds from an
    # accumulator of 0 (`fold(0, |acc, x| acc & x)`) and therefore always
    # returns 0 — an evident reference bug we deliberately do NOT replicate:
    # the fold here starts from the first argument.
    "bit_and": lambda *xs: _bit_fold("bitwiseAND", xs),
    "bit_or": lambda *xs: _bit_fold("bitwiseOR", xs),
    "bit_xor": lambda *xs: _bit_fold("bitwiseXOR", xs),
    "bit_count": F.bit_count, "bit_get": F.bit_get, "getbit": F.getbit,
    "bit_length": F.bit_length, "bit_not": F.bitwise_not,
    "shiftleft": F.shiftleft, "shiftright": F.shiftright,
    "shiftrightunsigned": F.shiftrightunsigned,
    # the reference registers these as VARIADIC SCALAR all/any over the
    # arguments (function/mod.rs:98-99,161), not aggregates — the aggregate
    # forms live in functions/aggregations.py
    "bool_and": lambda *xs: _bool_fold("__and__", xs),
    "bool_or": lambda *xs: _bool_fold("__or__", xs),
    "every": lambda *xs: _bool_fold("__and__", xs),
    # --- string (string_functions.rs, misc_functions.rs:43-186) ---
    "ascii": _ascii_piper, "btrim": F.btrim, "char": F.char, "chr": F.char,
    "char_length": F.char_length, "character_length": F.character_length,
    "concat": F.concat, "concat_ws": F.concat_ws, "contains": F.contains,
    "endswith": F.endswith, "startswith": F.startswith, "instr": F.instr,
    "lcase": F.lower, "lower": F.lower, "ucase": F.upper, "upper": F.upper,
    "levenshtein": F.levenshtein, "ltrim": F.ltrim, "rtrim": F.rtrim, "trim": F.trim,
    "repeat": F.repeat,
    "space": lambda n: F.repeat(F.lit(" "), n),
    "split": P.split_literal,            # piper splits on a LITERAL delimiter
    "split_part": _split_part_piper,
    "substring": P.substring0,           # piper is 0-based w/ negative wrap
    "substring_index": F.substring_index, "translate": _translate_piper,
    # --- datetime (datetime_functions.rs, timestamp.rs) ---
    "add_months": F.add_months, "current_date": F.current_date,
    "current_timestamp": F.current_timestamp, "current_timezone": F.current_timezone,
    "now": F.now,
    # reference `date` is TypeConverterFunction{to: DateTime} (mod.rs:138) —
    # piper has ONE temporal type, so date("2024-01-01 10:00") KEEPS the time
    "date": lambda x: _c(x).cast("timestamp"),
    "date_add": F.date_add, "date_sub": F.date_sub, "date_diff": F.date_diff,
    "date_from_unix_date": _date_from_unix_date_piper,
    "day": F.day, "dayofmonth": F.dayofmonth, "dayofweek": _dayofweek_piper,
    "dayofyear": F.dayofyear, "weekday": F.weekday, "weekofyear": F.weekofyear,
    "hour": F.hour, "minute": F.minute, "month": F.month, "quarter": F.quarter,
    "second": F.second, "year": F.year,
    "from_utc_timestamp": F.from_utc_timestamp, "to_utc_timestamp": F.to_utc_timestamp,
    "last_day": _last_day_piper, "next_day": _next_day_piper,
    "make_date": F.make_date, "make_timestamp": F.make_timestamp,
    "timestamp": _timestamp_dt,
    "timestamp_micros": F.timestamp_micros, "timestamp_millis": F.timestamp_millis,
    "timestamp_seconds": F.timestamp_seconds,
    "to_unix_timestamp": _unix_timestamp, "unix_timestamp": _unix_timestamp,
    "unix_date": F.unix_date, "unix_micros": F.unix_micros,
    "unix_millis": F.unix_millis, "unix_seconds": F.unix_seconds,
    # --- array (array_functions.rs, misc_functions.rs:306-359, len.rs) ---
    "array": F.array, "array_contains": _array_contains_piper,
    "array_distinct": F.array_distinct, "array_except": _array_except_piper,
    "array_intersect": _array_intersect_piper, "array_join": F.array_join,
    "array_max": F.array_max, "array_min": F.array_min,
    "array_position": _array_position_piper, "array_remove": F.array_remove,
    "array_repeat": F.array_repeat, "array_size": F.array_size,
    "array_union": _array_union_piper, "arrays_overlap": F.arrays_overlap,
    "arrays_zip": _arrays_zip_piper, "flatten": F.flatten, "size": F.size,
    "slice": P.slice0,                   # piper 0-based [start, end)
    "element_at": P.element_at0,         # piper 0-based, null OOR
    "elt": F.elt, "length": _piper_len, "len": _piper_len,
    # --- map/object (mod.rs:249-255) ---
    "map_contains_key": F.map_contains_key, "map_from_arrays": F.map_from_arrays,
    "map_keys": F.map_keys, "map_values": F.map_values,
    # --- JSON (extract_json.rs, to_json.rs, misc_functions.rs:275-304) ---
    "get_json_object": _get_json_object, "get_json_array": _get_json_array,
    "json_array_length": F.json_array_length, "json_object_keys": F.json_object_keys,
    "to_json": _to_json_piper,
    # --- regex (regexp.rs) ---
    "regexp": F.regexp_like, "regexp_like": F.regexp_like,
    # reference regexp_extract's group index is OPTIONAL (default 1,
    # regexp.rs:12-16); Spark's wrapper requires it
    "regexp_extract": lambda s, re, idx=1: F.regexp_extract(_c(s), re, idx),
    # reference regexp_extract_all is BINARY and returns the WHOLE matches
    # (group 0, regexp.rs:25-34); Spark's optional idx defaults to group 1
    "regexp_extract_all": lambda s, re, idx=0: F.regexp_extract_all(_c(s), _c(re), _c(idx)),
    "regexp_replace": F.regexp_replace,
    # --- conditional/null (mod.rs:198-291) ---
    "if": _iff, "iff": _iff, "case": _case_fn,   # function/case.rs via mod.rs:431
    "ifnull": F.ifnull, "isnan": F.isnan,
    "isnotnull": F.isnotnull, "isnull": F.isnull, "nanvl": F.nanvl,
    "nullif": F.nullif, "nvl": F.nvl, "nvl2": F.nvl2, "coalesce": F.coalesce,
    "positive": F.positive,
    # --- type conversion (type_conv.rs) ---
    "bigint": lambda x: _c(x).cast("long"), "int": lambda x: _c(x).cast("int"),
    "double": lambda x: _c(x).cast("double"), "float": lambda x: _c(x).cast("float"),
    "boolean": lambda x: _c(x).cast("boolean"), "string": lambda x: _c(x).cast("string"),
    # --- piper extras (mod.rs:429-435) ---
    "bucket": P.bucket, "distance": P.distance_km, "uuid": F.uuid,
    "div": P.div,
}


def fn(name: str):
    """Look up a piper built-in by name; raises KeyError with the full list
    on miss (same behaviour as the reference's unknown-function build error)."""
    key = name.lower()
    if key not in _REGISTRY:
        raise KeyError(f"unknown piper function '{name}'")
    return _REGISTRY[key]


def names() -> list[str]:
    return sorted(_REGISTRY)


def register_udf(name: str, pandas_fn, return_type: str) -> None:
    """User-defined functions — the reference's Python UDF surface
    (python/src/lib.rs:399-461: plain callables registered by name and
    resolved at pipeline build).  Here the callable must be VECTORIZED
    (pandas Series in → Series out) and is wrapped as a pandas_udf, so it
    crosses to the JVM via Arrow batches — per-row Python (the reference's
    per-call GIL round-trip, lib.rs:266-287) is exactly what the north rule
    forbids, so it is not offered.

    Once registered the name resolves via ``fn()`` and therefore from DSL
    pipelines too::

        register_udf("inc", lambda s: s + 1, "long")
        parse_pipelines("t(x as int)\\n| project y = inc(x)\\n;")

    The callable must be ELEMENT-WISE: it receives one Arrow batch at a time,
    so anything depending on cross-row state (``s.mean()`` etc.) silently
    computes per-batch values — use an aggregation or window for that.
    """
    from pyspark.sql.functions import pandas_udf

    key = name.lower()
    if key in _REGISTRY:
        raise ValueError(f"function '{name}' already registered")
    _REGISTRY[key] = pandas_udf(pandas_fn, return_type)


def unregister_udf(name: str) -> None:
    _REGISTRY.pop(name.lower(), None)
