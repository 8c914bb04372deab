"""Pure-Python JsonPath evaluator + Arrow-vectorized Spark bindings.

The reference's ``get_json_array``/``get_json_object`` evaluate an arbitrary
JsonPath against the parsed document and return ALL matches / the FIRST match
(piper/src/pipeline/function/extract_json.rs:6-80, via jsonpath_lib).  Spark's
built-in ``get_json_object`` covers only the simple-path subset and always
returns one value, so the full surface runs here: a small evaluator for the
JsonPath constructs jsonpath_lib users actually write —

    $              root
    .name / ['name']   field access
    .* / [*]       wildcard (object values or array elements)
    [n] / [-n]     array index
    [a:b] / [a:]   array slice
    [i,j,...]      index union
    ..name / ..*   recursive descent

and a ``pandas_udf`` wrapper so the evaluation crosses the JVM boundary in
Arrow batches (never per-row Python round-trips).  Scalars serialize like the
reference's Value model: strings unquoted, everything else as compact JSON.

Scale note: JSON parsing per row is inherently the slow path; the fast path
(Spark-native ``get_json_object``) is used whenever the path fits Spark's
subset — see functions/registry.py.
"""

from __future__ import annotations

import json
import re

_TOKEN_RE = re.compile(
    r"""
    \.\.(?P<rec_field>[A-Za-z_][\w\-]*|\*)        # ..field or ..*
  | \.(?P<field>[A-Za-z_][\w\-]*|\*)              # .field or .*
  | \[\s*'(?P<qfield>[^']*)'\s*\]                 # ['field']
  | \[\s*"(?P<dqfield>[^"]*)"\s*\]                # ["field"]
  | \[\s*\*\s*\]                                  # [*]
  | \[\s*(?P<slice>-?\d*\s*:\s*-?\d*)\s*\]        # [a:b]
  | \[\s*(?P<union>-?\d+(\s*,\s*-?\d+)+)\s*\]     # [i,j,...]
  | \[\s*(?P<index>-?\d+)\s*\]                    # [n]
    """,
    re.VERBOSE,
)


def parse_path(path: str) -> list:
    """Tokenize a JsonPath into (op, arg) steps; raises ValueError on syntax
    the evaluator does not support (mirrors jsonpath_lib's parse error)."""
    if not path.startswith("$"):
        raise ValueError(f"JsonPath must start with '$': {path!r}")
    pos, steps = 1, []
    while pos < len(path):
        m = _TOKEN_RE.match(path, pos)
        if not m:
            raise ValueError(f"unsupported JsonPath at offset {pos}: {path!r}")
        if m.group("rec_field") is not None:
            steps.append(("recursive", m.group("rec_field")))
        elif m.group("field") is not None:
            steps.append(("wildcard", None) if m.group("field") == "*" else ("field", m.group("field")))
        elif m.group("qfield") is not None:
            steps.append(("field", m.group("qfield")))
        elif m.group("dqfield") is not None:
            steps.append(("field", m.group("dqfield")))
        elif m.group("slice") is not None:
            a, b = (x.strip() for x in m.group("slice").split(":"))
            steps.append(("slice", (int(a) if a else None, int(b) if b else None)))
        elif m.group("union") is not None:
            steps.append(("union", [int(x) for x in m.group("union").split(",")]))
        elif m.group("index") is not None:
            steps.append(("index", int(m.group("index"))))
        else:  # the bare [*] alternative has no named group
            steps.append(("wildcard", None))
        pos = m.end()
    return steps


def _descend(obj) -> list:
    """obj plus every transitively nested value, document order."""
    out = [obj]
    if isinstance(obj, dict):
        for v in obj.values():
            out.extend(_descend(v))
    elif isinstance(obj, list):
        for v in obj:
            out.extend(_descend(v))
    return out


def select(obj, steps: list) -> list:
    """All matches of the tokenized path against a parsed JSON value."""
    cur = [obj]
    for op, arg in steps:
        nxt = []
        for o in cur:
            if op == "field":
                if isinstance(o, dict) and arg in o:
                    nxt.append(o[arg])
            elif op == "wildcard":
                if isinstance(o, dict):
                    nxt.extend(o.values())
                elif isinstance(o, list):
                    nxt.extend(o)
            elif op == "index":
                if isinstance(o, list) and -len(o) <= arg < len(o):
                    nxt.append(o[arg])
            elif op == "slice":
                if isinstance(o, list):
                    nxt.extend(o[arg[0]:arg[1]])
            elif op == "union":
                if isinstance(o, list):
                    nxt.extend(o[i] for i in arg if -len(o) <= i < len(o))
            elif op == "recursive":
                for d in _descend(o):
                    if arg == "*":
                        if isinstance(d, dict):
                            nxt.extend(d.values())
                        elif isinstance(d, list):
                            nxt.extend(d)
                    elif isinstance(d, dict) and arg in d:
                        nxt.append(d[arg])
        cur = nxt
    return cur


def _serialize(v) -> str | None:
    """Reference Value rendering: strings unquoted, other values compact
    JSON, JSON null → SQL NULL (the reference's Value::Null IS null — a
    'null' STRING would compare equal to the text \"null\")."""
    if v is None:
        return None
    if isinstance(v, str):
        return v
    return json.dumps(v, separators=(",", ":"))


# Spark's native get_json_object subset: $.a.b, $[0], $.a[*].b — dotted
# fields, numeric indexes and [*]; no recursive descent, unions, or slices.
_SPARK_NATIVE_RE = re.compile(r"^\$((\.[A-Za-z_]\w*)|(\[\d+\])|(\[\*\]))*$")


def spark_native_path(path: str) -> bool:
    return bool(_SPARK_NATIVE_RE.match(path))


def get_json_array_udf(path: str):
    """Vectorized ``get_json_array``: every JsonPath match as array<string>.
    Invalid JSON → null, no match → empty array (error-as-value: the
    reference raises a Value::Error, which the pipeline treats as null-ish).

    Single-location paths (fields/indexes only) whose one match is an array
    unwrap into its elements — the same documented shim as the native fast
    path in functions/registry.py, so ``$.a`` and ``$['a']`` agree."""
    from pyspark.sql.functions import pandas_udf

    steps = parse_path(path)  # parse once at plan-build; syntax errors fail fast
    unwrap = all(op in ("field", "index") for op, _ in steps)

    def _batch(s):
        def run(x):
            if x is None:
                return None
            try:
                doc = json.loads(x)
            except (ValueError, TypeError):
                return None
            hits = select(doc, steps)
            if unwrap and len(hits) == 1 and isinstance(hits[0], list):
                return [_serialize(v) for v in hits[0]]
            return [_serialize(v) for v in hits]

        return s.map(run)

    return pandas_udf(_batch, "array<string>")


def get_json_object_udf(path: str):
    """Vectorized ``get_json_object``: FIRST JsonPath match (or null) — the
    fallback for paths Spark's native function can't evaluate."""
    from pyspark.sql.functions import pandas_udf

    steps = parse_path(path)

    def _batch(s):
        def run(x):
            if x is None:
                return None
            try:
                doc = json.loads(x)
            except (ValueError, TypeError):
                return None
            hits = select(doc, steps)
            # a JSON-null first match IS null (Value::Null), same as no match
            return _serialize(hits[0]) if hits else None

        return s.map(run)

    return pandas_udf(_batch, "string")
