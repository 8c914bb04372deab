"""Input validation modes: Strict / Lenient schema coercion with
error-as-value markers.

Reference: piper/src/pipeline/dataset.rs:156-224 — every request row set is
validated against the pipeline's declared schema before the first stage:

- **Strict** (`cast_to`, value.rs:1038-1094): only numeric↔numeric and
  string↔datetime casts are legal; any other mismatch turns the CELL into an
  error value.
- **Lenient** (`convert_to`, value.rs:1099-1216): additionally bool↔numeric,
  anything→string, string→bool/number; failures still become error cells.

Spark columns can't hold an error variant (SURVEY.md §1.4), so the mapping
is: coerce with ``try_cast``-style null-on-error semantics and mark cells
that FAILED coercion (null result from a non-null input) in a companion
``_err_<col>`` column — the same convention Pipeline.project_fallible /
ignore_error use, so validated inputs flow through the verbs unchanged.

Note the reference's own string→long/float/double conversion parses through
``i32`` (a known reference bug, SURVEY.md §1.3); we follow Spark CAST
semantics instead — the parity harness avoids those corner inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from feathr_online_spark.operators.pipeline import ERR_PREFIX, error_columns

# type-class buckets for the Strict legality matrix
_NUMERIC = {"tinyint", "smallint", "int", "integer", "bigint", "long", "float", "double", "decimal"}


def _simple(t: DataType) -> str:
    s = t.simpleString()
    # decimal renders as 'decimal(p,s)' — bucket it so decimal↔numeric casts
    # stay legal (value.rs treats all numerics alike)
    return "decimal" if s.startswith("decimal") else s


def _strict_ok(src: str, dst: str) -> bool:
    """Strict cast legality (value.rs:1038-1094): numeric↔numeric,
    string↔timestamp, plus identity."""
    if src == dst:
        return True
    if src in _NUMERIC and dst in _NUMERIC:
        return True
    if {src, dst} == {"string", "timestamp"}:
        return True
    return False


def _lenient_ok(src: str, dst: str) -> bool:
    """Lenient adds bool↔numeric, anything→string, string→bool/number
    (value.rs:1099-1216)."""
    if _strict_ok(src, dst):
        return True
    if dst == "string":
        return True
    if src == "boolean" and dst in _NUMERIC:
        return True
    if src == "string" and (dst in _NUMERIC or dst == "boolean"):
        return True
    if src in _NUMERIC and dst == "boolean":
        return True
    return False


def validated(df: DataFrame, schema: StructType, mode: str = "lenient") -> DataFrame:
    """Coerce ``df`` to ``schema`` under piper validation semantics.

    Output columns: schema fields in order (cast where legal), plus
    ``_err_<col>`` markers (null = ok) for cells that were illegal-type
    (mode-dependent), failed to convert, or whose source column is missing
    entirely (dataset.rs:216-222 fills missing columns with errors).
    Extra input columns are dropped (row.truncate, dataset.rs:198).
    """
    if mode not in ("strict", "lenient"):
        raise ValueError(f"unknown validation mode '{mode}'")
    ok = _strict_ok if mode == "strict" else _lenient_ok
    in_types = {f.name: f.dataType for f in df.schema.fields}
    cols: list[Column] = []
    for field in schema.fields:
        name, dst = field.name, _simple(field.dataType)
        if name not in in_types:
            cols.append(F.lit(None).cast(field.dataType).alias(name))
            cols.append(F.lit(f"Column {name} is missing in the input data set").alias(ERR_PREFIX + name))
            continue
        src = _simple(in_types[name])
        if src == dst and src != "decimal":
            cols.append(F.col(name))
            cols.append(F.lit(None).cast("string").alias(ERR_PREFIX + name))
            continue
        if not ok(src, dst):
            cols.append(F.lit(None).cast(field.dataType).alias(name))
            cols.append(
                F.when(F.col(name).isNotNull(),
                       F.lit(f"Column {name}: cannot {mode}-cast {src} to {dst}"))
                .alias(ERR_PREFIX + name)
            )
            continue
        # Column.try_cast (null on failure) regardless of ANSI mode — the
        # functions module has no try_cast, so hasattr(F, ...) was dead code
        # and a plain .cast throws under ANSI sessions instead of marking
        casted = F.col(name).try_cast(field.dataType)
        cols.append(casted.alias(name))
        cols.append(
            F.when(F.col(name).isNotNull() & casted.isNull(),
                   F.lit(f"Column {name}: value failed to convert to {dst}"))
            .alias(ERR_PREFIX + name)
        )
    return df.select(*cols)


def collect_errors(df: DataFrame) -> DataFrame:
    """The reference's error side channel (dataset.rs:238-310 collects per-cell
    errors into ``errors: [{row, column, message}]`` next to the data) as an
    aggregate report: one row per (column, message) with a count — the
    scalable form (per-row error lists don't fit a 10^12-row response).
    """
    err_cols = error_columns(df)
    if not err_cols:
        return df.sparkSession.createDataFrame([], "column string, message string, n long")
    # NB a "pre-filter clean rows before the explode" pass was measured and
    # REJECTED (r6): the filter references the COMPUTED _err_ columns, so
    # Catalyst evaluates the validation expressions once for the filter and
    # again for the explode — 6 → 11 s at sf1.0; the plain explode-then-
    # filter evaluates them once
    stacked = df.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(c[len(ERR_PREFIX):]).alias("column"), F.col(c).alias("message"))
                for c in err_cols
            ])
        ).alias("e")
    ).select("e.column", "e.message").filter(F.col("message").isNotNull())
    return stacked.groupBy("column", "message").agg(F.count(F.lit(1)).alias("n"))
