"""The reference DSL's transformation verbs as a fluent DataFrame builder.

The reference executes a linear chain of transformations over a pull-based row
iterator (piper/src/pipeline/pipelines.rs:256-269; one file per verb under
piper/src/pipeline/transformation/).  Here each verb is a thin, *declarative*
rewrite onto the DataFrame API, so the whole chain stays one Catalyst logical
plan: user-ordered where/project chains get pushdown, pruning and codegen for
free (the reference applies stages verbatim with no optimizer — SURVEY.md §4.1).

Verb → physical mapping (and why it scales):

- ``where``      → ``df.filter``              (pushed into the parquet scan)
- ``take``       → ``df.limit``               (CollectLimit, early-out per partition)
- ``top``        → ``orderBy().limit(n)``     (Catalyst plans TakeOrderedAndProject —
                                               the same bounded-heap top-K the
                                               reference hand-rolls in
                                               top_transformation.rs:142-167, but
                                               distributed: per-partition heaps then
                                               a driver merge of n·P rows)
- ``project*``   → withColumns / drop / select (pure projection, no shuffle)
- ``explode``    → ``F.explode``              (inner semantics: empty arrays drop,
                                               matching explode_transformation.rs:119-121)
- ``distinct``   → ``select(keys).distinct()``(hash agg, partial+final, spillable)
- ``summarize``  → ``groupBy().agg()``        (map-side partial agg then one shuffle)
- ``lookup``     → deduped broadcast left join (first-match semantics of
                                               lookup/mod.rs:37-43 made deterministic)
- ``join``       → equi-join, broadcast/SMJ/AQE chosen by Catalyst
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


#: error-as-value convention: a failed cell of column ``c`` is marked by a
#: non-null message in the companion string column ``ERR_PREFIX + c``
ERR_PREFIX = "_err_"


def error_columns(df: DataFrame) -> list[str]:
    """The error-marker columns of ``df``, in column order."""
    return [c for c in df.columns if c.startswith(ERR_PREFIX)]


class PipelineError(ValueError):
    """Build-time error (duplicate column, unknown column) — the same class of
    failure the reference raises while building stages (piper/src/piper.rs:265-282)."""


def _as_column(e: Column | str) -> Column:
    return F.col(e) if isinstance(e, str) else e


class Pipeline:
    """A linear transformation chain; immutable, every verb returns a new one.

    Usage::

        out = (Pipeline(df)
               .where(F.col("n_tok") > 0)
               .project(tok_rate=F.col("n_tok") / F.length("text"))
               .summarize({"cnt": F.count(F.lit(1))}, by=["source"])
               .top(5, "cnt")
               .df)
    """

    def __init__(self, df: DataFrame):
        self.df = df

    # -- filtering ---------------------------------------------------------

    def where(self, predicate: Column | str) -> "Pipeline":
        """Filter rows. Reference: where_transformation.rs:10-55. Rows whose
        predicate errors are dropped there; under ANSI-off Spark a failing
        predicate evaluates to null, and filter drops null-predicate rows —
        the same observable semantics."""
        return Pipeline(self.df.filter(predicate))

    def take(self, n: int) -> "Pipeline":
        """First n rows. Reference: take_transformation.rs:8-50."""
        return Pipeline(self.df.limit(n))

    def top(
        self,
        n: int,
        by: Column | str,
        ascending: bool = False,
        nulls_first: bool | None = None,
    ) -> "Pipeline":
        """Top-n by expression. Reference: top_transformation.rs:35-191
        (bounded heap; null rows stashed separately per the nulls first/last
        flag, :169-188).  Catalyst compiles orderBy+limit into
        TakeOrderedAndProject: per-partition bounded heaps, then a single
        driver-side merge of n rows per partition — no full sort, no full
        shuffle, identical asymptotics to the reference but parallel."""
        c = _as_column(by)
        if nulls_first is None:
            nulls_first = ascending  # reference default: nulls sort as smallest
        if ascending:
            order = c.asc_nulls_first() if nulls_first else c.asc_nulls_last()
        else:
            order = c.desc_nulls_first() if nulls_first else c.desc_nulls_last()
        return Pipeline(self.df.orderBy(order).limit(n))

    # -- projection --------------------------------------------------------

    def project(self, **cols: Column) -> "Pipeline":
        """Append computed columns.  The reference rejects collisions with
        existing columns at build time (piper/src/piper.rs:266-282) — enforce
        the same contract instead of silently replacing.

        Apply-time type dispatch: a column built by ``fn("len")`` /
        ``fn("length")`` carries its operand as a tag; with the schema in
        hand here, an array-typed operand swaps to ``array_size`` — the
        reference's runtime string/array dispatch (len.rs:14-31) for typed
        pipelines.  (Anywhere without a schema, an array operand is a loud
        analyzer error, never a silent cast.)"""
        existing = {c.lower() for c in self.df.columns}
        resolved: dict[str, Column] = {}
        for name, c in cols.items():
            if name.lower() in existing:
                raise PipelineError(f"project: column '{name}' already exists")
            op = getattr(c, "__piper_len_operand", None)
            if op is not None:
                from pyspark.sql.types import ArrayType

                # driver-side analysis only (no job) to learn the operand type
                if isinstance(self.df.select(op.alias("__t")).schema[0].dataType, ArrayType):
                    c = F.array_size(op)
            resolved[name] = c
        return Pipeline(self.df.withColumns(resolved))

    def project_rename(self, **new_to_old: str) -> "Pipeline":
        """Rename columns, ``new=old`` like the DSL
        (project_rename_transformation.rs)."""
        mapping = {old: new for new, old in new_to_old.items()}
        missing = set(mapping) - set(self.df.columns)
        if missing:
            raise PipelineError(f"project-rename: unknown columns {sorted(missing)}")
        return Pipeline(self.df.withColumnsRenamed(mapping))

    def project_remove(self, *cols: str) -> "Pipeline":
        """Drop columns (project_remove_transformation.rs)."""
        return Pipeline(self.df.drop(*cols))

    def project_keep(self, *cols: str) -> "Pipeline":
        """Keep only the listed columns (project_keep_transformation.rs)."""
        return Pipeline(self.df.select(*cols))

    # -- reshaping ---------------------------------------------------------

    def explode(self, col: str, cast: str | None = None) -> "Pipeline":
        """One row per array element; rows with empty/null arrays are DROPPED
        (inner explode), matching explode_transformation.rs:119-121; the
        optional cast reproduces ``explode col as type``."""
        src = F.col(col)
        if cast:
            # cast the array elements BEFORE exploding — a generator cannot be
            # nested inside a cast expression
            src = src.cast(f"array<{cast}>")
        return Pipeline(self.df.withColumn(col, F.explode(src)))

    def distinct(self, *by: str) -> "Pipeline":
        """Dedupe.  With keys, the reference PROJECTS the output down to the
        key columns (distinct_transformation.rs:58-67) — so ``distinct by k``
        is ``select(k).distinct()``, not dropDuplicates."""
        if by:
            return Pipeline(self.df.select(*by).distinct())
        return Pipeline(self.df.distinct())

    # -- aggregation -------------------------------------------------------

    def summarize(
        self,
        aggs: Mapping[str, Column],
        by: Mapping[str, Column] | list[str] | None = None,
    ) -> "Pipeline":
        """Hash aggregation with optional (possibly computed) grouping keys.
        Reference: summarize_transformation.rs:28-187; output column order is
        agg columns then key columns (:162-177).  Spark runs this as partial
        (map-side) + final hash aggregate with spill — one shuffle on the keys.
        """
        agg_cols = [expr.alias(name) for name, expr in aggs.items()]
        if not by:
            return Pipeline(self.df.agg(*agg_cols))
        if isinstance(by, Mapping):
            keys = [expr.alias(name) for name, expr in by.items()]
            key_names = list(by.keys())
        else:
            keys = [F.col(k) for k in by]
            key_names = list(by)
        out = self.df.groupBy(*keys).agg(*agg_cols)
        # reference order: aggregations first, then keys
        return Pipeline(out.select(*[name for name in aggs], *key_names))

    # -- enrichment (lookup sources) ----------------------------------------

    def lookup(
        self,
        source: DataFrame,
        on: Column | str,
        key: str,
        fields: Mapping[str, str] | list[str],
        tiebreak: str | None = None,
        broadcast_hint: bool = True,
        persist_probe: bool = False,
    ) -> "Pipeline":
        """1:1 enrich: left join keeping exactly one source row per key.

        Reference `lookup` takes the FIRST row the source returns
        (piper/src/pipeline/lookup/mod.rs:37-43) — source-order dependent and
        non-deterministic; we define it deterministically as the min-by-
        ``tiebreak`` row (default: the key itself → arbitrary-but-stable).
        Missing keys null-fill (left-outer), matching
        lookup_transformation.rs:218-231.

        The dedup is a per-key min aggregation (cheap, combinable) rather than
        a row_number window when possible; the dimension is broadcast by
        default — a lookup source is small by construction in the reference
        (loaded wholesale into memory, local_store/mod.rs:70-168).

        ``source`` may also be a CallableSource (the Python lookup-function
        surface, python/src/lib.rs:56-158): it is materialized against THIS
        side's distinct probe keys before the join — which makes the probe
        plan a TWO-consumer plan (key harvest + join).  ``persist_probe=True``
        materializes the probe once (eager localCheckpoint) so an expensive
        upstream is never computed twice; off by default — the engine never
        silently caches data it cannot size.
        """
        base, source = self._materialize_source(source, on, persist_probe)
        if isinstance(fields, list):
            fields = {f: f for f in fields}
        order = F.col(tiebreak) if tiebreak else F.col(key)
        w = Window.partitionBy(key).orderBy(order)
        dim = (
            source.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col(key).alias("__lk_key"), *[F.col(src).alias(dst) for dst, src in fields.items()])
        )
        if broadcast_hint:
            dim = F.broadcast(dim)
        key_expr = _as_column(on)
        joined = base.join(dim, key_expr == F.col("__lk_key"), "left").drop("__lk_key")
        return Pipeline(joined)

    def join(
        self,
        source: DataFrame,
        kind: str,
        on: Column | str,
        key: str,
        fields: Mapping[str, str] | list[str],
        broadcast_hint: bool = False,
        persist_probe: bool = False,
    ) -> "Pipeline":
        """1:N lookup join. ``kind`` ∈ {left-inner, left-outer}
        (lookup_transformation.rs:232-272).  Plain equi-join — Catalyst picks
        broadcast-hash vs sort-merge, AQE fixes skew at runtime.
        ``persist_probe`` as in :meth:`lookup` (CallableSource only)."""
        how = {"left-inner": "inner", "left-outer": "left"}.get(kind)
        if how is None:
            raise PipelineError(f"join: unknown kind '{kind}'")
        base, source = self._materialize_source(source, on, persist_probe)
        if isinstance(fields, list):
            fields = {f: f for f in fields}
        dim = source.select(
            F.col(key).alias("__lk_key"), *[F.col(src).alias(dst) for dst, src in fields.items()]
        )
        if broadcast_hint:
            dim = F.broadcast(dim)
        key_expr = _as_column(on)
        return Pipeline(base.join(dim, key_expr == F.col("__lk_key"), how).drop("__lk_key"))

    def _materialize_source(self, source, on: Column | str, persist_probe: bool = False):
        """CallableSource → DataFrame of (key, fields) over this side's
        distinct probe keys; DataFrames pass through.  Returns
        ``(probe_df, source_df)`` — the probe comes back because
        ``persist_probe`` may have replaced it with a materialized copy.

        NB: the key harvest is a second consumer of this side's plan — an
        expensive probe side upstream of a callable lookup executes twice
        (once for keys, once for the join) unless ``persist_probe=True``
        snapshots it (eager localCheckpoint: guaranteed single execution,
        unlike persist(), which two subtrees of ONE job can still race).
        Off by default: the engine never silently caches data it cannot
        size."""
        from feathr_online_spark.sources.registry import CallableSource

        if isinstance(source, CallableSource):
            base = self.df.localCheckpoint(eager=True) if persist_probe else self.df
            keys = base.select(_as_column(on).alias(source.key)).distinct()
            return base, source.materialize(keys)
        return self.df, source

    # -- error-as-value (SURVEY.md §1.4) -------------------------------------

    def project_fallible(self, **cols: tuple[Column, list[str]]) -> "Pipeline":
        """Append computed columns that may fail per-row, with companion
        ``_err_<name>`` marker columns (null = ok).

        The reference stores failures IN the cell (Value::Error,
        piper/src/pipeline/value.rs:241) and propagates them through operators
        (expression.rs:78-95).  Spark columns cannot hold an error variant, so
        the convention is: compute with null-on-error semantics (ANSI off /
        try_* functions), and mark rows where the result is null although
        every input was non-null — i.e. the null was produced by a failure,
        not inherited.  ``ignore_error`` then drops marked rows, matching
        ignore_error_transformation.rs:39-59.

        Each kwarg maps name → (expr, [input column names]).
        """
        exprs: dict[str, Column] = {}
        existing = {c.lower() for c in self.df.columns}
        for name, (expr, inputs) in cols.items():
            if name.lower() in existing:
                raise PipelineError(f"project_fallible: column '{name}' already exists")
            exprs[name] = expr
            inputs_ok = F.lit(True)
            for c in inputs:
                inputs_ok = inputs_ok & F.col(c).isNotNull()
            exprs[ERR_PREFIX + name] = F.when(
                expr.isNull() & inputs_ok, F.lit(f"error evaluating '{name}'")
            ).otherwise(F.lit(None).cast("string"))
        return Pipeline(self.df.withColumns(exprs))

    # -- misc ----------------------------------------------------------------

    def ignore_error(self) -> "Pipeline":
        """Drop rows carrying any error marker.  The reference stores errors
        in cells (SURVEY.md §1.4); our convention is companion ``_err_<col>``
        string columns (null = ok) produced by fallible projections.  This verb
        filters rows where every marker is null and drops the markers —
        matching ignore_error_transformation.rs:39-59."""
        err_cols = error_columns(self.df)
        if not err_cols:
            return self
        cond = None
        for c in err_cols:
            t = F.col(c).isNull()
            cond = t if cond is None else (cond & t)
        return Pipeline(self.df.filter(cond).drop(*err_cols))
