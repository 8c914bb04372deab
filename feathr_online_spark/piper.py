"""`Piper` — the reference's Python embedding API (python/src/lib.rs:399-527,
python/examples/*.py), re-expressed over the Spark engine:

    p = Piper(pipelines_text, lookups, functions)
    rows, errors = p.process("t", {"x": 1})
    rows, errors = await p.process_async("t", [{"x": 1}, {"x": 2}])

- ``pipelines``: the DSL script (conf/pipeline.conf dialect).
- ``lookups``: None | a path to a lookup.json | a dict mapping source name →
  (DataFrame, key) | CallableSource | plain (a)sync callable
  ``fn(key, fields) -> rows`` (the lookup_example.py shape — the served
  field names are harvested from the pipelines' own lookup/join verbs).
- ``functions``: dict of UDFs, each a plain per-value callable (wrapped into
  an Arrow-batched vectorized UDF; exceptions become null cells, the
  error-as-value convention) or ``(callable, ddl_return_type)``.

Documented deltas vs the reference (PARITY_DELTAS.md applies):
- UDF return values and bare-callable lookup fields need a DECLARED type
  (Spark is schema-first where the reference is runtime-typed): pass the
  ``(fn, "long")`` tuple form / ``as type`` in the lookup verb; bare
  callables default to string.
- ``process`` runs a Spark job per call — the right tool for batch and for
  parity testing, not for single-request serving latency.
"""

from __future__ import annotations

import asyncio

from pyspark.sql import DataFrame, SparkSession

from feathr_online_spark.dsl import _SPARK_TYPES, CompiledPipeline, parse_pipelines
from feathr_online_spark.functions.registry import register_udf, unregister_udf
from feathr_online_spark.operators.pipeline import ERR_PREFIX, error_columns
from feathr_online_spark.sources.registry import CallableSource, SourceRegistry, load_lookup_conf


def _wrap_scalar(fn):
    """Per-value callable → vectorized (Series → Series) with error-as-value:
    a raising cell becomes null, like the reference's Value::Error
    (lib.rs:266-287), instead of failing the Spark task."""

    def run(s):
        def one(v):
            try:
                return fn(v)
            except Exception:
                return None

        return s.map(one)

    return run


class Piper:
    def __init__(
        self,
        pipelines: str,
        lookups=None,
        functions: dict | None = None,
        spark: SparkSession | None = None,
        max_process_rows: int = 100_000,
    ):
        self.max_process_rows = max_process_rows
        if spark is None:
            from feathr_online_spark.session import get_spark

            spark = SparkSession.getActiveSession() or get_spark()
        self.spark = spark
        self._udf_names: list[str] = []
        self._shadowed: dict[str, object] = {}
        from feathr_online_spark.functions import registry as _reg

        for name, f in (functions or {}).items():
            fn, rtype = f if isinstance(f, tuple) else (f, "string")
            # a user function may shadow a built-in (or a previous Piper's
            # UDF) for this instance's lifetime — snapshot whatever held the
            # name so close() can RESTORE it instead of deleting a built-in
            # from the process-wide registry
            prev = _reg._REGISTRY.get(name.lower())
            if prev is not None:
                self._shadowed[name.lower()] = prev
            unregister_udf(name)
            register_udf(name, _wrap_scalar(fn), rtype)
            self._udf_names.append(name)
        self.pipelines: dict[str, CompiledPipeline] = parse_pipelines(pipelines)
        self.sources = self._resolve_lookups(lookups)

    # -- lookups --------------------------------------------------------------

    def _lookup_fields(self, src_name: str) -> str:
        """DDL schema for a bare-callable source: the union of fields every
        lookup/join verb requests from it, typed by their ``as type`` when
        given (string otherwise)."""
        fields: dict[str, str] = {}
        for p in self.pipelines.values():
            for verb, payload in p.stages:
                if verb in ("lookup", "join") and payload[1] == src_name:
                    for _dst, src_f, ftype in payload[0]:
                        fields.setdefault(src_f, _SPARK_TYPES.get(ftype, "string") if ftype else "string")
        if not fields:
            raise ValueError(f"no pipeline references lookup source '{src_name}'")
        return ", ".join(f"{n} {t}" for n, t in fields.items())

    def _resolve_lookups(self, lookups) -> dict:
        if not lookups:
            return {}
        if isinstance(lookups, str):
            reg = SourceRegistry(self.spark)
            load_lookup_conf(reg, lookups)
            return reg.as_dsl_sources()
        out: dict = {}
        for name, src in lookups.items():
            if isinstance(src, (CallableSource, tuple)):
                out[name] = src
            elif isinstance(src, DataFrame):
                raise TypeError(f"lookup '{name}': pass (DataFrame, key_column)")
            elif callable(src):
                out[name] = CallableSource(src, key="key", fields_schema=self._lookup_fields(name))
            else:
                raise TypeError(f"lookup '{name}': unsupported source {type(src).__name__}")
        return out

    # -- processing -----------------------------------------------------------

    def process(self, pipeline_name: str, data, error_report: bool = True):
        """Run ``data`` (one dict or a list of dicts) through the named
        pipeline → ``(rows, errors)``: rows as dicts, failed cells null, and
        one error record per non-null ``_err_*`` marker (the error-as-value
        side channel; [] when the pipeline has no fallible stages).

        Input is bounded by the constructor's ``max_process_rows`` (100,000
        by default): process() collects every output row into this process —
        correct for the reference's request/response API over small row
        sets, an out-of-memory error waiting to happen for bulk data.  For
        bulk data build a DataFrame and use ``CompiledPipeline.apply`` —
        same semantics, fully distributed."""
        import json

        if pipeline_name not in self.pipelines:
            raise KeyError(f"unknown pipeline '{pipeline_name}'")
        rows_in = [data] if isinstance(data, dict) else list(data)
        limit = self.max_process_rows
        if len(rows_in) > limit:
            raise ValueError(
                f"Piper.process: {len(rows_in)} input rows exceeds the "
                f"{limit}-row bound (the result is collected to the driver). "
                f"For batch data, build a DataFrame and run "
                f"CompiledPipeline.apply(df, sources) instead — identical "
                f"semantics, fully distributed."
            )
        pipe = self.pipelines[pipeline_name]
        # build the request DataFrame keeping the per-column piper types so
        # dynamic carriers decode back to python values — the reference's
        # rows are runtime-typed, not JSON text
        df, types = pipe.run_with_types(self.spark, rows_in, self.sources)
        collected = df.collect()
        err_cols = error_columns(df)
        dyn_cols = [c for c in df.columns if types.get(c) == "dynamic"]
        rows, errors = [], []
        for i, r in enumerate(collected):
            d = r.asDict(recursive=True)
            for ec in err_cols:
                msg = d.pop(ec)
                if error_report and msg is not None:
                    errors.append({"row": i, "column": ec[len(ERR_PREFIX):], "message": msg})
            for dc in dyn_cols:
                v = d[dc]
                if isinstance(v, str):
                    try:
                        d[dc] = json.loads(v)
                    except ValueError:
                        pass  # unquoted JsonPath-derived text stays a string
            rows.append(d)
        return rows, errors

    async def process_async(self, pipeline_name: str, data, error_report: bool = True):
        """Async face for async webframeworks (fastapi_example.py shape); the
        Spark action runs in a worker thread."""
        return await asyncio.to_thread(self.process, pipeline_name, data, error_report)

    def close(self) -> None:
        """Unregister this instance's UDFs, restoring anything they
        shadowed (built-ins survive a Piper lifecycle)."""
        from feathr_online_spark.functions import registry as _reg

        for n in self._udf_names:
            unregister_udf(n)
            prev = self._shadowed.pop(n.lower(), None)
            if prev is not None:
                _reg._REGISTRY[n.lower()] = prev
        self._udf_names = []
