"""feathr_online_spark — a from-scratch PySpark-native engine with the query
semantics of feathr-ai/feathr-online ("piper").

The reference (/root/reference) is a Rust request/response feature-transformation
service: a linear pipeline of 13 relational verbs over row iterators
(piper/src/pipeline/transformation/*), a scalar/aggregation function registry
(piper/src/pipeline/function/mod.rs:49-437, aggregation/mod.rs:78-104) and keyed
lookup sources (piper/src/pipeline/lookup/mod.rs). This package re-expresses that
surface Spark-first:

- ``functions``  — piper-semantics scalar functions as Column-expression builders
- ``operators``  — the DSL verbs as a fluent Pipeline builder; the point-in-time
                   core (as-of join, lag/lead/rolling, sessionize, forward-fill);
                   training-data ops (dedup, similarity search, text analysis)
- ``sources``    — lookup-source registry backed by DataFrames
- ``plans``      — scale helpers: salting, lineage, checkpoint/resume
- ``streaming``  — the point-in-time core over Structured Streaming (windowed
                   features, sessions, forward-fill, as-of enrichment, exact
                   dedup) and the stream-vs-batch equivalence harness; the
                   reference has no streaming semantics (SURVEY.md §2.6)
- ``session``    — the SparkSession factory and its AQE/Arrow/UTC presets

Everything is declarative DataFrame/Column work so Catalyst owns pushdown,
pruning, join selection and whole-stage codegen; Python appears only in
Arrow-vectorized pandas UDFs (never per-row).
"""

from feathr_online_spark.session import get_spark  # noqa: F401
from feathr_online_spark.operators.pipeline import Pipeline  # noqa: F401

__version__ = "0.1.0"
