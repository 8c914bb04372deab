"""Streaming feature derivation — the Structured Streaming face of the batch
PIT operators.

The reference has no streaming semantics (SURVEY.md §2.6), so this module is
engine surface beyond parity: the SAME column expressions used in batch,
wired into readStream → watermark → window/session_window → writeStream.
Late data is bounded by the watermark; state cleanup follows from it.

These helpers return unstarted streaming DataFrames; callers attach the sink
(``.writeStream...``) — keeping them testable with any source (rate-micro-
batch locally, Kafka in production).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feathr_online_spark.operators.asof import asof_contract


def stream_windowed_features(
    events: DataFrame,
    aggs: dict[str, Column],
    on: str = "entity",
    ts: str = "event_time",
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling/sliding windowed aggregates per entity over an event-time
    stream: the streaming analog of operators.windows.rolling.

    One shuffle on (entity, window); state pruned by the watermark."""
    w = F.window(F.col(ts), window, slide) if slide else F.window(F.col(ts), window)
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.col(on), w.alias("win"))
        .agg(*[e.alias(n) for n, e in aggs.items()])
        .select(
            on,
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *aggs.keys(),
        )
    )


def stream_forward_fill(
    events: DataFrame,
    cols: list[str],
    on: str = "entity",
    ts: str = "event_time",
) -> DataFrame:
    """Cross-micro-batch forward-fill: the streaming face of
    operators.windows.forward_fill, built on ``applyInPandasWithState``
    (the custom-stateful-operator escape hatch the batch engine reserves for
    semantics Spark's built-ins can't express in a stream).

    Per entity, the GroupState carries the last non-null value of each column
    seen in ANY earlier micro-batch; within a batch rows sort by event time
    and fill vectorized (pandas ``ffill``).  State size is O(entities ×
    len(cols)) — bytes per key, not rows.  Caveat inherent to streaming
    ffill: rows arriving across batches out of event-time order fill from
    the state's latest value, not a global sort (the watermark bounds that
    skew; exact retrospective backfill is the batch operator's job).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import StructType

    out_schema = events.schema
    state_schema = StructType([events.schema[c] for c in cols])
    ncols = list(cols)

    def fill(key, pdfs, state):
        import pandas as pd

        # applyInPandasWithState delivers the group as an ITERATOR of Arrow
        # chunks (~10k rows each); processing them independently would fill
        # later chunks from earlier chunks' values regardless of event time
        # and let state regress — concat and sort the WHOLE micro-batch once
        chunks = list(pdfs)
        if not chunks:
            return
        last = list(state.get) if state.exists else [None] * len(ncols)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        pdf = pdf.sort_values(ts, kind="mergesort")
        for i, c in enumerate(ncols):
            s = pdf[c].ffill()
            if last[i] is not None:
                s = s.fillna(last[i])
            pdf[c] = s
            nn = s.dropna()
            if len(nn):
                last[i] = nn.iloc[-1]
        yield pdf
        state.update(tuple(last))

    return events.groupBy(on).applyInPandasWithState(
        fill, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_asof_enrich(
    events: DataFrame,
    features: DataFrame,
    on: str = "entity",
    left_ts: str = "event_time",
    right_ts: str = "feature_time",
    strict: bool = True,
) -> DataFrame:
    """Streaming point-in-time enrichment — the online-serving semantics the
    reference's request path implements (lookup the freshest feature per
    entity), expressed as ONE stateful streaming operator with the batch
    engine's leakage rule: each event attaches the latest feature row with
    ``right_ts < left_ts`` (strict).

    Construction: both streams are tagged and unioned (same trick as the
    batch as-of join, operators/asof.py), grouped by entity through
    ``applyInPandasWithState``.  Within a micro-batch the merge is
    ``pandas.merge_asof`` (vectorized C); across batches the GroupState
    carries the entity's latest feature row, seeded into the next batch's
    merge as a −∞ sentinel.  State is O(entities × payload width).

    Caveat: events and features that arrive out of event-time order ACROSS
    micro-batches see the state's view, not a global re-sort — the inherent
    streaming relaxation; the batch as-of join is the exact retrospective
    path.
    """
    import pandas as pd  # executors
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    # Deterministic winner among equal-(entity, ts) feature rows: the same
    # xxhash64-of-payload tiebreak as the batch strategies (asof.py) —
    # computed JVM-side, carried through the GroupState, so streaming output
    # is reproducible and matches the batch result on identical data.  The
    # tags stay (feature 1, event 0): ``strict`` acts in merge_asof below.
    payload, _, tiebreak = asof_contract(features, on, right_ts, events, caller="stream_asof_enrich")
    event_cols = [c for c in events.columns if c not in (on, left_ts)]
    tagged_events = events.select(
        F.col(on), F.col(left_ts).alias("__ts"), F.lit(0).alias("__tag"),
        F.lit(0).cast("long").alias("__tb"),
        *[F.col(c) for c in event_cols],
        *[F.lit(None).cast(features.schema[c].dataType).alias(c) for c in payload],
    )
    tagged_feats = features.select(
        F.col(on), F.col(right_ts).alias("__ts"), F.lit(1).alias("__tag"),
        tiebreak.cast("long").alias("__tb"),
        *[F.lit(None).cast(events.schema[c].dataType).alias(c) for c in event_cols],
        *[F.col(c) for c in payload],
    )
    un = tagged_events.unionByName(tagged_feats)

    out_schema = StructType(
        [events.schema[on], StructField(left_ts, events.schema[left_ts].dataType)]
        + [events.schema[c] for c in event_cols]
        + [features.schema[c] for c in payload]
    )
    # state: latest feature (ts in unix micros, tiebreak, payload values)
    state_schema = StructType(
        [StructField("__ts_us", LongType()), StructField("__tb", LongType())]
        + [features.schema[c] for c in payload]
    )
    allow_exact = not strict

    def merge(key, pdfs, state):
        # concat the group's Arrow chunks FIRST: per-chunk processing would
        # carry only the newest feature between chunks, silently nulling
        # events whose true as-of feature sits in the same micro-batch but a
        # different chunk (docstring promises within-batch merge_asof
        # exactness)
        chunks = list(pdfs)
        if not chunks:
            return
        last = list(state.get) if state.exists else None
        whole = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        pdf = whole.sort_values(["__ts", "__tag", "__tb"], kind="mergesort")
        ev = pdf[pdf["__tag"] == 0]
        ft = pdf[pdf["__tag"] == 1][["__ts", "__tb"] + payload]
        if last is not None and last[0] is not None:
            seed = pd.DataFrame(
                [[pd.Timestamp(last[0], unit="us"), last[1]] + list(last[2:])],
                columns=["__ts", "__tb"] + payload,
            )
            ft = pd.concat([seed, ft], ignore_index=True)
        if len(ft):
            # re-sort: the carried state row (or out-of-order arrivals)
            # may break ordering, and merge_asof demands sorted keys; the
            # (ts, tb) sort puts the max-tiebreak row last among equal
            # timestamps — exactly the batch winner
            ft = ft.sort_values(["__ts", "__tb"], kind="mergesort")
            newest = ft.iloc[-1]
            last = ([int(newest["__ts"].value // 1000), int(newest["__tb"])]
                    + [newest[c] for c in payload])
        if len(ev):
            ev = ev[[on, "__ts"] + event_cols]
            if len(ft):
                merged = pd.merge_asof(
                    ev, ft, on="__ts",
                    allow_exact_matches=allow_exact, direction="backward",
                )
            else:
                merged = ev.copy()
                for c in payload:
                    merged[c] = None
            merged = merged.rename(columns={"__ts": left_ts})
            yield merged[[on, left_ts] + event_cols + payload]
        if last is not None:
            state.update(tuple(last))

    return un.groupBy(on).applyInPandasWithState(
        merge, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_sessionize(
    events: DataFrame,
    aggs: dict[str, Column],
    gap: str = "30 minutes",
    on: str = "entity",
    ts: str = "event_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based session aggregation: Spark's native ``session_window`` — the
    streaming analog of operators.windows.sessionize (which computes session
    ids in batch; here sessions close when the watermark passes the gap)."""
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.col(on), F.session_window(F.col(ts), gap).alias("sess"))
        .agg(*[e.alias(n) for n, e in aggs.items()])
        .select(
            on,
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            *aggs.keys(),
        )
    )


def stream_exact_dedup(
    events: DataFrame,
    keys: list[str],
    ts: str = "event_time",
    watermark: str = "1 hour",
    fingerprint_text: str | None = None,
) -> DataFrame:
    """Streaming exact dedup: drop rows whose ``keys`` were already seen
    within the watermark horizon — the streaming analog of
    operators.dedup.exact_dedup for ingest pipelines (a training-data feed
    must not re-emit re-crawled documents).

    Built on ``dropDuplicatesWithinWatermark``: dedup state is PRUNED by the
    watermark, so executor memory is bounded by (distinct keys per horizon),
    not by stream lifetime — the property that lets this run for months on a
    100 TB/day feed.  ``fingerprint_text`` adds a content fingerprint column
    (operators.text.content_fingerprint: whitespace-normalized md5) and
    dedups on it, so trivially re-formatted duplicates collapse too."""
    from feathr_online_spark.operators.text import content_fingerprint

    df = events
    if fingerprint_text is not None:
        df = df.withColumn("__fp", content_fingerprint(F.col(fingerprint_text)))
        keys = list(keys) + ["__fp"]
    out = df.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(keys)
    # the internal fingerprint must not leak into downstream sink schemas
    return out.drop("__fp") if fingerprint_text is not None else out
