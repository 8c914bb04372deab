"""Point-in-time (as-of) join with zero temporal leakage.

The reference has only keyed equi-lookups (piper/src/pipeline/lookup/mod.rs:24-53);
the point-in-time-correct variant — "for each event at time t, attach the most
recent feature row with feature_time strictly < t" — is the new surface this
engine adds (SURVEY.md §2.1 notes, §7.1 step 6).  Strict ``<`` is the leakage
guarantee: a feature stamped at exactly the event time must NOT be visible.

Two physical strategies behind one API:

``strategy="union"`` (default)
    Union-tag + running ``last(ignorenulls)`` window.  Both sides are tagged and
    unioned; within each entity, rows sort by ``(ts, tag)`` where events sort
    BEFORE features at equal timestamps (tag 0 vs 1), so a running
    ``last(payload_struct, ignorenulls=True)`` over
    ``rowsBetween(unboundedPreceding, currentRow)`` sees only features with
    ts strictly below the event's — strict ``<`` falls out of the sort order
    with no per-row logic.  The payload travels as ONE struct so the whole
    winning feature row attaches (nulls preserved), matching merge_asof.  Cost: ONE shuffle of events+features on the entity
    key, then a linear scan per entity.  All JVM-side (window exec +
    codegen'd last), no Python anywhere.

``strategy="cogroup"``
    ``events.groupBy(entity).cogroup(features.groupBy(entity))`` +
    ``applyInPandas`` running ``pandas.merge_asof(allow_exact_matches=False)``
    per entity group, Arrow-batched.  Same shuffle count; the merge itself is
    vectorized C inside pandas.  This is the escape hatch for very wide
    feature rows (running ``last`` over hundreds of columns gets expensive)
    and mirrors how the production job would process Iceberg partitions
    already sorted on (entity, event_time).

At 100 TB: both strategies shuffle each side exactly once on the entity key.
Feed them inputs bucketed/sorted by entity and AQE will coalesce; hot
entities belong on ``operators.pit.pit_enrich``'s bucketed hot branch, which
splits them by (entity, time bucket).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    events: DataFrame,
    features: DataFrame,
    on: str = "entity",
    left_ts: str = "event_time",
    right_ts: str = "feature_time",
    strict: bool = True,
    strategy: str = "union",
    match_indicator: str | None = None,
) -> DataFrame:
    """Attach to each event row the latest feature row of the same entity with
    ``right_ts < left_ts`` (strict) or ``<=`` (non-strict).

    Output: all event columns (original names) + all feature payload columns.
    Events with no qualifying feature row keep nulls (left-outer semantics,
    like the reference's lookup miss behaviour, lookup_transformation.rs:218-231).

    When several feature rows share (entity, right_ts), the row with the
    greatest ``xxhash64`` of its payload wins, so results are deterministic
    regardless of input order.

    ``match_indicator``: name of an extra boolean output column that is true
    iff a feature row attached.  This distinguishes a left-outer MISS from an
    attached feature row whose payload happens to be all null — pass it to
    ``leakage_check(matched_col=...)`` to close that blind spot.
    """
    payload = _payload_cols(features, on, right_ts)
    if not payload:
        raise ValueError("asof_join: features must have at least one payload "
                         f"column besides ({on}, {right_ts})")
    overlap = set(payload) & set(events.columns)
    if overlap:
        raise ValueError(f"asof_join: feature columns collide with event columns: {sorted(overlap)}")
    # A feature row with a NULL timestamp has no defined position on the
    # timeline and can never be attached without risking leakage — drop it in
    # BOTH strategies (the union sort would otherwise treat it as -inf and
    # merge_asof would refuse the whole group with a null-merge-key error,
    # i.e. the two strategies had different input domains).
    features = features.filter(F.col(right_ts).isNotNull())
    if match_indicator is not None and (
        match_indicator in events.columns or match_indicator in payload
    ):
        raise ValueError(f"asof_join: match_indicator {match_indicator!r} "
                         f"collides with an existing column")
    if strategy == "union":
        return _asof_union(events, features, on, left_ts, right_ts, strict,
                           match_indicator)
    if strategy == "cogroup":
        return _asof_cogroup(events, features, on, left_ts, right_ts, strict,
                             match_indicator)
    raise ValueError(f"unknown asof strategy: {strategy}")


def _payload_cols(features: DataFrame, on: str, right_ts: str) -> list[str]:
    return [c for c in features.columns if c not in (on, right_ts)]


def _asof_union(
    events: DataFrame,
    features: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    strict: bool,
    match_indicator: str | None = None,
) -> DataFrame:
    from pyspark.sql.types import StructType

    event_cols = [c for c in events.columns if c not in (on, left_ts)]
    payload = _payload_cols(features, on, right_ts)

    # Tag order encodes the leakage rule: at equal ts, events (tag 0) sort
    # before features (tag 1) so a feature at exactly the event time is not yet
    # visible to the running last() — strict '<'.  Non-strict flips the tag.
    feat_tag, event_tag = (1, 0) if strict else (0, 1)

    # WHOLE-ROW attach: the payload travels as ONE struct so a null field in
    # the most recent qualifying feature row stays null in the output (per-
    # column last(ignorenulls) would graft older non-null values from OTHER
    # feature rows — diverging from merge_asof and the LATERAL oracle).
    pl_type = StructType([features.schema[c] for c in payload])

    ev = events.select(
        F.col(on),
        F.col(left_ts).alias("__ts"),
        F.lit(event_tag).alias("__tag"),
        F.lit(0).cast("long").alias("__tb"),
        *[F.col(c) for c in event_cols],
        F.lit(None).cast(pl_type).alias("__pl"),
    )
    ft = features.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.lit(feat_tag).alias("__tag"),
        # deterministic winner among same-(entity, ts) feature rows
        F.xxhash64(*[F.col(c) for c in payload]).alias("__tb"),
        *[F.lit(None).cast(events.schema[c].dataType).alias(c) for c in event_cols],
        F.struct(*[F.col(c) for c in payload]).alias("__pl"),
    )

    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts"), F.col("__tag"), F.col("__tb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = ev.unionByName(ft).select(
        F.col(on),
        F.col("__ts"),
        F.col("__tag"),
        *[F.col(c) for c in event_cols],
        F.last(F.col("__pl"), ignorenulls=True).over(w).alias("__pl"),
    )
    # the filled struct itself is non-null exactly when a feature row attached
    # — even if every field inside it is null — so it doubles as the explicit
    # matched/miss indicator
    extra = ([F.col("__pl").isNotNull().alias(match_indicator)]
             if match_indicator else [])
    return (
        filled.filter(F.col("__tag") == event_tag)
        .select(F.col(on), F.col("__ts").alias(left_ts), *event_cols,
                *[F.col("__pl").getField(c).alias(c) for c in payload],
                *extra)
    )


def _asof_cogroup(
    events: DataFrame,
    features: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    strict: bool,
    match_indicator: str | None = None,
) -> DataFrame:
    import pandas as pd  # local import: executors need it, driver may not

    from pyspark.sql.types import StructType

    payload = _payload_cols(features, on, right_ts)
    # StructType.add mutates in place — build a fresh schema instead of
    # appending to the DataFrame's cached one.
    fields = list(events.schema.fields) + [features.schema[c] for c in payload]
    if match_indicator:
        from pyspark.sql.types import BooleanType, StructField
        fields = fields + [StructField(match_indicator, BooleanType(), True)]
    out_schema = StructType(fields)

    event_cols = list(events.columns)
    out_cols = event_cols + payload + ([match_indicator] if match_indicator else [])
    # the merge's always-true marker column rides the right frame; a
    # same-named column on EITHER side would make pandas suffix both to
    # __asof_m___x/_y and break the rename/projection below — refuse loudly
    if "__asof_m__" in event_cols or "__asof_m__" in payload:
        raise ValueError("asof_join(cogroup): column name '__asof_m__' is "
                         "reserved by the merge internals; rename it")
    allow_exact = not strict

    # Same deterministic winner among equal-(entity, ts) feature rows as the
    # union strategy: greatest tiebreak wins.  The hash is computed JVM-side;
    # pandas merge_asof takes the LAST duplicate after a stable sort, so
    # sorting by (ts, tiebreak) yields the max-tiebreak row.
    ft = features.withColumn("__tb", F.xxhash64(*[F.col(c) for c in payload]))

    def merge_one(left: pd.DataFrame, right: pd.DataFrame, by) -> pd.DataFrame:
        """merge_asof of one sorted slice; ``by`` adds per-entity grouping
        inside pandas (vectorized across entities — see below)."""
        right = right.assign(__asof_m__=True)
        cols = ([on] if by else []) + [right_ts] + payload + ["__asof_m__"]
        return pd.merge_asof(
            left,
            right[cols],
            left_on=left_ts,
            right_on=right_ts,
            by=on if by else None,
            allow_exact_matches=allow_exact,
            direction="backward",
        )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(columns=out_cols)
        # merge_asof raises on null merge keys; a null-ts EVENT row gets a
        # null payload (it precedes every feature, like the union strategy's
        # nulls-first sort) and is re-appended after the merge.  A null
        # ENTITY is one Spark group semantically: its events match its
        # features — pandas by= treats NaN keys as matching nothing, so the
        # null-entity slice merges separately WITHOUT by.
        null_ev = left[left[left_ts].isna()]
        left = left[left[left_ts].notna()]
        pieces = []
        if len(left) and len(right):
            # global (ts, tb) sort: within each by-group rows stay
            # (ts, tb)-ordered, so backward-last picks the max-tiebreak
            # winner among equal timestamps, exactly the per-entity path
            lna = left[on].isna()
            rna = right[on].isna()
            lv = left[~lna].sort_values(left_ts, kind="mergesort")
            rv = right[~rna].sort_values([right_ts, "__tb"], kind="mergesort")
            if len(lv):
                pieces.append(merge_one(lv, rv, by=True) if len(rv)
                              else lv.assign(__asof_m__=None))
            ln = left[lna].sort_values(left_ts, kind="mergesort")
            rn = right[rna].sort_values([right_ts, "__tb"], kind="mergesort")
            if len(ln):
                pieces.append(merge_one(ln.drop(columns=[on]), rn, by=False)
                              .assign(**{on: None}) if len(rn)
                              else ln.assign(__asof_m__=None))
        elif len(left):
            pieces.append(left.sort_values(left_ts, kind="mergesort")
                          .assign(__asof_m__=None))
        merged = pieces[0] if len(pieces) == 1 else pd.concat(pieces, ignore_index=True)
        for c in payload:
            if c not in merged.columns:
                merged[c] = None
        if match_indicator:
            merged[match_indicator] = merged["__asof_m__"].notna()
        if len(null_ev):
            null_ev = null_ev.copy()
            for c in payload:
                null_ev[c] = None
            if match_indicator:
                null_ev[match_indicator] = False
            merged = pd.concat([merged[out_cols], null_ev[out_cols]],
                               ignore_index=True)
        return merged[out_cols]

    # r6: cogroup by a HASH BUCKET of entities, not per entity — the merge
    # itself handles per-entity grouping via pandas merge_asof(by=on)
    # (vectorized C across all entities of the bucket), so the Python
    # function runs `width` times instead of once per entity (~1 ms/call ×
    # |entities| dominated the gate at 1M rows/5k entities).  The bucket
    # width is pinned: the Arrow/pandas merge is CPU-dense but byte-light,
    # and AQE's size-based coalescing would otherwise funnel every group
    # through ONE python worker (measured 14s -> 2s at sf0.1).
    width = int(events.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    bucket = F.pmod(F.xxhash64(F.col(on)), F.lit(width)).cast("int")
    ev_w = events.withColumn("__bkt", bucket)
    ft_w = ft.withColumn("__bkt", bucket)
    out = (
        ev_w.groupBy("__bkt")
        .cogroup(ft_w.groupBy("__bkt"))
        .applyInPandas(lambda l, r: merge(l.drop(columns=["__bkt"]),
                                          r.drop(columns=["__bkt"])),
                       schema=out_schema)
    )
    return out


def leakage_check(
    joined: DataFrame,
    features: DataFrame,
    on: str = "entity",
    left_ts: str = "event_time",
    right_ts: str = "feature_time",
    match_cols: Iterable[str] | None = None,
    matched_col: str | None = None,
) -> int:
    """Count temporal-leakage violations: output rows whose attached feature
    payload could only have come from a feature row with right_ts >= left_ts.
    Returns the violation count (0 = clean).  Used by the property tests
    (SURVEY.md §5.2 item 4).

    ``matched_col``: name of an explicit matched/miss indicator column emitted
    by ``asof_join(match_indicator=...)``.  Without it, misses are INFERRED
    from all-null payloads, which has a blind spot: a genuinely leaked feature
    row whose payload columns are ALL null is indistinguishable from a miss
    and goes unchecked.  Pass the indicator to close it."""
    if match_cols is None:
        match_cols = _payload_cols(features, on, right_ts)
    match_cols = list(match_cols)
    if matched_col is not None and matched_col in match_cols:
        match_cols.remove(matched_col)
    # Prefix the feature side to dodge self-join ambiguity (joined was derived
    # from features).
    ft = features.select(
        F.col(on).alias("__f_on"),
        F.col(right_ts).alias("__f_ts"),
        *[F.col(c).alias(f"__f_{c}") for c in match_cols],
    )
    if matched_col is not None:
        # explicit indicator: exact miss filtering, no blind spot
        joined = joined.filter(F.col(matched_col))
    else:
        # an output row whose ENTIRE payload is null had no feature attached
        # (left-outer miss); eqNullSafe would pair it with any all-null feature
        # row and report a false violation.  Blind spot documented above.
        has_payload = None
        for c in match_cols:
            nn = joined[c].isNotNull()
            has_payload = nn if has_payload is None else (has_payload | nn)
        joined = joined.filter(has_payload) if has_payload is not None else joined
    cond = joined[on] == ft["__f_on"]
    for c in match_cols:
        cond = cond & joined[c].eqNullSafe(ft[f"__f_{c}"])
    pair = joined.join(ft, cond, "inner")
    earliest = pair.groupBy(on, left_ts, *match_cols).agg(F.min("__f_ts").alias("__min_ft"))
    return earliest.filter(F.col("__min_ft") >= F.col(left_ts)).count()
