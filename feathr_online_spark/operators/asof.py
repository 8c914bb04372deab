"""Point-in-time (as-of) join with zero temporal leakage.

The reference has only keyed equi-lookups (piper/src/pipeline/lookup/mod.rs:24-53);
the point-in-time-correct variant — "for each event at time t, attach the most
recent feature row with feature_time strictly < t" — is the new surface this
engine adds (SURVEY.md §2.1 notes, §7.1 step 6).  Strict ``<`` is the leakage
guarantee: a feature stamped at exactly the event time must NOT be visible.

Construction: union-tag + running ``last(ignorenulls)`` window.  Both sides
are tagged and unioned; within each entity, rows sort by ``(ts, tag)`` where
events sort BEFORE features at equal timestamps (tag 0 vs 1), so a running
``last(payload_struct, ignorenulls=True)`` over
``rowsBetween(unboundedPreceding, currentRow)`` sees only features with ts
strictly below the event's — strict ``<`` falls out of the sort order with no
per-row logic.  The payload travels as ONE struct so the whole winning
feature row attaches (nulls preserved), matching merge_asof, and the window
carries one ``last()`` however wide the feature row is.  Cost: ONE shuffle
of events+features on the entity key, then a linear scan per entity.  All
JVM-side (window exec + codegen'd last), no Python anywhere.

At 100 TB: each side is shuffled exactly once on the entity key.
Feed them inputs bucketed/sorted by entity and AQE will coalesce; hot
entities belong on ``operators.pit.pit_enrich``'s bucketed hot branch, which
splits them by (entity, time bucket).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window


def asof_join(
    events: DataFrame,
    features: DataFrame,
    on: str = "entity",
    left_ts: str = "event_time",
    right_ts: str = "feature_time",
    strict: bool = True,
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
    payload, (feat_tag, event_tag), tiebreak = asof_contract(
        features, on, right_ts, events, strict, "asof_join")
    # A feature row with a NULL timestamp has no defined position on the
    # timeline and can never be attached without risking leakage — drop it
    # (the union sort would otherwise treat it as -inf).
    features = features.filter(F.col(right_ts).isNotNull())
    if match_indicator is not None and (
        match_indicator in events.columns or match_indicator in payload
    ):
        raise ValueError(f"asof_join: match_indicator {match_indicator!r} "
                         f"collides with an existing column")
    event_cols = [c for c in events.columns if c not in (on, left_ts)]

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
        tiebreak.alias("__tb"),
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


def asof_contract(features: DataFrame, on: str, right_ts: str, events: DataFrame | None = None,
                  strict: bool = True, caller: str = "asof_join") -> tuple[list[str], tuple[int, int], Column]:
    """The input contract every as-of strategy shares: ``(payload,
    (feature_tag, event_tag), tiebreak)``.  The payload is the feature
    columns besides ``on`` and ``right_ts``; there must be one, and none may
    share an ``events`` column's name (else a ValueError naming ``caller``).
    The tags encode the leakage rule: at equal ts, events (tag 0) sort
    before features (tag 1), so a feature at exactly the event time is not
    yet visible — strict '<'; non-strict flips them.  Among feature rows
    sharing (entity, ts) the greatest ``tiebreak`` (xxhash64 of the payload)
    wins, so results do not depend on input order."""
    payload = [c for c in features.columns if c not in (on, right_ts)]
    if not payload:
        raise ValueError(f"{caller}: features must have at least one payload "
                         f"column besides ({on}, {right_ts})")
    overlap = set(payload) & set(events.columns if events is not None else ())
    if overlap:
        raise ValueError(f"{caller}: feature columns collide with event columns: {sorted(overlap)}")
    return payload, ((1, 0) if strict else (0, 1)), F.xxhash64(*payload)


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
        match_cols = asof_contract(features, on, right_ts, caller="leakage_check")[0]
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
