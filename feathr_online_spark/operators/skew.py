"""Skew-proof (time-bucketed) point-in-time operators: one within-bucket core
plus one summary/carry repair.

THE problem at 100 TB: per-entity window operators shuffle on the entity key,
so a Zipf-hot entity (one doc_id holding 25% of all rows — exactly what the
synthetic workload plants) lands in ONE task.  AQE splits skewed *joins* but
not window partitions; the hot task becomes an Amdahl floor that no cluster
size fixes (measured here: the same job runs 13 s skewed vs 1.5 s deskewed on
local[32]).

The cure is decomposition, not salting-by-hash (a random salt would break
order-dependent semantics): slice each entity's timeline into fixed buckets,
compute everything *within* (entity, bucket) partitions — now bounded in size
— and repair the cross-bucket dependencies on a TINY per-(entity, bucket)
summary table (the key×time partitioning of Waterwheel, ICDE 2018, with
aggregates combined across unaligned partitions as in GeoAlign, EDBT 2018).

``_pit_core`` states this once; every public function here is a thin call
into it.  It tags events, features and rolling context rows into one stream,
shuffles that stream ONCE on (entity, bucket) and computes in one sort:

- as-of: running ``last`` of the whole-row payload struct; carry-in = the
  last feature row of all earlier buckets.  Exact.
- forward-fill of any output column, event or payload: running last non-null
  within the bucket; carry-in = the fill value at the end of the earlier
  buckets.  A payload column's fill depends on which feature row attached, so
  its carry is computed on the summary after the as-of carry.  Exact.
- rolling, range mode: events within ``range_seconds`` of their bucket's end
  are replicated into the next bucket as context rows (excluded from output).
  Exact for ``range_seconds <= bucket_seconds``.
- rolling, rows mode: the summary keeps each bucket's last N events; a
  bucket's context rows are the latest N of those tails over the entity's
  previous N buckets holding events (each holds at least one, so together
  they reach N events back).  The rows frame runs after the feature rows are
  dropped, so it counts events only.  Exact however sparse the timeline.
- sessions: within-bucket ordinals; the summary re-checks each bucket's first
  gap against the previous event bucket's last timestamp and prefix-sums the
  corrected counts into offsets.  Exact.

The summary comes from aggregates that need no order (partially aggregated
before their shuffle) and, where an ordinal or an attached row is needed, a
narrow pass over keys, times and the filled or rolled values.  Its carry
rides back into the main pass as one extra row per bucket that sorts first,
so no join ever moves the wide stream a second time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from feathr_online_spark.operators.asof import asof_contract
from feathr_online_spark.operators.windows import ROLLING_FNS, gap_micros


def _bkt(ts_col: str, bucket_seconds: int) -> Column:
    """Bucket id; a NULL timestamp maps to a sentinel earliest bucket so the
    row keeps flowing through the (entity, bucket) repair joins — floor(null)
    would make the bucket key null and inner joins would silently DROP the
    row, where the plain window operators keep it (null ts sorts first in
    their ascending frames, exactly like the sentinel bucket here)."""
    return F.coalesce(
        F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_seconds).cast("long"),
        F.lit(-(2 ** 62)).cast("long"),
    )


def _ns_join(left: DataFrame, right: DataFrame, on: str, how: str = "inner") -> DataFrame:
    """Repair join on (entity, __bkt) that PRESERVES null entities: a
    column-name join uses SQL equality, under which null != null, so every
    null-entity row would vanish — the plain operators' window partitioning
    keeps nulls as their own group.  EqualNullSafe is still a hash-joinable
    equi-predicate, so the plan shape is unchanged."""
    rest = [c for c in right.columns if c not in (on, "__bkt")]
    r = right.select(F.col(on).alias("__r_on"), F.col("__bkt").alias("__r_bkt"), *rest)
    cond = F.col(on).eqNullSafe(F.col("__r_on")) & (F.col("__bkt") == F.col("__r_bkt"))
    return left.join(r, cond, how).drop("__r_on", "__r_bkt")


def _rolling_kw(rolling_spec: dict | None) -> dict:
    """``{"name", "col", "fn", "rows" | "range_seconds"}`` → the core's
    rolling keywords.  The composites roll over history strictly before the
    row, so a true ``include_current`` is refused rather than ignored."""
    if rolling_spec is None:
        return {}
    if rolling_spec.get("include_current"):
        raise ValueError("rolling_spec rolls over history strictly before the row; "
                         "include_current=True is not supported")
    return {"aggs": {rolling_spec["name"]: (rolling_spec["col"], rolling_spec["fn"])},
            "rows": rolling_spec.get("rows"), "range_seconds": rolling_spec.get("range_seconds")}


def _pit_core(
    events: DataFrame,
    features: DataFrame | None = None,
    *,
    on: str,
    left_ts: str,
    right_ts: str = "feature_time",
    strict: bool = True,
    ffill_cols: list[str] | tuple = (),
    aggs: dict[str, tuple[str, str]] | None = None,
    rows: int | None = None,
    range_seconds: int | None = None,
    include_current: bool = False,
    session_gap: int | None = None,
    session_col: str = "session_id",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """The event rows with (entity, time, event columns, payload columns, one
    column per ``aggs`` name, ``session_col`` if ``session_gap``), equal to
    the plain composition as-of → rolling → sessionize → forward-fill.
    Rolling reads unfilled event columns; ``ffill_cols`` may name event or
    payload columns.  A rows frame ends before the row; ``include_current``
    applies to the range frame only."""
    event_cols = [c for c in events.columns if c not in (on, left_ts)]
    if features is None:   # the window-only paths: events alone, tagged 0
        payload, (feat_tag, ev_tag), tiebreak = [], (1, 0), None
    else:
        payload, (feat_tag, ev_tag), tiebreak = asof_contract(
            features, on, right_ts, events, strict, "bucketed as-of")
    aggs = aggs or {}
    if aggs:
        if (rows is None) == (range_seconds is None):
            raise ValueError("bucketed rolling: specify exactly one of rows / range_seconds")
        if range_seconds is not None and range_seconds > bucket_seconds:
            raise ValueError("bucketed rolling: range_seconds must be ≤ bucket_seconds (single-hop context)")
        if any(c not in event_cols for c, _ in aggs.values()):
            raise ValueError("bucketed rolling aggregates event columns only")
    pf = [c for c in ffill_cols if c in payload]        # payload columns to fill
    agg_cols = list(dict.fromkeys(c for c, _ in aggs.values()))
    carry_tag = -1   # a bucket's carry row sorts first: (null µs, -1) precedes every real row

    def tagged(df: DataFrame, ts: str, tag: int, tb: Column, cols: list) -> DataFrame:
        # time travels as epoch µs only: exact, and one column fewer to shuffle
        return df.select(F.col(on), F.unix_micros(F.col(ts)).alias("__us"),
                         _bkt(ts, bucket_seconds).alias("__bkt"), F.lit(tag).alias("__tag"),
                         tb.cast("long").alias("__tb"), F.lit(0).alias("__ctx"), *cols)

    base = tagged(events, left_ts, ev_tag, F.lit(0), event_cols)
    if features is not None:
        # null-ts feature rows have no place on the timeline: asof_join drops them too
        ft = features.filter(F.col(right_ts).isNotNull())
        # whole-row payload struct: the winning feature ROW attaches as-is, nulls preserved
        base = base.unionByName(tagged(ft, right_ts, feat_tag, tiebreak,
                                       [F.struct(*payload).alias("__pl")]), allowMissingColumns=True)
    is_ev = (F.col("__tag") == ev_tag) & (F.col("__ctx") == 0)
    is_feat = F.col("__tag") == feat_tag
    order = F.struct("__us", "__tag", "__tb")

    # ---- summary: one row per (entity, bucket), from aggregates that need no
    # order (partially aggregated before their shuffle) and, where an ordinal
    # or an attached row is needed, from a narrow pass over keys and times ----
    parts = []
    pre = {f"__end_{c}": F.max_by(c, F.when(is_ev & F.col(c).isNotNull(), order))
           for c in ffill_cols if c not in payload}
    if payload:
        pre["__pl_end"] = F.max_by("__pl", F.when(is_feat, order))
    if pre:
        parts.append(base.groupBy(on, "__bkt").agg(*[e.alias(k) for k, e in pre.items()]))
    if session_gap is not None or pf or rows is not None:
        w_n = Window.partitionBy(on, "__bkt").orderBy("__us", "__tag", "__tb")
        run_n = w_n.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        narrow = base.select(on, "__us", "__bkt", "__tag", "__tb", "__ctx", *agg_cols,
                             *[F.col("__pl")[c].alias(c) for c in pf])
        nagg = []
        if session_gap is not None:
            narrow = narrow.withColumn("__s_raw", _session_starts(w_n, is_ev, session_gap))
            nagg += [F.max(F.when(is_ev, F.col("__s_raw"))).alias("__raw"),
                     F.min(F.when(is_ev, F.col("__us"))).alias("__first"),
                     F.max(F.when(is_ev, F.col("__us"))).alias("__last")]
        if pf:
            # the ffilled payload fields of the feature row each event attaches in-bucket
            narrow = narrow.withColumn("__att", F.last(F.when(is_feat, F.struct(*pf)), ignorenulls=True)
                                       .over(run_n))
            nagg += [F.max_by(F.col("__att")[c], F.when(is_ev & F.col("__att")[c].isNotNull(), order))
                     .alias(f"__end_{c}") for c in pf]
            # the bucket's first row is an event: its early events attach the carried-in row
            nagg.append((F.min_by("__tag", order) == ev_tag).alias("__lead"))
        if rows is not None:
            latest_events_first = Window.partitionBy(on, "__bkt").orderBy(
                (F.col("__tag") == ev_tag).desc(), F.col("__us").desc())
            narrow = narrow.withColumn("__rk", F.row_number().over(latest_events_first))
            nagg.append(F.collect_list(F.when(is_ev & (F.col("__rk") <= rows), F.struct("__us", *agg_cols)))
                        .alias("__tails"))
        parts.append(narrow.groupBy(on, "__bkt").agg(*nagg))

    un = base
    if aggs and range_seconds is not None:
        # range mode: events within range_seconds of their bucket's end are the
        # next bucket's context rows — a filter, no shuffle
        bucket_end_us = (F.col("__bkt") + 1) * (bucket_seconds * 1_000_000)
        ctx = base.filter(is_ev & (F.col("__us") >= bucket_end_us - range_seconds * 1_000_000)).select(
            on, "__us", (F.col("__bkt") + 1).alias("__bkt"), F.lit(ev_tag).alias("__tag"),
            F.lit(0).cast("long").alias("__tb"), F.lit(1).alias("__ctx"), *agg_cols)
        un = un.unionByName(ctx, allowMissingColumns=True)

    if parts:
        summary = parts[0] if len(parts) == 1 else _ns_join(parts[0], parts[1], on)
        wb = Window.partitionBy(on).orderBy("__bkt")
        before = wb.rowsBetween(Window.unboundedPreceding, -1)
        carry = {}   # the carry row's columns, read back by the main pass below
        if payload:
            summary = summary.withColumn("__carry_pl", F.last("__pl_end", ignorenulls=True).over(before))
            carry["__pl"] = F.col("__carry_pl")
        if session_gap is not None:
            prev_last = F.last("__last", ignorenulls=True).over(before)
            summary = summary.withColumn("__adjust", F.when(F.col("__first") - prev_last <= gap_micros(session_gap),
                                                            -1).otherwise(0).cast("long"))
            offset = F.coalesce(F.sum(F.col("__raw") + F.col("__adjust")).over(before), F.lit(0).cast("long"))
            carry["__off"] = offset + F.col("__adjust") - 1
        # the fill value at the end of a bucket; a payload column's may be the
        # carried-in row's, which the bucket's leading events attach
        ends = {c: F.coalesce(f"__end_{c}", F.when(F.col("__lead"), F.col("__carry_pl")[c])) if c in pf
                else F.col(f"__end_{c}") for c in ffill_cols}
        carry.update({c: F.last(e, ignorenulls=True).over(before) for c, e in ends.items()})
        summary = summary.withColumns(carry)
        row = {"__bkt": F.col("__bkt"), "__us": F.lit(None).cast("long"), "__tag": F.lit(carry_tag),
               "__ctx": F.lit(0), **{k: F.col(k) for k in carry}}
        if rows is not None:
            # rows mode: a bucket's context rows are the latest `rows` events
            # among the tails of the entity's previous `rows` buckets holding
            # events (partitioning by has-events keeps event buckets apart; a
            # bucket without events sees only empty tails) — one explode
            # emits them with the carry row, so the summary is read once
            prior = F.flatten(F.collect_list("__tails").over(
                Window.partitionBy(on, F.size("__tails") > 0).orderBy("__bkt").rowsBetween(-rows, -1)))
            summary = summary.withColumn("__ctx_rows", F.slice(F.sort_array(prior, asc=False), 1, rows)).select(
                "*", F.posexplode(F.array_prepend("__ctx_rows", F.lit(None))).alias("__pos", "__t"))
            is_ctx = F.col("__pos") > 0
            row = {k: F.when(~is_ctx, e) for k, e in row.items()}
            row.update({"__bkt": F.col("__bkt"), "__us": F.col("__t.__us"),
                        "__tag": F.when(is_ctx, ev_tag).otherwise(carry_tag), "__ctx": is_ctx.cast("int"),
                        **{c: F.when(is_ctx, F.col("__t")[c]).otherwise(row.get(c)) for c in agg_cols}})
        extra = summary.select(on, *[e.alias(k) for k, e in row.items()]).withColumn(
            "__tb", F.lit(0).cast("long"))
        un = un.unionByName(extra, allowMissingColumns=True)

    # ---- the one within-bucket pass over the wide stream: one sort ----
    w = Window.partitionBy(on, "__bkt").orderBy("__us", "__tag", "__tb", "__ctx")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = un
    if payload:
        d = d.withColumn("__in_pl", F.last("__pl", ignorenulls=True).over(run))
    if session_gap is not None:
        d = d.withColumn(session_col, F.last("__off", ignorenulls=True).over(run)
                         + _session_starts(w, is_ev, session_gap))
    is_carry = F.col("__tag") == carry_tag
    fill_src = {c: F.when(is_carry, F.col(c)).when(is_ev, F.col("__in_pl")[c] if c in payload else F.col(c))
                for c in ffill_cols}
    d = d.withColumns({f"__in_{c}": F.last(e, ignorenulls=True).over(run) for c, e in fill_src.items()})

    kept = d.filter(F.col("__tag") == ev_tag)
    if aggs:
        if rows is not None:
            frame = w.rowsBetween(-rows, -1)
        else:
            frame = Window.partitionBy(on, "__bkt").orderBy("__us").rangeBetween(
                -range_seconds * 1_000_000, 0 if include_current else -1)
        kept = kept.withColumns({name: ROLLING_FNS[fn](c).over(frame) for name, (c, fn) in aggs.items()})

    def out(c: str) -> Column:
        if c in ffill_cols:
            return F.col(f"__in_{c}")
        return F.col("__in_pl")[c] if c in payload else F.col(c)

    return kept.filter(F.col("__ctx") == 0).select(
        F.col(on), F.timestamp_micros("__us").alias(left_ts),
        *[out(c).alias(c) for c in event_cols + payload], *aggs,
        *([session_col] if session_gap is not None else []),
    )


def _session_starts(w: WindowSpec, is_ev: Column, gap_seconds: int) -> Column:
    """Running count of session starts among the bucket's events: an event
    starts one when no earlier event of the bucket lies within the gap."""
    prev = F.last(F.when(is_ev, F.col("__us")), ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    new = F.when(is_ev, (prev.isNull() | (F.col("__us") - prev > gap_micros(gap_seconds))).cast("long"))
    return F.sum(new).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))


def asof_join_bucketed(
    events: DataFrame,
    features: DataFrame,
    on: str = "entity",
    left_ts: str = "event_time",
    right_ts: str = "feature_time",
    strict: bool = True,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Exact strict-`<` as-of join with per-(entity, bucket) parallelism; same
    semantics as operators.asof.asof_join.  Strictness only matters for
    same-timestamp rows, which share a bucket, so the within-bucket tag order
    handles it and the carry-in (strictly earlier buckets) is always safe."""
    return _pit_core(events, features, on=on, left_ts=left_ts, right_ts=right_ts,
                     strict=strict, bucket_seconds=bucket_seconds)


def sessionize_bucketed(
    df: DataFrame,
    gap_seconds: int,
    on: str = "entity",
    ts: str = "event_time",
    session_col: str = "session_id",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Exact gap sessionization (operators.windows.sessionize) with bounded partitions."""
    out = _pit_core(df, on=on, left_ts=ts, session_gap=gap_seconds, session_col=session_col,
                    bucket_seconds=bucket_seconds)
    return out.select(*df.columns, session_col)


def rolling_bucketed(
    df: DataFrame,
    aggs: dict[str, tuple[str, str]],
    on: str = "entity",
    ts: str = "event_time",
    *,
    range_seconds: int,
    include_current: bool = True,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Exact trailing time-range aggregates (operators.windows.rolling with
    ``range_seconds``) with bounded partitions; ``range_seconds`` must be
    ≤ ``bucket_seconds``.  Value-based frames are immune to the tie ordering
    of row frames, so this holds on any data."""
    out = _pit_core(df, on=on, left_ts=ts, aggs=aggs, range_seconds=range_seconds,
                    include_current=include_current, bucket_seconds=bucket_seconds)
    return out.select(*df.columns, *aggs)


def pit_fused_bucketed(
    events: DataFrame,
    features: DataFrame,
    on: str = "entity",
    left_ts: str = "event_time",
    right_ts: str = "feature_time",
    strict: bool = True,
    ffill_cols: list[str] | None = None,
    rolling_spec: dict | None = None,   # {"name", "col", "fn", "rows" | "range_seconds"}
    session_gap: int | None = None,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """The skew-proof composite: strict-`<` as-of join, forward-fill,
    rows- or time-range rolling and gap sessions in one (entity, bucket) pass
    plus one summary/carry repair."""
    return _pit_core(events, features, on=on, left_ts=left_ts, right_ts=right_ts, strict=strict,
                     ffill_cols=ffill_cols or (), session_gap=session_gap, bucket_seconds=bucket_seconds,
                     **_rolling_kw(rolling_spec))
