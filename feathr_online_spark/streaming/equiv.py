"""Batch-equivalence harness for the streaming operators (VERDICT r3 #4).

The streaming surface (streaming/pit.py) re-expresses batch operators as
Structured Streaming; its correctness claim is *batch equivalence*: replaying
the same rows through the stream — in event-time order, across several
micro-batches, so cross-batch GroupState is genuinely exercised — must yield
exactly the batch operators' output.  This module turns that claim into a
gate query: `stream_equivalence_summary` replays a deterministic fixture
derived from the `events` table through

- ``stream_asof_enrich``       vs batch ``asof_join``      (strict PIT),
- ``stream_sessionize``        vs batch ``sessionize``     (gap sessions),
- ``stream_exact_dedup``       vs batch ``dropDuplicates`` (ingest dedup),
- ``stream_windowed_features`` vs batch tumbling groupBy   (windowed aggs),
- ``stream_forward_fill``      vs batch ``forward_fill``   (stateful ffill),

and returns one row per surface: ``(surface, n_out, equal_ok)`` where
``equal_ok`` is a symmetric ``exceptAll`` emptiness check against the batch
output.  The DuckDB oracle reproduces ``n_out`` independently from the
`events` view and pins ``equal_ok = true`` — so the driver's hash compare
fails if the stream drops, duplicates, or mutates a single row.

Replay construction (all deterministic):
- fixture = events table → (entity=user_id, event_time=ts, event_id, value,
  is_feat=(event_type='purchase'), dup=false) as one time-ordered file,
  plus a second file of byte-identical copies (dup=true) of every row with
  event_id%7==0, arriving LAST to exercise cross-batch dedup state (see
  write_replay_fixture for the r6 trigger-cost rationale);
- file mtimes strictly increase (the file source orders by modification
  time), ``maxFilesPerTrigger=1`` + ``availableNow`` → 2 micro-batches;
- the three streaming queries run CONCURRENTLY (independent checkpoints) so
  the gate pays max(), not sum(), of their wall times.

Why time-ordered replay makes as-of exact: the GroupState carries only the
newest feature row per entity, which is lossy only for events that arrive in
a later micro-batch than a feature STAMPED AFTER them — impossible when file
k's timestamps all precede file k+1's (the documented streaming relaxation
never triggers; see stream_asof_enrich's docstring).
"""

from __future__ import annotations

import itertools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_qname_counter = itertools.count()

GAP_SECONDS = 1800


def write_replay_fixture(sf_dir: str, out_dir: str) -> str:
    """Materialize the replay fixture from ``sf_dir``/events.parquet
    (idempotent — skips when the directory already holds the expected files).
    Pure pyarrow/pandas: deterministic bytes, no Spark partitioning in the way.

    r6: ONE full-corpus slice + the late-duplicate file = 2 micro-batch
    triggers (was 3 + 1 — the trade VERDICT r5 #6 recommends).  Measured
    per-batch duration is 10-14 s per surface at sf1.0 nearly independent
    of row count (state-commit/trigger overhead dominates; cores are mostly
    idle), so trigger count IS the harness cost.  The duplicate file still
    arrives LAST, so cross-batch dedup state is genuinely exercised (every
    dup row must vanish against state carried from trigger 1); the
    remaining cross-batch state behaviours (as-of carry, ffill carry,
    session spanning) stay covered by the dedicated multi-drop unit tests
    in tests/test_streaming.py.  Gate output is identical by construction —
    n_out/equal_ok do not depend on the slicing."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from feathr_online_spark.datagen import write_parquet_fixture

    names = [f"part-{i:02d}.parquet" for i in range(2)]
    if os.path.isdir(out_dir):
        if sorted(f for f in os.listdir(out_dir) if f.endswith(".parquet")) == names:
            return out_dir
        shutil.rmtree(out_dir)   # stale or partial layout
    t = pq.read_table(os.path.join(sf_dir, "events.parquet")).to_pandas()
    df = t.rename(columns={"user_id": "entity", "ts": "event_time"})[
        ["entity", "event_time", "event_id", "value"]
    ].copy()
    df["is_feat"] = (t["event_type"] == "purchase").to_numpy()
    df["dup"] = False
    # normalize to MICROsecond timestamps: a Spark-written source table can
    # carry timestamp[ns], and pyarrow would faithfully write
    # TIMESTAMP(NANOS) — which Spark's reader rejects as INT64 vs timestamp
    df["event_time"] = df["event_time"].astype("datetime64[us]")
    df = df.sort_values(["event_time", "event_id"], kind="mergesort").reset_index(drop=True)
    slices = [df]
    dups = df[df["event_id"] % 7 == 0].copy()
    dups["dup"] = True
    # boundary-semantics guard: a per-entity gap of EXACTLY the session gap
    # is the one input where batch sessionize (new session iff gap > g) and
    # session_window (touching windows don't merge → new session iff
    # gap >= g) legitimately disagree — the driver data has none
    # (microsecond stamps), but a future regeneration must fail LOUDLY here
    # rather than as an inscrutable equal_ok=false
    gaps_us = (df.sort_values(["entity", "event_time"], kind="mergesort")
                 .groupby("entity")["event_time"].diff().dropna()
                 .astype("timedelta64[us]").astype("int64"))
    if (gaps_us == GAP_SECONDS * 1_000_000).any():
        raise AssertionError(
            "replay fixture contains a per-entity gap of exactly "
            f"{GAP_SECONDS}s — batch sessionize (>) and session_window (>=) "
            "diverge on that boundary; regenerate or change GAP_SECONDS")
    schema = pa.Schema.from_pandas(slices[0], preserve_index=False)
    base_mtime = 1_600_000_000
    for i, (name, part) in enumerate(zip(names, slices + [dups])):
        tbl = pa.Table.from_pandas(part, schema=schema, preserve_index=False)
        p = write_parquet_fixture(os.path.join(out_dir, name), lambda: [tbl])
        os.utime(p, (base_mtime + 10 * i, base_mtime + 10 * i))
    return out_dir


def _run_to_memory(out: DataFrame, mode: str, checkpoint_root: str):
    """Start ``out`` into a sink; returns ``(query, sink_ref)``.

    r6: append-mode streams (the full-volume surfaces — as-of, dedup,
    ffill) write a PARQUET sink under the checkpoint root instead of a
    memory sink: a memory sink collects every output row into DRIVER
    memory and each comparison then re-ships those rows driver→executors —
    at 1M rows × 3 surfaces that round trip dominated the verify legs.
    Complete-mode aggregations (sessionize, windowed) must stay on the
    memory sink (parquet sink is append-only)."""
    name = f"stream_eqv_{next(_qname_counter)}"
    writer = out.writeStream.outputMode(mode).option(
        "checkpointLocation", os.path.join(checkpoint_root, name)
    ).trigger(availableNow=True)
    if mode == "append":
        path = os.path.join(checkpoint_root, name + "_out")
        q = writer.format("parquet").option("path", path).start()
        return q, ("path", path, out.schema)
    q = writer.format("memory").queryName(name).start()
    return q, ("table", name)


def _sink_df(spark: SparkSession, ref) -> DataFrame:
    """DataFrame over a sink reference from ``_run_to_memory``."""
    if ref[0] == "path":
        # explicit schema: a surface whose stream emitted zero rows leaves
        # only the metadata log, and schema inference would fail
        return spark.read.schema(ref[2]).parquet(ref[1])
    return spark.table(ref[1])


def _sym_diff_empty(a: DataFrame, b: DataFrame):
    """Boolean one-cell aggregate: a and b hold exactly the same multiset of
    rows (order-insensitive, exact values).

    Signed-count form (r6): union a(+1)/b(−1), group by every column, any
    non-zero weight sum ⇒ unequal.  The same exact-multiset predicate the
    old symmetric ``exceptAll`` pair computed, in ONE shuffle of a+b instead
    of four side-shuffles (each exceptAll exchanges both inputs)."""
    cols = a.columns
    tagged = (
        a.select(*cols, F.lit(1).alias("__w"))
        .unionByName(b.select(*cols, F.lit(-1).alias("__w")))
    )
    bad = (
        tagged.groupBy(*cols).agg(F.sum("__w").alias("__d"))
        .filter(F.col("__d") != 0)
    )
    return bad.agg((F.count(F.lit(1)) == 0).alias("ok"))


def _with_gaps(df: DataFrame) -> DataFrame:
    """Forward-fill input shape: every 3rd value nulled (leading nulls in a
    later micro-batch must fill from the previous batch's carried state)."""
    return df.filter(~F.col("dup")).select(
        "entity", "event_time", "event_id",
        F.when(F.col("event_id") % 3 != 0, F.col("value")).alias("v"))


def replay_streams(spark: SparkSession, fixture_dir: str, ckpt: str) -> dict:
    """Start all five streaming surfaces over the replay fixture and return
    ``{surface: (query, sink_ref)}`` (``sink_ref`` readable via
    ``_sink_df``) — shared by the equivalence summary AND the bench
    engine-only variant, so the two can never drift apart in wiring (what
    the engine/verify split exists to separate)."""
    from feathr_online_spark.streaming.pit import (
        stream_asof_enrich,
        stream_exact_dedup,
        stream_forward_fill,
        stream_sessionize,
        stream_windowed_features,
    )

    schema = ("entity long, event_time timestamp, event_id long, "
              "value double, is_feat boolean, dup boolean")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(fixture_dir)
    )
    # as-of: non-purchase events enrich from purchase "features"
    s_ev = (stream.filter(~F.col("is_feat") & ~F.col("dup"))
            .select("entity", "event_time", "event_id"))
    s_ft = (stream.filter(F.col("is_feat") & ~F.col("dup"))
            .select("entity", F.col("event_time").alias("feature_time"),
                    F.round("value", 4).alias("f")))
    return {
        "asof": _run_to_memory(
            stream_asof_enrich(s_ev, s_ft, strict=True), "append", ckpt),
        # complete mode flushes every session/window at end-of-replay
        "sessionize": _run_to_memory(
            stream_sessionize(stream.filter(~F.col("dup")),
                              {"n": F.count(F.lit(1))},
                              gap=f"{GAP_SECONDS} seconds"),
            "complete", ckpt),
        # dup=true copies arrive in the LAST micro-batch and must be dropped
        # by cross-batch state (huge watermark: nothing is ever late)
        "dedup": _run_to_memory(
            stream_exact_dedup(stream, keys=["event_id"],
                               watermark="3650 days"),
            "append", ckpt),
        "windowed": _run_to_memory(
            stream_windowed_features(stream.filter(~F.col("dup")),
                                     {"n": F.count(F.lit(1))},
                                     window="10 minutes", watermark="1 hour"),
            "complete", ckpt),
        "ffill": _run_to_memory(
            stream_forward_fill(_with_gaps(stream), ["v"]), "append", ckpt),
    }


def _cleanup_replay(spark: SparkSession, handles: dict, ckpt: str) -> None:
    """Drop the memory-sink tables and the checkpoint dir — a memory sink
    pins its full output in DRIVER memory until the view is dropped, and
    bench reps would otherwise accumulate dead tables for the session's
    lifetime."""
    import shutil

    for _q, ref in handles.values():
        if ref[0] == "table":
            try:
                spark.catalog.dropTempView(ref[1])
            except Exception:
                pass
    shutil.rmtree(ckpt, ignore_errors=True)   # incl. the parquet sink dirs


def run_replay(spark: SparkSession, sf_dir: str, fixture_dir: str,
               timeout_s: int = 600) -> dict:
    """Fixture + replay + awaitTermination; returns the handles dict.
    Caller must _cleanup_replay (or consume via stream_equivalence_summary,
    which does).

    A query that has not terminated within ``timeout_s`` is STOPPED and the
    whole replay raises: ``awaitTermination(timeout)`` returns False on
    timeout without stopping anything, and proceeding would let the caller
    compare half-finished output — or worse, delete the checkpoint dir out
    from under a live query."""
    write_replay_fixture(sf_dir, fixture_dir)
    ckpt = tempfile.mkdtemp(prefix="stream_eqv_ckpt_")
    # (A replay-scoped narrower shuffle width was measured and REJECTED:
    # fewer state-store commits did not beat the lost parallelism of the
    # CPU-dense applyInPandasWithState stages — 13 s at the session's 32
    # partitions vs 16-18 s pinned to 8/16 on this box.)
    handles = replay_streams(spark, fixture_dir, ckpt)
    stuck = []
    try:
        for surface, (q, _name) in handles.items():
            if not q.awaitTermination(timeout_s):
                stuck.append(surface)
                q.stop()
    except Exception:
        # a query FAILING (StreamingQueryException) rather than hanging must
        # not leak the other live queries, their memory-sink tables, or the
        # checkpoint dir for the session lifetime (ADVICE r4)
        for _surface, (q, _name) in handles.items():
            try:
                q.stop()
            except Exception:
                pass
        _cleanup_replay(spark, handles, ckpt)
        raise
    if stuck:
        _cleanup_replay(spark, handles, ckpt)
        raise TimeoutError(
            f"stream replay did not finish within {timeout_s}s for "
            f"{stuck}; queries stopped and resources cleaned up")
    return {"handles": handles, "ckpt": ckpt}


def stream_equivalence_summary(spark: SparkSession, sf_dir: str,
                               fixture_dir: str) -> DataFrame:
    """Replay the fixture through all five streaming operators and return
    ``(surface, n_out, equal_ok)`` rows (see module docstring).

    The comparison is evaluated EAGERLY and the result returned as a small
    local DataFrame: the summary is 5 rows, and deferring it would pin the
    memory-sink tables (full stream outputs, driver-resident) for as long
    as the caller holds the plan."""
    from feathr_online_spark.operators.asof import asof_join
    from feathr_online_spark.operators.windows import forward_fill, sessionize

    state = run_replay(spark, sf_dir, fixture_dir)
    handles, ckpt = state["handles"], state["ckpt"]

    # batch references over the SAME fixture
    fix = spark.read.parquet(fixture_dir)
    b_ev = (fix.filter(~F.col("is_feat") & ~F.col("dup"))
            .select("entity", "event_time", "event_id"))
    b_ft = (fix.filter(F.col("is_feat") & ~F.col("dup"))
            .select("entity", F.col("event_time").alias("feature_time"),
                    F.round("value", 4).alias("f")))
    b_asof = asof_join(b_ev, b_ft, strict=True)

    b_sess = (
        sessionize(fix.filter(~F.col("dup")), gap_seconds=GAP_SECONDS)
        .groupBy("entity", "session_id")
        .agg(F.min("event_time").alias("session_start"),
             (F.timestamp_micros(
                 F.unix_micros(F.max("event_time")) + GAP_SECONDS * 1_000_000)
              ).alias("session_end"),
             F.count(F.lit(1)).alias("n"))
        .select("entity", "session_start", "session_end", "n")
    )

    cmp_cols = ["entity", "event_time", "event_id", "value"]
    b_dedup = fix.filter(~F.col("dup")).select(*cmp_cols)

    b_win = (
        fix.filter(~F.col("dup"))
        .groupBy("entity", F.window("event_time", "10 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("entity", F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"), "n")
    )

    b_ff = forward_fill(_with_gaps(fix), ["v"])

    batch_side = {
        "asof": (b_asof, None),
        "dedup": (b_dedup, cmp_cols),
        "ffill": (b_ff, ["entity", "event_time", "event_id", "v"]),
        "sessionize": (b_sess, ["entity", "session_start", "session_end", "n"]),
        "windowed": (b_win, ["entity", "window_start", "window_end", "n"]),
    }
    def compare(item):
        surface, (batch_df, cols) = item
        # job descriptions are thread-local — each concurrent leg labels itself
        spark.sparkContext.setJobDescription(f"stream_equiv verify: {surface}")
        st = _sink_df(spark, handles[surface][1])
        if cols:
            st = st.select(*cols)
            batch_df = batch_df.select(*cols)
        r = (
            st.agg(F.count(F.lit(1)).alias("n_out"))
            .crossJoin(_sym_diff_empty(st, batch_df))
            .select(F.lit(surface).alias("surface"), "n_out",
                    F.col("ok").alias("equal_ok"))
        ).collect()[0]
        return (surface, r.n_out, bool(r.equal_ok))

    try:
        # the five comparisons are independent jobs — overlap them so one
        # leg's straggler tail back-fills with the next leg's tasks
        # (optimization guide §2.6); 3 in flight keeps the box busy without
        # thrashing
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            rows = list(pool.map(compare, batch_side.items()))
    finally:
        _cleanup_replay(spark, handles, ckpt)
    return spark.createDataFrame(
        rows, "surface string, n_out long, equal_ok boolean")
