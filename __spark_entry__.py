"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time query on sf0.001;
``queries()`` exposes one callable per implemented operator (SURVEY.md §2);
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for each.

A gate is registered once, in the ``_GATES`` table at the end of this file:
its query, its oracle and, for a gate with verify legs, the engine-only
variant ``engine_queries()`` returns.  The gate calls that variant (or the
engine leg the two share), so they differ by the verify legs alone.

Convention used throughout so the driver's order-insensitive value-hash compare
is stable across engines:
- timestamps are projected as ``unix_micros`` longs (Spark) / ``epoch_us``
  (DuckDB) — no tz/format ambiguity;
- every double is ``round(x, 4)`` on both sides;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from functools import wraps
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from feathr_online_spark.operators.asof import asof_join
from feathr_online_spark.operators.dedup import (
    _widen,
    exact_dup_stats,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from feathr_online_spark.operators.multimodal import extract_features, write_asset_fixture
from feathr_online_spark.operators.pii import write_pii_fixture
from feathr_online_spark.operators.pipeline import Pipeline
from feathr_online_spark.operators.similarity import (
    embedding_topk_pairs,
    knn_bruteforce,
    write_embedding_fixture,
)
from feathr_online_spark.operators.text import lang_id, write_lang_fixture
from feathr_online_spark.operators.windows import rolling, sessionize
from feathr_online_spark.session import RUNTIME_CONF

Query = Callable[[SparkSession, str], DataFrame]


def _prep(spark: SparkSession) -> SparkSession:
    """Make a caller-provided session (the driver creates its own) behave like
    feathr_online_spark.session.get_spark by applying session.RUNTIME_CONF
    (all runtime-settable)."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


# Generated inputs that gates read outside sf_dir: name → (path, writer).
# Every writer goes through datagen.write_parquet_fixture (idempotent,
# crash-safe); _fixture() ensures one before a query reads it, and
# oracle_sql() ensures them all, so whether a gate's query or its oracle
# runs first cannot matter.  The stream_equiv replay fixture is derived
# per sf_dir by streaming.equiv.run_replay under _replay_dir(sf_dir).
_FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".fixtures")
_FIXTURES: dict[str, tuple[str, Callable[[str], str]]] = {
    "lang": (os.path.join(_FIXTURE_DIR, "lang_docs.parquet"), write_lang_fixture),
    "assets": (os.path.join(_FIXTURE_DIR, "multimodal_assets.parquet"),
               lambda p: write_asset_fixture(p, n=96)),
    "embedding": (os.path.join(_FIXTURE_DIR, "embedding_dups.parquet"),
                  write_embedding_fixture),
    # v2: cards carry an exact Luhn check digit (valid iff doc_id%16==0);
    # the name bump keeps a stale pre-Luhn cached fixture from poisoning
    # the idempotent write
    "pii": (os.path.join(_FIXTURE_DIR, "pii_docs_v2.parquet"),
            lambda p: write_pii_fixture(p, n=240)),
}


def _fixture(name: str) -> str:
    """Path of generated fixture ``name``, written first if absent."""
    path, write = _FIXTURES[name]
    return write(path)


def _read_fixture(spark: SparkSession, name: str) -> DataFrame:
    return _prep(spark).read.parquet(_fixture(name))


def _replay_dir(sf_dir: str) -> str:
    return os.path.join(_FIXTURE_DIR, "stream_eqv", os.path.basename(os.path.normpath(sf_dir)))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _prep(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # belt-and-braces: if NTZ still slipped through, align to TIMESTAMP
    casts = {f.name: F.col(f.name).cast("timestamp")
             for f in df.schema.fields if f.dataType.simpleString() == "timestamp_ntz"}
    return df.withColumns(casts) if casts else df


# ---------------------------------------------------------------------------
# Flagship: point-in-time enrichment (as-of join, strict <) + window features
# ---------------------------------------------------------------------------

def _pit_left(events: DataFrame, null_inject: bool = False) -> DataFrame:
    """click/view events as the PIT probe side — the ONE definition every
    as-of/composite gate shares, so the strict-PIT input contract cannot
    drift between the variants that share an oracle.  ``null_inject``
    replaces value with the nullable ``v`` the forward-fill variants use."""
    val = (
        F.when(F.col("value") > 20, F.round("value", 4)).alias("v")
        if null_inject else F.round("value", 4).alias("value")
    )
    return events.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("entity"),
        F.col("ts").alias("event_time"),
        "event_id",
        val,
    )


def _pit_feat(events: DataFrame, alias: str = "purchase_value") -> DataFrame:
    """purchase events rolled up per (entity, ts) — the PIT feature side."""
    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("entity"), F.col("ts").alias("feature_time"))
        .agg(F.round(F.sum("value"), 4).alias(alias))
    )


def _purchase_asof_gate(join: Callable[[DataFrame, DataFrame], DataFrame]) -> Query:
    """The as-of gate around ``join(left, feat)``: one input and output
    projection for the plain and bucketed twins (ORACLE_ASOF_PURCHASE)."""
    @wraps(join)
    def gate(spark: SparkSession, sf_dir: str) -> DataFrame:
        events = _t(spark, sf_dir, "events")
        return join(_pit_left(events), _pit_feat(events)).select(
            "event_id",
            F.col("entity").alias("user_id"),
            F.unix_micros("event_time").alias("ts_us"),
            "value",
            "purchase_value",
        )
    return gate


@_purchase_asof_gate
def q_asof_purchase(left: DataFrame, feat: DataFrame) -> DataFrame:
    """For every click/view event, attach the user's most recent prior
    purchase amount (strictly before the event — zero temporal leakage)."""
    return asof_join(left, feat, on="entity", left_ts="event_time", right_ts="feature_time", strict=True)


@_purchase_asof_gate
def q_asof_bucketed(left: DataFrame, feat: DataFrame) -> DataFrame:
    """the skew-proof time-bucketed as-of strategy (operators/skew.py) —
    exact semantics, so it shares the LATERAL oracle with the plain join."""
    from feathr_online_spark.operators.skew import asof_join_bucketed

    return asof_join_bucketed(left, feat, strict=True, bucket_seconds=86400)


def _duck_asof_ctes(value: str, pv: str) -> str:
    """lev (click/view probes carrying ``value``), feat (purchase sums per
    (user_id, ts) as ``pv``) and pit: each lev row with the ``pv`` of the
    latest strictly earlier feat row — the LATERAL form of the strict as-of
    join, mirroring _pit_left/_pit_feat."""
    return f"""
WITH lev AS (
  SELECT event_id, user_id, ts, {value}
  FROM events WHERE event_type IN ('click', 'view')
), feat AS (
  SELECT user_id, ts, round(sum(value), 4) AS {pv}
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
), pit AS (
  SELECT lev.*, f.{pv}
  FROM lev LEFT JOIN LATERAL (
    SELECT {pv} FROM feat WHERE feat.user_id = lev.user_id AND feat.ts < lev.ts
    ORDER BY feat.ts DESC LIMIT 1
  ) f ON TRUE
)"""


ORACLE_ASOF_PURCHASE = _duck_asof_ctes("round(value, 4) AS value", "purchase_value") + """
SELECT event_id, user_id, epoch_us(ts) AS ts_us, value, purchase_value FROM pit
"""


# ---------------------------------------------------------------------------
# Verb coverage queries (SURVEY.md §2.1)
# ---------------------------------------------------------------------------

def q_where_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """where + project (computed columns, math/string functions)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        Pipeline(li)
        .where((F.col("l_quantity") > 30) & (F.col("l_discount") < 0.05))
        .project(
            gross=F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4),
            qty_bucket=F.floor(F.col("l_quantity") / 10).cast("int"),
            flag_lo=F.lower("l_returnflag"),
        )
        .project_keep("l_orderkey", "l_linenumber", "gross", "qty_bucket", "flag_lo")
        .df
    )


ORACLE_WHERE_PROJECT = """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS gross,
       CAST(floor(l_quantity / 10) AS INTEGER) AS qty_bucket,
       lower(l_returnflag) AS flag_lo
FROM lineitem WHERE l_quantity > 30 AND l_discount < 0.05
"""


def q_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """summarize with computed grouping keys (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        Pipeline(li)
        .where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .summarize(
            {
                "sum_qty": F.sum("l_quantity"),
                "sum_base_price": F.round(F.sum("l_extendedprice"), 2),
                "sum_disc_price": F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2),
                "avg_disc": F.round(F.avg("l_discount"), 6),
                "count_order": F.count(F.lit(1)),
            },
            by=["l_returnflag", "l_linestatus"],
        )
        .df
    )


ORACLE_SUMMARIZE = """
SELECT sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order,
       l_returnflag, l_linestatus
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top N by aggregate (TakeOrderedAndProject)."""
    ev = _t(spark, sf_dir, "events")
    return (
        Pipeline(ev)
        .summarize({"total": F.round(F.sum("value"), 4), "n": F.count(F.lit(1))}, by=["user_id"])
        # struct ordering = (total, user_id) lexicographic — deterministic under ties
        .top(10, F.struct(F.col("total"), F.col("user_id")), ascending=False)
        .df
    )


ORACLE_TOP = """
SELECT round(sum(value), 4) AS total, count(*) AS n, user_id
FROM events GROUP BY user_id
ORDER BY total DESC, user_id DESC LIMIT 10
"""


def q_distinct_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct by keys — output schema is the keys only
    (distinct_transformation.rs:58-67)."""
    ev = _t(spark, sf_dir, "events")
    return Pipeline(ev).distinct("user_id", "event_type").df


ORACLE_DISTINCT_BY = "SELECT DISTINCT user_id, event_type FROM events"


def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode (inner semantics: empty arrays drop) over tokenized documents."""
    docs = _t(spark, sf_dir, "documents")
    return (
        Pipeline(docs)
        .project(word=F.split(F.col("text"), " "))
        .project_keep("doc_id", "word")
        .explode("word")
        .summarize({"n": F.count(F.lit(1))}, by=["word"])
        .top(20, F.struct(F.col("n"), F.col("word")), ascending=False)
        .df
    )


ORACLE_EXPLODE = """
SELECT count(*) AS n, word
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word ORDER BY n DESC, word DESC LIMIT 20
"""


def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join kind=left-inner (1:N equi-join, broadcast dimension)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        Pipeline(orders)
        .join(cust, "left-inner", on=F.col("o_custkey"), key="c_custkey",
              fields={"c_name": "c_name", "c_nationkey": "c_nationkey"}, broadcast_hint=True)
        .summarize({"orders_n": F.count(F.lit(1)), "total": F.round(F.sum("o_totalprice"), 2)},
                   by=["c_nationkey"])
        .df
    )


ORACLE_JOIN_INNER = """
SELECT count(*) AS orders_n, round(sum(o_totalprice), 2) AS total, c_nationkey
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


def q_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lookup verb: 1:1 enrich with first-match semantics + left-outer nulls."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        Pipeline(nation)
        .lookup(region, on=F.col("n_regionkey"), key="r_regionkey",
                fields={"region_name": "r_name"}, tiebreak="r_regionkey")
        .project_keep("n_nationkey", "n_name", "region_name")
        .df
    )


ORACLE_LOOKUP = """
SELECT n_nationkey, n_name, r.r_name AS region_name
FROM nation LEFT JOIN region r ON n_regionkey = r_regionkey
"""


# ---------------------------------------------------------------------------
# Window / PIT coverage (SURVEY.md §7.1 step 6)
# ---------------------------------------------------------------------------

def _user_sessions_gate(op: Callable[[DataFrame], DataFrame]) -> Query:
    """The sessionization gate around ``op(events)``: one input and output
    projection for the plain and bucketed twins (ORACLE_SESSIONIZE)."""
    @wraps(op)
    def gate(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = _t(spark, sf_dir, "events").select(
            F.col("user_id").alias("entity"), F.col("ts").alias("event_time"), "event_id"
        )
        return op(ev).groupBy("entity").agg(
            F.max("session_id").alias("max_session"),
            F.count(F.lit(1)).alias("n_events"),
        ).select(F.col("entity").alias("user_id"), "max_session", "n_events")
    return gate


@_user_sessions_gate
def q_sessionize(ev: DataFrame) -> DataFrame:
    """gap-based sessionization (30 min) of the event stream per user."""
    return sessionize(ev, gap_seconds=1800)


@_user_sessions_gate
def q_sessionize_bucketed(ev: DataFrame) -> DataFrame:
    """skew-proof sessionization — same oracle as the plain verb."""
    from feathr_online_spark.operators.skew import sessionize_bucketed

    return sessionize_bucketed(ev, gap_seconds=1800, bucket_seconds=86400)


# 30-minute gap sessionization over events ordered by ts per user:
# _DUCK_IS_NEW marks a session's first event, _DUCK_SESSION_ID numbers the
# sessions from 0 over an is_new column
_DUCK_IS_NEW = """CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
              THEN 1 ELSE 0 END"""
_DUCK_SESSION_ID = """(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT"""

ORACLE_SESSIONIZE = f"""
WITH d AS (
  SELECT user_id, ts, {_DUCK_IS_NEW} AS is_new
  FROM events
), s AS (
  SELECT user_id, {_DUCK_SESSION_ID} AS session_id
  FROM d
)
SELECT user_id, max(session_id) AS max_session, count(*) AS n_events
FROM s GROUP BY user_id
"""


def _hour_history_gate(op: Callable[[DataFrame], DataFrame]) -> Query:
    """The trailing-hour rolling gate around ``op(events)``: one input and
    output projection for the plain and bucketed twins (ORACLE_ROLLING)."""
    @wraps(op)
    def gate(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = _t(spark, sf_dir, "events").select(
            F.col("user_id").alias("entity"), F.col("ts").alias("event_time"),
            "event_id", "value",
        )
        return op(ev).select(
            "event_id",
            F.col("entity").alias("user_id"),
            F.round(F.coalesce(F.col("hist_sum"), F.lit(0.0)), 4).alias("hist_sum"),
            F.col("hist_n").cast("long").alias("hist_n"),
        )
    return gate


@_hour_history_gate
def q_rolling(ev: DataFrame) -> DataFrame:
    """trailing 1-hour rolling aggregate per user, excluding the current row
    (leakage-safe history feature)."""
    return rolling(ev, {"hist_sum": ("value", "sum"), "hist_n": ("value", "count")},
                   range_seconds=3600, include_current=False)


@_hour_history_gate
def q_rolling_bucketed(ev: DataFrame) -> DataFrame:
    """skew-proof time-range rolling (exact unconditionally in range mode) —
    same oracle as the plain rolling verb."""
    from feathr_online_spark.operators.skew import rolling_bucketed

    return rolling_bucketed(ev, {"hist_sum": ("value", "sum"), "hist_n": ("value", "count")},
                            range_seconds=3600, include_current=False, bucket_seconds=86400)


# the trailing hour before each event, the event itself excluded
_DUCK_LAST_HOUR = """PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING"""

ORACLE_ROLLING = f"""
SELECT event_id, user_id,
       round(coalesce(sum(value) OVER w, 0.0), 4) AS hist_sum,
       count(value) OVER w AS hist_n
FROM events
WINDOW w AS ({_DUCK_LAST_HOUR})
"""


# ---------------------------------------------------------------------------
# Scalar-function coverage batches (SURVEY.md §2.4) — each query exercises a
# family of piper built-ins with a DuckDB-dialect oracle.
# ---------------------------------------------------------------------------

def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import feathr_online_spark.functions as pf

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("head_up"),
        pf.substring0("text", 0, 8).alias("sub0"),          # piper 0-based
        pf.substring0("text", -6, 6).alias("tail0"),        # negative-from-end
        F.length("text").alias("n"),
        F.instr("text", "data").alias("pos_data"),          # 1-based, 0 absent
        F.split_part("text", F.lit(" "), F.lit(2)).alias("second_word"),
        F.concat_ws("|", F.lit("x"), "lang", "source").alias("joined"),
        F.translate("lang", "en", "EN").alias("lang_tr"),
        F.levenshtein(F.substring("text", 1, 6), F.lit("spark!")).alias("lev"),
        F.repeat(F.lit("ab"), 3).alias("rep"),
        F.ascii("text").alias("first_code"),
    )


ORACLE_STRING_FUNCS = """
SELECT doc_id,
       upper(substr(text, 1, 12)) AS head_up,
       substr(text, 1, 8) AS sub0,
       substr(text, greatest(length(text) - 6, 0) + 1, 6) AS tail0,
       length(text) AS n,
       CAST(coalesce(strpos(text, 'data'), 0) AS INT) AS pos_data,
       split_part(text, ' ', 2) AS second_word,
       concat_ws('|', 'x', lang, source) AS joined,
       translate(lang, 'en', 'EN') AS lang_tr,
       levenshtein(substr(text, 1, 6), 'spark!') AS lev,
       repeat('ab', 3) AS rep,
       ascii(substr(text, 1, 1)) AS first_code
FROM documents
"""


def q_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.second("ts").alias("s"),
        F.dayofweek("ts").alias("dow"),          # Sunday=1
        F.dayofyear("ts").alias("doy"),
        F.quarter("ts").alias("q"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.unix_micros("ts").alias("epoch_us"),
        # dates as ISO strings: Spark's toPandas yields datetime.date where
        # DuckDB yields Timestamp — value-equal but hash-different
        F.date_add(F.to_date("ts"), 7).cast("string").alias("plus7"),
        F.add_months(F.to_date("ts"), 2).cast("string").alias("plus2mo"),
        F.date_format("ts", "yyyy-MM-dd HH").alias("fmt"),
    )


ORACLE_DATETIME_FUNCS = """
SELECT event_id,
       year(ts) AS y, month(ts) AS mo, day(ts) AS d,
       hour(ts) AS h, minute(ts) AS mi, CAST(floor(extract(second FROM ts)) AS INT) AS s,
       dayofweek(ts) + 1 AS dow,
       dayofyear(ts) AS doy, quarter(ts) AS q,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
       epoch_us(ts) AS epoch_us,
       strftime((ts::DATE + INTERVAL 7 DAY)::DATE, '%Y-%m-%d') AS plus7,
       strftime((ts::DATE + INTERVAL 2 MONTH)::DATE, '%Y-%m-%d') AS plus2mo,
       strftime(ts, '%Y-%m-%d %H') AS fmt
FROM events
"""


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import feathr_online_spark.functions as pf

    docs = _t(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(w).alias("n_words"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        F.array_contains(w, "data").alias("has_data"),
        pf.element_at0(w, 0).alias("w0"),                 # piper 0-based
        pf.element_at0(w, 10000).alias("w_oor"),          # null out-of-range
        # array outputs are stringified: the driver's pandas canonicalizer
        # cannot sort/hash ndarray cells (round-1 gate crash)
        F.array_join(pf.slice0(w, 1, 3), "-").alias("w12"),   # piper [start, end)
        F.array_position(w, "data").alias("pos_data"),    # 1-based like Spark
        F.array_max(w).alias("w_max"),
        F.array_min(w).alias("w_min"),
        F.array_join(F.slice(w, 1, 3), "-").alias("first3"),
        F.array_join(F.sort_array(F.array_distinct(F.slice(w, 1, 5))), "-").alias("first5_sorted"),
    )


ORACLE_ARRAY_FUNCS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       len(w) AS n_words,
       len(list_distinct(w)) AS n_distinct,
       list_contains(w, 'data') AS has_data,
       w[1] AS w0,
       CAST(NULL AS VARCHAR) AS w_oor,
       array_to_string(w[2:3], '-') AS w12,
       CAST(coalesce(list_position(w, 'data'), 0) AS BIGINT) AS pos_data,
       list_max(w) AS w_max,
       list_min(w) AS w_min,
       array_to_string(w[1:3], '-') AS first3,
       array_to_string(list_sort(list_distinct(w[1:5])), '-') AS first5_sorted
FROM t
"""


def q_json_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # two-stage select: k_str is referenced twice (string + cast) — in its
    # own projection CollapseProject declines to inline it (non-cheap,
    # multi-referenced), so the '$.k' JSON parse runs once per row, not twice
    return ev.select(
        "event_id", "props", "event_type",
        F.get_json_object("props", "$.k").alias("__k"),
    ).select(
        "event_id",
        F.col("__k").alias("k_str"),
        F.col("__k").cast("long").alias("k_num"),
        F.get_json_object("props", "$.missing").alias("k_missing"),
        F.array_join(F.json_object_keys("props"), ",").alias("keys"),
        F.regexp_extract("event_type", "^(.)", 1).alias("first_ch"),
        F.regexp_replace("event_type", "[aeiou]", "_").alias("de_vowel"),
        F.regexp_like("event_type", F.lit("^(click|view)$")).alias("is_cv"),
        F.size(F.regexp_extract_all("event_type", F.lit("[aeiou]"), 0)).alias("n_vowels"),
    )


ORACLE_JSON_REGEXP_FUNCS = """
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
       json_extract_string(props, '$.missing') AS k_missing,
       array_to_string(json_keys(props), ',') AS keys,
       regexp_extract(event_type, '^(.)', 1) AS first_ch,
       regexp_replace(event_type, '[aeiou]', '_', 'g') AS de_vowel,
       regexp_matches(event_type, '^(click|view)$') AS is_cv,
       len(regexp_extract_all(event_type, '[aeiou]')) AS n_vowels
FROM events
"""


def q_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import feathr_online_spark.functions as pf

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("value") > 50, "hi").when(F.col("value") > 10, "mid").otherwise("lo").alias("band"),
        F.nvl(F.nullif(F.col("event_type"), F.lit("error")), F.lit("(err)")).alias("etype"),
        F.coalesce(F.nullif(F.round("value", 0), F.lit(0.0)), F.lit(-1.0)).alias("val_nz"),
        pf.bucket(F.col("value"), 10, 20, 50).alias("vbucket"),
        F.greatest(F.col("value"), F.lit(25.0)).alias("at_least_25"),
        F.least(F.col("value"), F.lit(25.0)).alias("at_most_25"),
        F.isnull(F.col("value")).alias("v_null"),
        F.pmod(F.col("event_id"), F.lit(7)).cast("long").alias("id_mod7"),
    )


ORACLE_CONDITIONAL_FUNCS = """
SELECT event_id,
       CASE WHEN value > 50 THEN 'hi' WHEN value > 10 THEN 'mid' ELSE 'lo' END AS band,
       coalesce(nullif(event_type, 'error'), '(err)') AS etype,
       coalesce(nullif(round(value, 0), 0.0), -1.0) AS val_nz,
       CASE WHEN value < 10 THEN 0 WHEN value < 20 THEN 1 WHEN value < 50 THEN 2 ELSE 3 END AS vbucket,
       greatest(value, 25.0) AS at_least_25,
       least(value, 25.0) AS at_most_25,
       value IS NULL AS v_null,
       CAST(event_id % 7 AS BIGINT) AS id_mod7
FROM events
"""


def q_bitwise_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bitwise + map/object family coverage (SURVEY.md §2.2 bitwise,
    §2.4 map; reference mod.rs bitwise ops + map_* entries)."""
    from feathr_online_spark.functions.registry import fn as rfn

    ev = _t(spark, sf_dir, "events")
    m = F.map_from_arrays(
        F.array(F.lit("lo"), F.lit("hi")),
        F.array((F.col("event_id") % 100).cast("long"), (F.col("event_id") % 7).cast("long")),
    )
    return ev.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("b_and"),
        F.col("event_id").bitwiseOR(F.lit(255)).alias("b_or"),
        F.col("event_id").bitwiseXOR(F.lit(255)).alias("b_xor"),
        rfn("shiftleft")(F.col("event_id"), 2).alias("shl"),
        rfn("shiftright")(F.col("event_id"), 2).alias("shr"),
        rfn("bit_count")(F.col("event_id")).alias("nbits"),
        rfn("bit_get")(F.col("event_id"), F.lit(3)).cast("long").alias("bit3"),
        rfn("map_contains_key")(m, F.lit("lo")).alias("has_lo"),
        F.array_join(rfn("map_keys")(m), ",").alias("mkeys"),
        F.array_join(F.transform(rfn("map_values")(m), lambda x: x.cast("string")), ",").alias("mvals"),
    )


ORACLE_BITWISE_MAP_FUNCS = """
WITH t AS (
  SELECT event_id,
         MAP {'lo': CAST(event_id % 100 AS BIGINT), 'hi': CAST(event_id % 7 AS BIGINT)} AS m
  FROM events
)
SELECT event_id,
       event_id & 255 AS b_and,
       event_id | 255 AS b_or,
       xor(event_id, 255) AS b_xor,
       event_id << 2 AS shl,
       event_id >> 2 AS shr,
       CAST(bit_count(event_id::BIGINT) AS INT) AS nbits,
       CAST((event_id >> 3) & 1 AS BIGINT) AS bit3,
       list_contains(map_keys(m), 'lo') AS has_lo,
       array_to_string(map_keys(m), ',') AS mkeys,
       array_to_string(map_values(m), ',') AS mvals
FROM t
"""


def _ts_user_key():
    """(ts, user_id) as one sortable zero-padded string — a deterministic
    min_by/max_by key both engines support."""
    return F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("user_id").cast("string"), 20, "0"),
    )


def q_agg_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregation registry coverage (SURVEY.md §2.3) by event_type."""
    from feathr_online_spark.functions.aggregations import agg_fn

    ev = _t(spark, sf_dir, "events")
    return (
        Pipeline(ev)
        .summarize(
            {
                "n": agg_fn("count")(),
                "n_hi": agg_fn("count_if")(F.col("value") > 50),
                "n_users": agg_fn("distinct_count")(F.col("user_id")),
                "sum_v": F.round(agg_fn("sum")(F.col("value")), 4),
                "avg_v": F.round(agg_fn("avg")(F.col("value")), 4),
                "min_v": agg_fn("min")(F.col("value")),
                "max_v": agg_fn("max")(F.col("value")),
                # piper min_by(key, value): user at the earliest/latest ts.
                # The key is (ts, user_id) packed into a zero-padded string —
                # ties on ts alone would pick engine-arbitrary users (the
                # fixture's minute-granularity ts makes ties plausible);
                # DuckDB min_by has no composite-key overload.
                "first_user_by_ts": agg_fn("min_by")(_ts_user_key(), F.col("user_id")),
                "last_user_by_ts": agg_fn("max_by")(_ts_user_key(), F.col("user_id")),
                "all_pos": agg_fn("every")(F.col("value") > 0),
                "any_hi": agg_fn("any")(F.col("value") > 99),
                "user_set_head": F.array_join(
                    F.transform(
                        F.sort_array(agg_fn("collect_set")(F.col("user_id") % 10)),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                ),
            },
            by=["event_type"],
        )
        .df
    )


_DUCK_TS_USER_KEY = "concat(lpad(epoch_us(ts)::VARCHAR, 20, '0'), lpad(user_id::VARCHAR, 20, '0'))"

ORACLE_AGG_FUNCS = f"""
SELECT count(*) AS n,
       count(*) FILTER (value > 50) AS n_hi,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 4) AS sum_v,
       round(sum(value) / count(*), 4) AS avg_v,
       min(value) AS min_v,
       max(value) AS max_v,
       min_by(user_id, {_DUCK_TS_USER_KEY}) AS first_user_by_ts,
       max_by(user_id, {_DUCK_TS_USER_KEY}) AS last_user_by_ts,
       bool_and(coalesce(value > 0, false)) AS all_pos,
       bool_or(coalesce(value > 99, false)) AS any_hi,
       array_to_string(list_sort(list_distinct(list(user_id % 10))), ',') AS user_set_head,
       event_type
FROM events GROUP BY event_type
"""


def q_lag_lead_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window coverage: lag/lead + forward-fill per user."""
    from feathr_online_spark.operators.windows import forward_fill, lag_lead

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("entity"), F.col("ts").alias("event_time"),
        "event_id",
        F.when(F.col("value") > 20, F.round("value", 4)).alias("v"),  # nulls for ffill
    )
    out = lag_lead(ev, {"prev_id": ("event_id", -1), "next_id": ("event_id", 1)})
    out = forward_fill(out, ["v"])
    return out.select(
        "event_id", F.col("entity").alias("user_id"),
        "prev_id", "next_id", F.col("v").alias("v_filled"),
    )


# the latest non-null v per user up to and including the current row
_DUCK_FFILL_V = """last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""

ORACLE_LAG_LEAD_FFILL = f"""
WITH base AS (
  SELECT user_id, ts, event_id,
         CASE WHEN value > 20 THEN round(value, 4) END AS v
  FROM events
)
SELECT event_id, user_id,
       lag(event_id) OVER w AS prev_id,
       lead(event_id) OVER w AS next_id,
       {_DUCK_FFILL_V} AS v_filled
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY ts)
"""


def q_tpch_join3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-table join + agg + top (TPC-H Q3 shape): broadcast dims, one shuffle."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


ORACLE_TPCH_JOIN3 = """
SELECT o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def _sketch_aggs(prefix: str = "") -> list[Column]:
    """The sketch estimates per group: HLL (Datasketches lgK=12), HLL++ and
    percentile_approx(10k) of the median — the sketches engine leg."""
    return [
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(f"{prefix}hll"),
        F.approx_count_distinct("user_id").alias(f"{prefix}hllpp"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10_000)).alias(f"{prefix}p50a"),
    ]


def q_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approximate sketches for 100 TB-scale profiling, gated with in-query
    tolerance booleans (the ann_ivf recall pattern): the sketch ESTIMATES are
    engine-specific, so the query computes exact counts/quantiles alongside
    and emits `ok` flags plus the exact values — all of which DuckDB can
    reproduce.  hll_ok: Datasketches HLL (lgK=12, ~1.6% stderr) within 5%+2;
    hllpp_ok: HyperLogLog++ (default 5% rsd) within 15%+2; p50_ok:
    percentile_approx(10k) within 1%+0.01 of the exact median."""
    ev = _t(spark, sf_dir, "events")
    # countDistinct rides a SEPARATE aggregation: mixing a distinct agg with
    # the sketch/percentile aggs forces Catalyst's Expand plan (every input
    # row duplicated per grouping set), measured 15× slower than two clean
    # partial+final aggs joined on the tiny key set
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_users"))
    sk = ev.groupBy("event_type").agg(
        *_sketch_aggs("_"), F.expr("percentile(value, 0.5D)").alias("_p50"))
    est = sk.join(F.broadcast(exact), "event_type")
    u = F.col("exact_users").cast("double")
    return est.select(
        "event_type",
        "exact_users",
        (F.abs(F.col("_hll") - u) <= u * 0.05 + 2).alias("hll_ok"),
        (F.abs(F.col("_hllpp") - u) <= u * 0.15 + 2).alias("hllpp_ok"),
        F.round("_p50", 4).alias("p50"),
        (F.abs(F.col("_p50a") - F.col("_p50")) <= F.abs(F.col("_p50")) * 0.01 + 0.01).alias("p50_ok"),
    )


def e_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(*_sketch_aggs())


ORACLE_SKETCHES = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       true AS hll_ok,
       true AS hllpp_ok,
       round(quantile_cont(value, 0.5), 4) AS p50,
       true AS p50_ok
FROM events
GROUP BY event_type
"""


def q_pit_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the fused skew-proof composite under the correctness gate: strict as-of
    + forward-fill + 1h range rolling + sessionization in the bucketed
    one-pass plan, vs a four-CTE SQL oracle."""
    from feathr_online_spark.operators.skew import pit_fused_bucketed

    events = _t(spark, sf_dir, "events")
    left = _pit_left(events, null_inject=True)
    feat = _pit_feat(events, alias="pv")
    out = pit_fused_bucketed(
        left, feat, strict=True,
        ffill_cols=["v"],
        rolling_spec={"name": "hist", "col": "event_id", "fn": "count",
                      "range_seconds": 3600, "include_current": False},
        session_gap=1800,
        bucket_seconds=86400,
    )
    return out.select(
        "event_id", F.col("entity").alias("user_id"),
        F.unix_micros("event_time").alias("ts_us"),
        F.col("v").alias("v_filled"), "pv",
        F.col("hist").cast("long").alias("hist"), "session_id",
    )


def _duck_pit_composite(hist: bool) -> str:
    """strict as-of → [trailing-hour event count ``hist``] → forward-fill of
    v → sessionization: ORACLE_PIT_FUSED with the count, ORACLE_PIT_ENRICH
    without it."""
    roll_hist = f"count(event_id) OVER ({_DUCK_LAST_HOUR}) AS hist,\n         " if hist else ""
    out_hist = " hist," if hist else ""
    return _duck_asof_ctes("CASE WHEN value > 20 THEN round(value, 4) END AS v", "pv") + f"""
, roll AS (
  SELECT *,
         {roll_hist}{_DUCK_FFILL_V} AS v_filled,
         {_DUCK_IS_NEW} AS is_new
  FROM pit
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us, v_filled, pv,{out_hist}
       {_DUCK_SESSION_ID} AS session_id
FROM roll
"""


ORACLE_PIT_FUSED = _duck_pit_composite(hist=True)


def q_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the hot/cold planner: entities above the threshold run the bucketed
    decomposition, the rest the fused plain path, results unioned — exact
    either way, so one oracle covers both branches (threshold 50 puts the
    heavy users on the bucketed branch at sf0.01)."""
    from feathr_online_spark.operators.pit import pit_enrich

    events = _t(spark, sf_dir, "events")
    left = _pit_left(events, null_inject=True)
    feat = _pit_feat(events, alias="pv")
    out = pit_enrich(left, feat, strict=True, session_gap=1800, ffill_cols=["v"],
                     hot_threshold=50, bucket_seconds=86400)
    return out.select(
        "event_id", F.col("entity").alias("user_id"),
        F.unix_micros("event_time").alias("ts_us"),
        F.col("v").alias("v_filled"), "pv", "session_id",
    )


ORACLE_PIT_ENRICH = _duck_pit_composite(hist=False)


def q_registered_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the UDF surface under the gate: a VECTORIZED (pandas) user function
    registered by name (reference python/src/lib.rs:399-461 semantics),
    resolved through the registry like any built-in."""
    from feathr_online_spark.functions.registry import fn as rfn, register_udf, unregister_udf

    unregister_udf("gate_affine")   # idempotent across bench reps
    register_udf("gate_affine", lambda s: s * 2.0 + 1.0, "double")
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(rfn("gate_affine")(F.col("value")), 4).alias("v_affine"),
    )


ORACLE_REGISTERED_UDF = """
SELECT event_id, round(value * 2.0 + 1.0, 4) AS v_affine FROM events
"""


def _lenient_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lenient validation of a mixed-type projection of events: code is a
    string that parses as a number only for click/view rows, and the target
    schema coerces it to long — the input of the validation and
    collect_errors gates."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from feathr_online_spark.operators.validation import validated

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "click", F.lit("1"))
         .when(F.col("event_type") == "view", F.lit("2"))
         .otherwise(F.col("event_type")).alias("code"),
        "value",
    )
    target = StructType([
        StructField("event_id", LongType()),
        StructField("code", LongType()),      # string→long: lenient-legal, fails per-row
        StructField("value", DoubleType()),
    ])
    return validated(ev, target, mode="lenient")


def q_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lenient validation (piper convert_to semantics): coerce a mixed-type
    projection to a target schema; failed cells null out with _err_ markers;
    ignore-error then drops marked rows (SURVEY.md §1.3-1.4)."""
    return (
        Pipeline(_lenient_codes(spark, sf_dir)).ignore_error().df
        .select("event_id", "code", F.round("value", 4).alias("value"))
    )


ORACLE_VALIDATION = """
WITH c AS (
  SELECT event_id,
         TRY_CAST(CASE WHEN event_type = 'click' THEN '1'
                       WHEN event_type = 'view' THEN '2'
                       ELSE event_type END AS BIGINT) AS code,
         round(value, 4) AS value
  FROM events
)
SELECT event_id, code, value FROM c WHERE code IS NOT NULL
"""


def q_collect_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the error side channel (§1.4, dataset.rs:238-310): lenient validation
    over a partially-unparseable projection, aggregated to one row per
    (column, message) with a count — oracled by TRY_CAST null counting."""
    from feathr_online_spark.operators.validation import collect_errors

    return collect_errors(_lenient_codes(spark, sf_dir))


ORACLE_COLLECT_ERRORS = """
SELECT 'code' AS column,
       'Column code: value failed to convert to bigint' AS message,
       count(*) AS n
FROM events
WHERE event_type NOT IN ('click', 'view')
  AND TRY_CAST(event_type AS BIGINT) IS NULL
HAVING count(*) > 0
"""


# ---------------------------------------------------------------------------
# Training-data ops: dedup / similarity / text analysis (SURVEY.md §7 + brief)
# ---------------------------------------------------------------------------

# Java's regex \s (words(), content_fingerprint, the punct count) is
# [ \t\n\x0B\f\r]; RE2's \s lacks the vertical tab \x0B, so every DuckDB
# whitespace class adds \v: this run pattern, and the oracles' punct class
# [^A-Za-z0-9\s\v].
_DUCK_WS = '[\\s\\v]+'


def _duck_words(text: str) -> str:
    """The word array of SQL expression ``text``: trimmed, split on
    whitespace runs, empty tokens dropped (operators.text.words)."""
    return f"list_filter(string_split_regex(trim({text}), '{_DUCK_WS}'), x -> x <> '')"


# the exact-dedup content key (operators.text.content_fingerprint)
_DUCK_FINGERPRINT = f"md5(lower(trim(regexp_replace(text, '{_DUCK_WS}', ' ', 'g'))))"


def _duck_shingle_ctes(keep_short: bool = False) -> str:
    """Word arrays and distinct 3-gram shingle sets per doc, mirroring
    operators.dedup._doc_frame (lower → split → 3-gram → distinct; the
    engine keeps xxhash64s of the shingles, which changes no set size).  A
    doc under three words has an empty set, which the pair oracles drop and
    decontamination (``keep_short``) keeps."""
    return f"""
WITH w AS (
  SELECT doc_id, {_duck_words("lower(text)")} AS ws FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        for i in range(1, len(ws) - 1)]) AS sg
  FROM w{"" if keep_short else " WHERE len(ws) >= 3"}
)
"""


# Shared DuckDB prelude of the pair oracles; pj adds every doc pair's
# rounded word-3-gram Jaccard.
_DUCK_SHINGLES = _duck_shingle_ctes()
_DUCK_PAIR_JACCARD = _DUCK_SHINGLES + """, pj AS (
  SELECT a.doc_id AS a, b.doc_id AS b,
         round(len(list_intersect(a.sg, b.sg))::DOUBLE
               / len(list_distinct(list_concat(a.sg, b.sg))), 4) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)"""

_DUCK_JACCARD_PAIRS = _DUCK_PAIR_JACCARD + """
SELECT a, b, jaccard FROM pj WHERE jaccard >= 0.5
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact-dedup statistics per source (md5 content fingerprint)."""
    docs = _t(spark, sf_dir, "documents")
    return exact_dup_stats(docs, "text", by="source")


ORACLE_DEDUP_EXACT = f"""
SELECT source, count(*) AS n_docs,
       count(DISTINCT {_DUCK_FINGERPRINT}) AS n_unique
FROM documents GROUP BY source
"""


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """near-dup pairs by exact word-3-gram Jaccard ≥ 0.5 (inverted index)."""
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """near-dup pairs via MinHash(128)+LSH(32 bands) with exact-Jaccard verify;
    at jaccard ≥ 0.5 LSH recall ≈ 1, so the oracle is the exact pair set."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "text", "doc_id", n=3, k=128, bands=32,
                             threshold=0.5)


def _pair_recall(strong: DataFrame, found: DataFrame, min_recall: float) -> DataFrame:
    """(n_strong_pairs, recall_ok): whether the approximate ``found`` pairs
    hit at least ``min_recall`` of the exact ``strong`` (a, b) pairs."""
    hit = strong.join(found.withColumn("__hit", F.lit(1)), ["a", "b"], "left")
    # the count()==0 arm keeps recall vacuously TRUE on an empty strong
    # set — sum() over zero rows is NULL and NULL >= 0 is NULL, which
    # would hash-mismatch the oracle's pinned true
    return hit.agg(
        F.count(F.lit(1)).alias("n_strong_pairs"),
        ((F.count(F.lit(1)) == 0)
         | (F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            >= F.count(F.lit(1)) * min_recall)).alias("recall_ok"),
    )


def e_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=6)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection, gated by RECALL against the exact pair
    set (the planted-dup pattern, checked in-query): the raw pairs carry
    engine-specific xxhash64 values, but the recall of hamming≤6 SimHash
    candidates over exact word-3-gram-Jaccard ≥ 0.8 pairs is an
    engine-independent quality bar — measured 0.93/1.0/0.93 at
    sf0.001/0.01/0.1, so the ≥ 0.85 gate has margin.  The oracle reproduces
    n_strong_pairs exactly and pins recall_ok = true."""
    found = e_dedup_simhash(spark, sf_dir).select("a", "b")
    strong = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id",
                                 n=3, threshold=0.8).select("a", "b")
    return _pair_recall(strong, found, 0.85)


ORACLE_DEDUP_SIMHASH = _DUCK_PAIR_JACCARD + """
SELECT count(*) AS n_strong_pairs, true AS recall_ok FROM pj WHERE jaccard >= 0.8
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """language-ID heuristic (7 marker-word lists + 6 script ranges, r5)
    → counts per predicted language.  The synthetic corpus is en/zh-only,
    so the gate unions the planted multilingual fixture (3 docs for each
    of the 13 languages) — the oracle recomputes every marker list and
    script regex in DuckDB over the same union, pinning all paths."""
    docs = _t(spark, sf_dir, "documents").select("text")
    fix = _read_fixture(spark, "lang").select("text")
    return (
        docs.unionByName(fix)
        .select(lang_id("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# marker lists must match operators.text.LANG_MARKERS
# the lang-ID CTE chain (s → sc → g → p: tokens, 13 scores, max, argmax) is
# shared VERBATIM (parameterized only by the doc source) by ORACLE_LANG_ID
# and ORACLE_PREPARE_CORPUS so the two oracles cannot drift from each
# other; it must mirror operators.text.LANG_MARKERS / SCRIPT_PATTERNS and
# the sorted-code tie-break of lang_id
def _duck_lang_ctes(src: str = "SELECT doc_id, text FROM documents") -> str:
    codes = ("ar", "de", "en", "es", "fr", "hi", "it", "ja", "ko", "nl", "pt", "ru", "zh")
    return """
WITH s AS (
  SELECT doc_id, """ + _duck_words("lower(text)") + """ AS ws, text FROM (""" + src + """)
), sc AS (
  SELECT doc_id,
    len(list_filter(ws, x -> list_contains(['the','and','of','to','is','in','that','with','for','it'], x))) AS s_en,
    len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein','zu','von'], x))) AS s_de,
    len(list_filter(ws, x -> list_contains(['el','la','los','que','y','es','en','un','una','por'], x))) AS s_es,
    len(list_filter(ws, x -> list_contains(['le','la','les','et','est','un','une','dans','que','pour'], x))) AS s_fr,
    len(list_filter(ws, x -> list_contains(['il','che','di','non','per','con','una','sono','della','questo'], x))) AS s_it,
    len(list_filter(ws, x -> list_contains(['que','de','não','uma','para','com','por','mais','como','mas'], x))) AS s_pt,
    len(list_filter(ws, x -> list_contains(['het','een','van','niet','met','zijn','voor','maar','ook','naar'], x))) AS s_nl,
    len(regexp_extract_all(text, '[一-鿿]')) AS s_zh,
    len(regexp_extract_all(text, '[ぁ-ヿ]')) AS s_ja,
    len(regexp_extract_all(text, '[가-힣]')) AS s_ko,
    len(regexp_extract_all(text, '[Ѐ-ӿ]')) AS s_ru,
    len(regexp_extract_all(text, '[؀-ۿ]')) AS s_ar,
    len(regexp_extract_all(text, '[ऀ-ॿ]')) AS s_hi
  FROM s
), g AS (
  SELECT *, greatest(""" + ", ".join(f"s_{c}" for c in codes) + """) AS mx FROM sc
), p AS (
  -- tie-break mirrors the Spark rule exactly: first language in sorted
  -- code order achieving the max
  SELECT doc_id,
         CASE WHEN mx = 0 THEN 'unknown'
              """ + "\n              ".join(f"WHEN s_{c} = mx THEN '{c}'" for c in codes[:-1]) + f"""
              ELSE '{codes[-1]}' END AS lang_pred
  FROM g
)"""


# the corpus is en/zh-only, so the gate unions the planted multilingual
# sample docs — every one of the 13 marker lists / script ranges gets a
# cross-engine-pinned per-language count (doc_id offset keeps ids unique)
ORACLE_LANG_ID = _duck_lang_ctes(
    "SELECT doc_id, text FROM documents UNION ALL "
    f"SELECT doc_id + 100000000 AS doc_id, text FROM read_parquet('{_FIXTURES['lang'][0]}')"
) + """
SELECT lang_pred, count(*) AS n FROM p GROUP BY lang_pred
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality features + composite score per document, in integer basis
    points (exact cross-engine arithmetic — see quality_features_bp)."""
    from feathr_online_spark.operators.text import quality_features_bp, quality_score_bp

    docs = _t(spark, sf_dir, "documents")
    # direct shape — a transform-over-singleton let-binding of the
    # tokenization was measured and REJECTED here (2.3 → 3.8 s at sf1.0):
    # wrapping the expression in a lambda forces its codegen-friendly
    # pieces (split/trim/translate) into interpreted eval, which costs more
    # than the extra codegen'd tokenizations it saves.  The binding only
    # pays where the pieces are interpreted HOFs anyway (text_repetition).
    feats = quality_features_bp("text")
    return docs.select(
        "doc_id",
        feats["n_words"].alias("n_words"),
        feats["punct_bp"].alias("punct_bp"),
        feats["stopword_bp"].alias("stopword_bp"),
        quality_score_bp("text").alias("quality_bp"),
    )


# per-document quality counts (q), their basis points (b) and the composite
# quality_bp (qb), mirroring operators.text.quality_features_bp and
# quality_score_bp; shared by ORACLE_TEXT_QUALITY and ORACLE_PREPARE_CORPUS
_DUCK_QUALITY_CTES = """q AS (
  SELECT doc_id,
         length(text)::BIGINT AS n_chars,
         len(ws)::BIGINT AS n_words,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s\\v]'))::BIGINT AS n_punct,
         len(regexp_extract_all(text, '[0-9]'))::BIGINT AS n_digit,
         len(list_filter(ws,
             x -> list_contains(['the','a','an','and','or','of','to','in','is','are','was',
                                 'for','on','with','as','by','at','it','that','this','be'], lower(x))))::BIGINT AS n_stop
  FROM (SELECT doc_id, text, """ + _duck_words("text") + """ AS ws FROM documents)
), b AS (
  SELECT doc_id, n_words,
         floor(n_punct * 10000 / n_chars)::BIGINT AS punct_bp,
         floor(n_digit * 10000 / n_chars)::BIGINT AS digit_bp,
         floor(n_stop * 10000 / n_words)::BIGINT AS stopword_bp
  FROM q
), qb AS (
  SELECT doc_id, n_words, punct_bp, stopword_bp,
         floor((least(n_words * 200, 10000) * 4
                + least(stopword_bp * 5, 10000) * 3
                + greatest(0, 10000 - punct_bp * 3 - digit_bp * 2) * 3) / 10)::BIGINT AS quality_bp
  FROM b
)"""

ORACLE_TEXT_QUALITY = "\nWITH " + _DUCK_QUALITY_CTES + """
SELECT doc_id, n_words, punct_bp, stopword_bp, quality_bp FROM qb
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact cosine top-10 neighbors for the first 5 vectors (brute force)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = _queries_of(emb)
    return knn_bruteforce(queries, emb, k=10).select(
        "q_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"), "rank"
    )


ORACLE_ANN_TOPK = """
WITH s AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS c6
  FROM embeddings q JOIN embeddings c ON q.vec_id < 5
), r AS (
  SELECT q_id, neighbor_id, c6,
         row_number() OVER (PARTITION BY q_id ORDER BY c6 DESC, neighbor_id) AS rank
  FROM s
)
SELECT q_id, neighbor_id, round(c6, 4) AS cos_sim, rank FROM r WHERE rank <= 10
"""


def q_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top-20 most-similar embedding pairs (embedding near-dup report)."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_topk_pairs(emb, k=20).select(
        "a", "b", F.round("cos_sim", 4).alias("cos_sim")
    )


ORACLE_EMBEDDING_PAIRS = """
WITH p AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS c6
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT a, b, round(c6, 4) AS cos_sim
FROM p ORDER BY c6 DESC, a, b LIMIT 20
"""


def _queries_of(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


def _recall_vs_exact(approx: DataFrame, exact: DataFrame, min_hits: int) -> DataFrame:
    """Per-query recall of an approximate ANN result against the exact set,
    reduced to a booleans-only frame the DuckDB oracle can predict: the
    approximate path must genuinely hit ≥ min_hits of the exact neighbors
    for the row to come out true."""
    hits = approx.join(
        exact.select("q_id", "neighbor_id"), ["q_id", "neighbor_id"], "left_semi"
    )
    return (
        hits.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("__n_hits"))
        .select("q_id", (F.col("__n_hits") >= min_hits).alias("recall_ok"))
    )


def _collect_over_cached_embeddings(spark: SparkSession, sf_dir: str,
                                    build: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """``build(embeddings)`` materialized as a local frame while the
    embeddings table is cached."""
    # these gates run SEVERAL consumers over the corpus (IVF training
    # actions, the probe join, the exact verify leg) — persist the slim
    # table once so they share one scan (bench hygiene, VERDICT r2 #8); it
    # is a few MB at any gate scale, and the one legitimate verify-path use
    # of caching
    emb = _t(spark, sf_dir, "embeddings").persist()
    try:
        out = build(emb)
        # one row per query — materialize while cached, then release the
        # cache so bench reps don't each pin a copy (ADVICE r4 pattern)
        rows = out.collect()
    finally:
        emb.unpersist()
    return spark.createDataFrame(rows, out.schema)


def _ivf(emb: DataFrame) -> DataFrame:
    """IVF top-10 of the query vectors — the ann_ivf engine leg."""
    from feathr_online_spark.operators.similarity import knn_ivf

    return knn_ivf(_queries_of(emb), emb, k=10, n_cells=16, n_probe=12)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (k-means cells + n_probe search) — the scale
    path for ANN.  Gate shape: per-query recall@10 vs the exact top-10,
    asserted ≥ 0.8 in-query; the oracle states every query passes, so the
    approximate path must actually deliver the recall for the row to match.

    n_probe=12/16 (r5): the synthetic embeddings are angularly near-random
    (rank-2+ exact neighbors sit at cos ≈ 0.3, barely above the background),
    so recall tracks the probed corpus fraction — an honest IVF needs to
    probe most cells here to clear 0.8.  The r4 gate appeared to clear it at
    n_probe=4 only because the quantizer's id-ordered sample initialized
    Lloyd from rows 0-15, which CONTAIN the five query vectors (vec_id<5) —
    each query effectively got a personal centroid, leaking the queries into
    the index.  The r5 hash-decorrelated sample + farthest-first init
    (ADVICE r4, operators/similarity.py train_ivf_centroids) removes the
    leak; measured per-query hits at n_probe=12 are [9,9,10,10,10] /
    [10x5] / [8,8,9,9,10] at sf0.001/0.01/0.1 — deterministic, so the
    sf0.1 minimum of exactly 8 repeats bit-for-bit.  On a clustered real
    corpus the probe fraction drops with structure, as usual for IVF."""
    return _collect_over_cached_embeddings(spark, sf_dir, lambda emb: _recall_vs_exact(
        _ivf(emb), knn_bruteforce(_queries_of(emb), emb, k=10), min_hits=8))


def e_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _collect_over_cached_embeddings(spark, sf_dir, _ivf)


ORACLE_ANN_RECALL = """
SELECT DISTINCT vec_id AS q_id, true AS recall_ok FROM embeddings WHERE vec_id < 5
"""


def e_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feathr_online_spark.operators.similarity import knn_lsh

    emb = _t(spark, sf_dir, "embeddings")
    return knn_lsh(_queries_of(emb), emb, k=10, n_planes=8, multiprobe=1)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH approximate top-k with multiprobe.  Gate shape:
    recall@1 — the synthetic embeddings are angularly random (rank-2+ cosines
    ≈ 0.35), where hyperplane LSH provably cannot reach high recall@10
    without probing most buckets; the structure it IS built to find (the
    high-cosine near-dup, here the exact-dup at cos 1.0) must always land in
    the probe set, so per-query the exact top-1 neighbor is required in the
    LSH top-10."""
    emb = _t(spark, sf_dir, "embeddings")
    exact_top1 = knn_bruteforce(_queries_of(emb), emb, k=1)
    return _recall_vs_exact(e_ann_lsh(spark, sf_dir), exact_top1, min_hits=1)


def q_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """take verb (take_transformation.rs:8-50) made order-deterministic by a
    preceding sort: TakeOrderedAndProject in the physical plan."""
    ev = _t(spark, sf_dir, "events")
    return (
        Pipeline(ev.orderBy("event_id"))
        .take(100)
        .project_keep("event_id", "user_id", "event_type")
        .df
    )


ORACLE_TAKE = """
SELECT event_id, user_id, event_type FROM events ORDER BY event_id LIMIT 100
"""


def q_project_rename_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """project-rename + project-remove verbs
    (project_rename_transformation.rs, project_remove_transformation.rs)."""
    ev = _t(spark, sf_dir, "events")
    return (
        Pipeline(ev)
        .project(val4=F.round("value", 4))
        .project_remove("props", "value", "ts")
        .project_rename(etype="event_type", amount="val4")
        .project_keep("event_id", "user_id", "etype", "amount")
        .df
    )


ORACLE_PROJECT_RENAME_REMOVE = """
SELECT event_id, user_id, event_type AS etype, round(value, 4) AS amount FROM events
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """benchmark decontamination: per-train-doc count of word-3-gram shingles
    shared with the eval slice (doc_id % 10 == 0), plus the drop flag."""
    from feathr_online_spark.operators.dedup import contamination_stats

    docs = _t(spark, sf_dir, "documents")
    evalset = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return contamination_stats(train, evalset, "text", "doc_id", n=3, min_overlap=2)


ORACLE_DECONTAMINATE = _duck_shingle_ctes(keep_short=True) + """, ev AS (
  SELECT DISTINCT unnest(sg) AS s FROM sh WHERE doc_id % 10 = 0
), tr AS (
  SELECT doc_id, sg FROM sh WHERE doc_id % 10 != 0
), hit AS (
  SELECT doc_id, count(*) AS n_cont
  FROM (SELECT doc_id, unnest(sg) AS s FROM tr)
  WHERE s IN (SELECT s FROM ev)
  GROUP BY doc_id
)
SELECT tr.doc_id AS id,
       CAST(len(tr.sg) AS INT) AS n_shingles,
       coalesce(hit.n_cont, 0) AS n_contaminated,
       coalesce(hit.n_cont, 0) >= 2 AS contaminated
FROM tr LEFT JOIN hit ON tr.doc_id = hit.doc_id
"""


def q_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the end-to-end corpus-prep composition: English + quality_bp ≥ 6500 +
    exact-dedup survivor (min doc_id per normalized-content group)."""
    from feathr_online_spark.operators.prep import prepare_corpus

    docs = _t(spark, sf_dir, "documents")
    out = prepare_corpus(docs, "text", "doc_id", langs=("en",), min_quality_bp=6500)
    return out.select("doc_id", "lang_pred", "quality_bp")


ORACLE_PREPARE_CORPUS = _duck_lang_ctes() + ", " + _DUCK_QUALITY_CTES + f""", kept AS (
  SELECT d.doc_id, d.text, p.lang_pred, qb.quality_bp
  FROM documents d JOIN p USING (doc_id) JOIN qb USING (doc_id)
  WHERE p.lang_pred = 'en' AND qb.quality_bp >= 6500
), surv AS (
  SELECT min(doc_id) AS doc_id FROM kept
  GROUP BY {_DUCK_FINGERPRINT}
)
SELECT k.doc_id, k.lang_pred, k.quality_bp FROM kept k JOIN surv USING (doc_id)
"""


def q_lookup_callable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python-callable lookup source (reference python/src/lib.rs:56-158):
    a deterministic pure function served through the mapInPandas-batched
    CallableSource, so DuckDB can reproduce it with expressions."""
    from feathr_online_spark.sources.registry import CallableSource

    nation = _t(spark, sf_dir, "nation")

    def fn(key, fields):
        vals = {"label": f"R{int(key)}", "sq": int(key) * int(key)}
        return [[vals[f] for f in fields]]

    src = CallableSource(fn, key="rk", fields_schema="label string, sq long")
    return (
        Pipeline(nation)
        .lookup(src, on=F.col("n_regionkey"), key="rk", fields=["label", "sq"])
        .project_keep("n_nationkey", "n_name", "label", "sq")
        .df
    )


ORACLE_LOOKUP_CALLABLE = """
SELECT n_nationkey, n_name,
       'R' || CAST(n_regionkey AS VARCHAR) AS label,
       CAST(n_regionkey * n_regionkey AS BIGINT) AS sq
FROM nation
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """connected components over near-dup pairs (min-label propagation) →
    (id, cluster); the oracle computes the same transitive closure with a
    recursive CTE."""
    from feathr_online_spark.operators.dedup import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    return dedup_clusters(pairs)


ORACLE_DEDUP_CLUSTERS = "\nWITH RECURSIVE pr AS (" + _DUCK_JACCARD_PAIRS + """), edges AS (
  SELECT a AS src, b AS dst FROM pr UNION SELECT b, a FROM pr
), walk AS (
  SELECT src AS id, dst AS reach FROM edges
  UNION
  SELECT walk.id, edges.dst FROM walk JOIN edges ON walk.reach = edges.src
)
SELECT id, least(id, min(reach)) AS cluster FROM walk GROUP BY id
"""


def _per_kind_totals() -> list[Column]:
    """asset count and payload bytes per kind — the multimodal engine leg's
    aggregates over extract_features."""
    return [F.count(F.lit(1)).alias("n"), F.sum("n_bytes").alias("total_bytes")]


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal pipeline under a REAL oracle: deterministic binary assets
    are materialized to a parquet fixture (idempotent pyarrow write — both
    this query and oracle_sql() ensure it), Spark decodes every payload with
    the stdlib codecs via mapInPandas, and per-kind aggregates carry an
    in-query invariant: the DECODED dimensions/duration must match the
    sibling metadata columns (image w/h from the BMP header, wav rate 8000 +
    duration within 1 ms, video w/h + frame count from the RAWV header).
    DuckDB reproduces n and total_bytes from octet_length(payload) and pins
    meta_ok = true."""
    assets = _read_fixture(spark, "assets")
    feats = extract_features(assets)
    j = feats.join(
        F.broadcast(assets.select("asset_id", "width", "height", "duration_ms")),
        "asset_id",
    )
    f = F.col("features")
    w, h = f[0].cast("double"), f[1].cast("double")
    meta_ok = (
        F.when(F.col("kind") == "image",
               (w == F.col("width")) & (h == F.col("height")))
        .when(F.col("kind") == "audio",
              (w == 8000.0)
              & (F.abs(h * 1000.0 - F.col("duration_ms")) <= 1.0))
        .otherwise((w == F.col("width")) & (h == F.col("height"))
                   & (f[3].cast("double") * 100.0 == F.col("duration_ms")))
    )
    return j.groupBy("kind").agg(*_per_kind_totals(), F.bool_and(meta_ok).alias("meta_ok"))


def e_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_features(_read_fixture(spark, "assets")).groupBy("kind").agg(*_per_kind_totals())


ORACLE_MULTIMODAL = f"""
SELECT kind, count(*) AS n,
       CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
       true AS meta_ok
FROM read_parquet('{_FIXTURES['assets'][0]}')
GROUP BY kind
"""


def e_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feathr_online_spark.operators.similarity import embedding_lsh_pairs

    return embedding_lsh_pairs(_read_fixture(spark, "embedding"), threshold=0.99, dim=64)


def q_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs — the 100 TB path that replaces
    the exact self-join (embedding_pairs) — recall-gated against planted
    ground truth: the fixture corpus (512 base unit vectors + 64 perturbed
    copies at cos ≈ 0.999; random pairs top out near 0.6) makes the exact
    pair set at cos ≥ 0.99 EXACTLY the planted set, which DuckDB recomputes
    independently.  Output: (n_strong_pairs, recall_ok ≥ 0.9) — at 8 planes
    / multiprobe 2 the expected recall is ≈ 0.999, so the gate has margin."""
    from feathr_online_spark.operators.similarity import _cosine_pd

    emb = _read_fixture(spark, "embedding")
    found = e_embedding_lsh(spark, sf_dir).select("a", "b")
    # exact ground-truth leg: vectorized cosine (r6) — the fixture plants
    # dups at cos ≈ 0.999 vs a ≤ 0.6 background, so the 0.99 cut is far
    # from any float-noise boundary
    left = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("__ea"))
    right = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("__eb"))
    strong = (
        left.join(right, F.col("a") < F.col("b"))
        .withColumn("cos", _cosine_pd()(F.col("__ea"), F.col("__eb")))
        .filter(F.col("cos") >= 0.99)
        .select("a", "b")
    )
    return _pair_recall(strong, found, 0.9)


ORACLE_EMBEDDING_LSH = f"""
WITH u AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x*x))) AS nrm
  FROM read_parquet('{_FIXTURES['embedding'][0]}')
)
SELECT count(*) AS n_strong_pairs, true AS recall_ok
FROM u a JOIN u b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> p[1]*p[2]))
      / (a.nrm * b.nrm) >= 0.99
"""


_DSL_GATE_SCRIPT = """
# end-to-end DSL pipeline over the events table (props is a Dynamic column):
# where → project (piper functions + JsonPath access) → lookup → computed-key
# summarize → post-agg project → top.  Exercises the full parser/compiler
# surface of dsl.py against the reference grammar (dsl_parser.rs:10-337).
evpipe(event_id as long, user_id as long, event_type as string, value as double, props)
| where (event_type == "purchase") or (event_type == "view")
| project uid = user_id % 5,
          k = props.k,
          vlabel = upper(substring(event_type, 0, 4)),
          v = value
| lookup rname = n_name from nations on uid
| summarize n = count(), total = sum(v), mx = max(v)
  by bucket = k % 10, rname, vlabel
| project total_r = round(total, 4), mx_r = round(mx, 4)
| project-keep bucket, rname, vlabel, n, total_r, mx_r
| top 20 by total_r desc
;
"""


def q_dsl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSL front end end-to-end: parse_pipelines() a realistic script —
    where/project with piper functions (0-based substring, long %), a Dynamic
    column parsed on use (props.k via JsonPath), a lookup from a registered
    source, a computed-key summarize, and top — then apply it to the events
    parquet.  The whole pipeline compiles to ONE Catalyst plan (broadcast
    lookup join, partial+final hash agg, TakeOrderedAndProject for top)."""
    from feathr_online_spark.dsl import parse_pipelines

    events = _t(spark, sf_dir, "events")
    nation = _t(spark, sf_dir, "nation")
    p = parse_pipelines(_DSL_GATE_SCRIPT)["evpipe"]
    return p.apply(events, {"nations": (nation, "n_nationkey")})


ORACLE_DSL_PIPELINE = """
WITH filt AS (
  SELECT user_id % 5 AS uid,
         CAST(CAST(json_extract_string(props, '$.k') AS DOUBLE) AS BIGINT) % 10 AS bucket,
         upper(substr(event_type, 1, 4)) AS vlabel,
         value AS v
  FROM events
  WHERE event_type IN ('purchase', 'view')
), j AS (
  SELECT f.*, n.n_name AS rname
  FROM filt f JOIN nation n ON f.uid = n.n_nationkey
)
SELECT bucket, rname, vlabel,
       count(*) AS n,
       round(sum(v), 4) AS total_r,
       round(max(v), 4) AS mx_r
FROM j
GROUP BY bucket, rname, vlabel
ORDER BY total_r DESC
LIMIT 20
"""


def q_stream_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming surface gated by BATCH EQUIVALENCE (VERDICT r3 #4): the
    events table is replayed in event-time order across 4 micro-batches
    (maxFilesPerTrigger=1 + a late duplicate file) through ALL FIVE
    streaming surfaces — stream_asof_enrich / stream_sessionize /
    stream_exact_dedup / stream_windowed_features / stream_forward_fill —
    and each stream's full output is compared row-exactly (symmetric
    exceptAll)
    against the already-oracle-gated batch operators on the same fixture.
    Output: (surface, n_out, equal_ok); the oracle reproduces every n_out
    independently from the events view and pins equal_ok = true, so one
    dropped/duplicated/mutated streamed row fails the hash."""
    from feathr_online_spark.streaming.equiv import stream_equivalence_summary

    _prep(spark)   # incl. the checkpoint-checksum deadlock workaround
    return stream_equivalence_summary(spark, sf_dir, _replay_dir(sf_dir))


def e_stream_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the replay itself (5 concurrent streaming queries, 4 micro-batches)
    # without the symmetric batch-comparison legs — SAME wiring as the
    # gate via the shared replay_streams helper, so the engine/verify
    # split can never drift from the gate's plumbing
    from feathr_online_spark.streaming import equiv as eq

    state = eq.run_replay(spark, sf_dir, _replay_dir(sf_dir))
    handles, ckpt = state["handles"], state["ckpt"]
    try:
        rows = [(surface, eq._sink_df(spark, ref).count())
                for surface, (_q, ref) in handles.items()]
    finally:
        eq._cleanup_replay(spark, handles, ckpt)
    return spark.createDataFrame(rows, "surface string, n_out long")


# 'asof' counts the non-purchase (event-side) rows, 'dedup' the distinct
# event_ids (= all rows; the replay's duplicate file must vanish into
# cross-batch dedup state), 'sessionize' the session starts
ORACLE_STREAM_EQUIV = f"""
SELECT 'asof' AS surface,
       (SELECT count(*) FROM events WHERE event_type <> 'purchase') AS n_out,
       true AS equal_ok
UNION ALL
SELECT 'dedup', (SELECT count(*) FROM events), true
UNION ALL
SELECT 'ffill', (SELECT count(*) FROM events), true
UNION ALL
SELECT 'windowed',
       (SELECT count(*) FROM (
          SELECT DISTINCT user_id, epoch_us(ts) // 600000000 FROM events)),
       true
UNION ALL
SELECT 'sessionize',
       (SELECT count(*) FROM (
          SELECT {_DUCK_IS_NEW} AS is_new
          FROM events) WHERE is_new = 1) AS n_out,
       true
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per source (duplicate-word
    fraction, top-bigram token coverage, duplicate-5-gram fraction — Rae et
    al. 2021 §A1.1), in integer basis points so the sums are BIT-exact
    cross-engine (the quality_features_bp rationale).  All map-side array
    expressions: one corpus pass, no shuffle beyond the tiny groupBy."""
    from feathr_online_spark.operators.text import repetition_flag, repetition_signals_bp, words

    # widen: the corpus arrives as ONE scan partition locally and the
    # signals are CPU-dense, byte-light (the dedup _widen rationale)
    docs = _widen(_t(spark, sf_dir, "documents").select("source", "text"))

    # let-binding via transform-over-singleton (r6): the token array is a
    # lambda variable, so all four signals read ONE tokenization — as
    # separate select entries each would re-run words(text) (interpreted
    # HOFs, no cross-root CSE).  The struct lands in its own projection and
    # is referenced 4× above it, which CollapseProject declines to inline
    # (non-cheap, multi-referenced) — one evaluation per row end to end.
    def _sig_struct(wv):
        s = repetition_signals_bp(None, words_arr=wv)
        return F.struct(
            F.size(wv).alias("nw"),
            s["dup_word_bp"].alias("dw"),
            s["top2_bp"].alias("t2"),
            s["dup5_bp"].alias("d5"),
        )

    bound = docs.select(
        "source",
        F.element_at(F.transform(F.array(words(F.col("text"))), _sig_struct), 1).alias("__S"),
    )
    # the flag applies operators.text.repetition_flag (is_repetitive's rule)
    # to the ALREADY-SELECTED signal columns — recomputing
    # is_repetitive(text) here would evaluate the expensive top-bigram
    # expression twice per row
    sel = bound.select(
        "source",
        F.col("__S.nw").alias("nw"),
        F.col("__S.dw").alias("dw"),
        F.col("__S.t2").alias("t2"),
        F.col("__S.d5").alias("d5"),
    )
    rep = repetition_flag(
        {"dup_word_bp": F.col("dw"), "top2_bp": F.col("t2"), "dup5_bp": F.col("d5")},
        F.col("nw"))
    return (
        sel.withColumn("rep", rep.cast("long"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dw").alias("dup_word_bp_sum"),
            F.sum("t2").alias("top2_bp_sum"),
            F.sum("d5").alias("dup5_bp_sum"),
            F.sum("rep").alias("n_repetitive"),
        )
    )


ORACLE_TEXT_REPETITION = f"""
WITH w AS (
  SELECT source,
         {_duck_words("text")} AS ws
  FROM documents
), g AS (
  SELECT source,
         len(ws)::BIGINT AS n,
         len(list_distinct(ws))::BIGINT AS nd,
         CASE WHEN len(ws) >= 2
              THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
              ELSE [] END AS g2,
         CASE WHEN len(ws) >= 5
              THEN [ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]
                    for i in range(1, len(ws) - 3)]
              ELSE [] END AS g5
  FROM w
), m AS (
  SELECT source, n, nd, len(g2)::BIGINT AS g2n,
         CASE WHEN len(g2) > 0
              THEN list_max(list_transform(list_distinct(g2),
                                           gg -> len(list_filter(g2, x -> x = gg))))::BIGINT
              ELSE 0 END AS t2c,
         len(g5)::BIGINT AS g5n, len(list_distinct(g5))::BIGINT AS g5d
  FROM g
), bp AS (
  SELECT source,
         CASE WHEN n > 0 THEN (n - nd) * 10000 // n ELSE 0 END AS dw,
         CASE WHEN g2n > 0 THEN least(t2c * 2 * 10000 // n, 10000) ELSE 0 END AS t2,
         CASE WHEN g5n > 0 THEN (g5n - g5d) * 10000 // g5n ELSE 0 END AS d5,
         n
  FROM m
)
SELECT source, count(*) AS n_docs,
       CAST(sum(dw) AS BIGINT) AS dup_word_bp_sum,
       CAST(sum(t2) AS BIGINT) AS top2_bp_sum,
       CAST(sum(d5) AS BIGINT) AS dup5_bp_sum,
       CAST(count(*) FILTER (WHERE (dw > 5000 OR t2 > 2000 OR d5 > 3000)
                               AND n >= 10) AS BIGINT)
         AS n_repetitive
FROM bp GROUP BY source
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + scrubbing (operators/pii.py) over a deterministic
    planted fixture (the synthetic documents carry no PII): per-kind match
    totals, which DuckDB recomputes by running the SAME RE2/JDK-portable
    regexes over the same parquet — so pattern semantics are value-checked
    cross-engine — plus clean_ok: after scrub_pii, every detector finds
    ZERO residual matches in every document (bool_and, in-query)."""
    from feathr_online_spark.operators.pii import pii_counts, scrub_pii

    docs = _read_fixture(spark, "pii")
    c = pii_counts(F.col("text"))
    rc = pii_counts(scrub_pii(F.col("text")))
    clean_row = sum(rc.values(), F.lit(0).cast("long")) == 0
    return docs.agg(
        F.sum(c["email"]).alias("n_email"),
        F.sum(c["cc"]).alias("n_cc"),
        F.sum(c["cc_luhn_valid"]).alias("n_cc_luhn_valid"),
        F.sum(c["ssn"]).alias("n_ssn"),
        F.sum(c["phone"]).alias("n_phone"),
        F.sum(c["ipv4"]).alias("n_ipv4"),
        F.bool_and(clean_row).alias("clean_ok"),
    )


ORACLE_PII_SCRUB = f"""
SELECT CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))) AS BIGINT) AS n_email,
       CAST(sum(len(regexp_extract_all(text, '\\b\\d{{4}}[- ]\\d{{4}}[- ]\\d{{4}}[- ]\\d{{4}}\\b'))) AS BIGINT) AS n_cc,
       CAST(sum(len(list_filter(regexp_extract_all(text, '\\b\\d{{4}}[- ]\\d{{4}}[- ]\\d{{4}}[- ]\\d{{4}}\\b'),
           m -> list_sum(list_transform(range(1, 17), i ->
                    CASE WHEN (16 - i) % 2 = 1
                         THEN 2 * CAST(substring(regexp_replace(m, '[^0-9]', '', 'g'), i, 1) AS INT)
                              - CASE WHEN CAST(substring(regexp_replace(m, '[^0-9]', '', 'g'), i, 1) AS INT) > 4 THEN 9 ELSE 0 END
                         ELSE CAST(substring(regexp_replace(m, '[^0-9]', '', 'g'), i, 1) AS INT) END)) % 10 = 0
       ))) AS BIGINT) AS n_cc_luhn_valid,
       CAST(sum(len(regexp_extract_all(text, '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b'))) AS BIGINT) AS n_ssn,
       CAST(sum(len(regexp_extract_all(text, '\\(?\\d{{3}}\\)?[-. ]\\d{{3}}[-. ]\\d{{4}}'))) AS BIGINT) AS n_phone,
       CAST(sum(len(regexp_extract_all(text, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))) AS BIGINT) AS n_ipv4,
       true AS clean_ok
FROM read_parquet('{_FIXTURES['pii'][0]}')
"""


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized exact ANN scan (SQ8: per-vector symmetric scale +
    integer dot) vs the float exact top-10 — recall@10 ≥ 0.8 per query,
    measured 0.9-1.0 at all three sfs.  The 100 TB rationale: the embedding
    column is the corpus's dominant byte cost, and int8 cuts its
    storage/scan/shuffle 4x while keeping cosine to ~1e-2 — candidate
    generation runs quantized, float only at final verify
    (operators/similarity.py quantize_vectors/dot_quantized)."""
    from feathr_online_spark.operators.similarity import knn_bruteforce_quantized

    def recall(emb: DataFrame) -> DataFrame:
        queries = _queries_of(emb)
        return _recall_vs_exact(knn_bruteforce_quantized(queries, emb, k=10),
                                knn_bruteforce(queries, emb, k=10), min_hits=8)

    return _collect_over_cached_embeddings(spark, sf_dir, recall)


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic entity-coherent train/test split (operators/sampling.py)
    keyed on user_id via the cross-engine md5-hex path, test fraction 25%.
    Per event_type: train/test row counts, which DuckDB reproduces from the
    SAME md5 rule — so the hash space, the threshold arithmetic and the
    entity keying are all value-checked; leak_ok pins the coherence
    invariant (no user on both sides — structurally impossible for a pure
    key function, asserted anyway so a regression to row-level randomness
    fails the gate)."""
    from feathr_online_spark.operators.sampling import with_split

    ev = _t(spark, sf_dir, "events")
    marked = with_split(ev, "user_id", test_fraction=0.25, kind="md5")
    counts = marked.groupBy("event_type").agg(
        F.sum(F.when(~F.col("is_test"), 1).otherwise(0)).alias("n_train"),
        F.sum(F.when(F.col("is_test"), 1).otherwise(0)).alias("n_test"),
    )
    leak = (
        marked.groupBy("user_id")
        .agg(F.count_distinct("is_test").alias("k"))
        .agg((F.max("k") <= 1).alias("leak_ok"))
    )
    return counts.crossJoin(F.broadcast(leak))


ORACLE_HASH_SPLIT = """
WITH m AS (
  SELECT event_type, user_id,
         substring(md5(CAST(user_id AS VARCHAR)), 1, 4) < '4000' AS is_test
  FROM events
)
SELECT event_type,
       CAST(count(*) FILTER (WHERE NOT is_test) AS BIGINT) AS n_train,
       CAST(count(*) FILTER (WHERE is_test) AS BIGINT) AS n_test,
       true AS leak_ok
FROM m GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# The gate table and the contract functions
# ---------------------------------------------------------------------------

class _Gate(NamedTuple):
    query: Query
    oracle: str
    # engine-only variant: the gate's engine leg without its verify legs
    engine: Query | None = None


# One entry per gate key, in queries() order.  Gates that share an
# oracle constant compute one result by different strategies.
_GATES: dict[str, _Gate] = {
    "asof_purchase": _Gate(q_asof_purchase, ORACLE_ASOF_PURCHASE),
    "where_project": _Gate(q_where_project, ORACLE_WHERE_PROJECT),
    "summarize": _Gate(q_summarize, ORACLE_SUMMARIZE),
    "top": _Gate(q_top, ORACLE_TOP),
    "distinct_by": _Gate(q_distinct_by, ORACLE_DISTINCT_BY),
    "explode": _Gate(q_explode, ORACLE_EXPLODE),
    "join_inner": _Gate(q_join_inner, ORACLE_JOIN_INNER),
    "lookup": _Gate(q_lookup, ORACLE_LOOKUP),
    "sessionize": _Gate(q_sessionize, ORACLE_SESSIONIZE),
    "rolling": _Gate(q_rolling, ORACLE_ROLLING),
    "string_funcs": _Gate(q_string_funcs, ORACLE_STRING_FUNCS),
    "datetime_funcs": _Gate(q_datetime_funcs, ORACLE_DATETIME_FUNCS),
    "array_funcs": _Gate(q_array_funcs, ORACLE_ARRAY_FUNCS),
    "json_regexp_funcs": _Gate(q_json_regexp_funcs, ORACLE_JSON_REGEXP_FUNCS),
    "conditional_funcs": _Gate(q_conditional_funcs, ORACLE_CONDITIONAL_FUNCS),
    "bitwise_map_funcs": _Gate(q_bitwise_map_funcs, ORACLE_BITWISE_MAP_FUNCS),
    "agg_funcs": _Gate(q_agg_funcs, ORACLE_AGG_FUNCS),
    "lag_lead_ffill": _Gate(q_lag_lead_ffill, ORACLE_LAG_LEAD_FFILL),
    # the gate key predates the removal of the cogroup as-of strategy;
    # it now runs the one as-of join, against the same oracle
    "asof_cogroup": _Gate(q_asof_purchase, ORACLE_ASOF_PURCHASE),
    "tpch_join3": _Gate(q_tpch_join3, ORACLE_TPCH_JOIN3),
    "validation": _Gate(q_validation, ORACLE_VALIDATION),
    "collect_errors": _Gate(q_collect_errors, ORACLE_COLLECT_ERRORS),
    "asof_bucketed": _Gate(q_asof_bucketed, ORACLE_ASOF_PURCHASE),
    "sessionize_bucketed": _Gate(q_sessionize_bucketed, ORACLE_SESSIONIZE),
    "rolling_bucketed": _Gate(q_rolling_bucketed, ORACLE_ROLLING),
    "pit_fused": _Gate(q_pit_fused, ORACLE_PIT_FUSED),
    "pit_enrich": _Gate(q_pit_enrich, ORACLE_PIT_ENRICH),
    "registered_udf": _Gate(q_registered_udf, ORACLE_REGISTERED_UDF),
    "sketches": _Gate(q_sketches, ORACLE_SKETCHES, e_sketches),
    "dedup_exact": _Gate(q_dedup_exact, ORACLE_DEDUP_EXACT),
    "dedup_ngram": _Gate(q_dedup_ngram, _DUCK_JACCARD_PAIRS),
    "dedup_minhash": _Gate(q_dedup_minhash, _DUCK_JACCARD_PAIRS),
    "dedup_simhash": _Gate(q_dedup_simhash, ORACLE_DEDUP_SIMHASH, e_dedup_simhash),
    "lang_id": _Gate(q_lang_id, ORACLE_LANG_ID),
    "text_quality": _Gate(q_text_quality, ORACLE_TEXT_QUALITY),
    "ann_topk": _Gate(q_ann_topk, ORACLE_ANN_TOPK),
    "ann_ivf": _Gate(q_ann_ivf, ORACLE_ANN_RECALL, e_ann_ivf),
    "ann_lsh": _Gate(q_ann_lsh, ORACLE_ANN_RECALL, e_ann_lsh),
    "embedding_pairs": _Gate(q_embedding_pairs, ORACLE_EMBEDDING_PAIRS),
    "multimodal": _Gate(q_multimodal, ORACLE_MULTIMODAL, e_multimodal),
    "take": _Gate(q_take, ORACLE_TAKE),
    "project_rename_remove": _Gate(q_project_rename_remove, ORACLE_PROJECT_RENAME_REMOVE),
    "dedup_clusters": _Gate(q_dedup_clusters, ORACLE_DEDUP_CLUSTERS),
    "lookup_callable": _Gate(q_lookup_callable, ORACLE_LOOKUP_CALLABLE),
    "decontaminate": _Gate(q_decontaminate, ORACLE_DECONTAMINATE),
    "prepare_corpus": _Gate(q_prepare_corpus, ORACLE_PREPARE_CORPUS),
    "dsl_pipeline": _Gate(q_dsl_pipeline, ORACLE_DSL_PIPELINE),
    "embedding_lsh": _Gate(q_embedding_lsh, ORACLE_EMBEDDING_LSH, e_embedding_lsh),
    "stream_equiv": _Gate(q_stream_equiv, ORACLE_STREAM_EQUIV, e_stream_equiv),
    "text_repetition": _Gate(q_text_repetition, ORACLE_TEXT_REPETITION),
    "hash_split": _Gate(q_hash_split, ORACLE_HASH_SPLIT),
    "ann_quantized": _Gate(q_ann_quantized, ORACLE_ANN_RECALL),
    "pii_scrub": _Gate(q_pii_scrub, ORACLE_PII_SCRUB),
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_asof_purchase(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Query]:
    return {name: gate.query for name, gate in _GATES.items()}


def engine_queries() -> dict[str, Query]:
    """Engine-only variants of the gates whose full query deliberately adds
    VERIFICATION work (exact recall/tolerance legs — the price of converting
    rows-only gates to hash-checked ones in r3).  bench.py times these too
    and reports ``verify_sec = full - engine`` per gate, so future rounds can
    tell engine drift from gate-design drift at a glance (VERDICT r3 #10).

    These are NOT correctness-gated (the full gates are); each calls the
    engine leg its gate calls, so it is the gate's plan minus the verify
    legs."""
    return {name: gate.engine for name, gate in _GATES.items() if gate.engine}


def oracle_sql() -> dict[str, str]:
    # some oracles read generated fixtures: ensure them all, whichever side
    # (Spark query / DuckDB oracle) runs first
    for name in _FIXTURES:
        _fixture(name)
    return {name: gate.oracle for name, gate in _GATES.items()}
