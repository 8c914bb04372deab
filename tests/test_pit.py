"""pit_enrich (hot/cold split composite) must equal the all-plain pipeline."""

import re
from datetime import datetime, timedelta

import numpy as np
import pytest
from pyspark.sql import functions as F

from feathr_online_spark.operators.asof import asof_join
from feathr_online_spark.operators.pit import hot_entities, pit_enrich
from feathr_online_spark.operators.skew import pit_fused_bucketed
from feathr_online_spark.operators.windows import forward_fill, rolling, sessionize
from tests.conftest import rows

BASE = datetime(2024, 1, 1)


def test_pit_enrich_equals_plain(spark):
    rng = np.random.default_rng(21)
    n = 2000
    ents = np.where(rng.random(n) < 0.5, 0, rng.integers(1, 20, n))  # entity 0 hot
    secs = rng.choice(2 * 24 * 3600, size=n, replace=False)
    ev = [(int(e), BASE + timedelta(seconds=int(s)), i,
           None if rng.random() < 0.2 else float(np.round(rng.random(), 3)))
          for i, (e, s) in enumerate(zip(ents, secs))]
    events = spark.createDataFrame(ev, "entity long, event_time timestamp, eid long, f_scalar double")
    fts = [(int(rng.integers(0, 20)), BASE + timedelta(seconds=int(s)), float(np.round(rng.random(), 3)))
           for s in rng.choice(2 * 24 * 3600, size=800, replace=False)]
    features = spark.createDataFrame(fts, "entity long, feature_time timestamp, fv double")

    composite = pit_enrich(
        events, features,
        rolling_spec={"name": "hist_n", "col": "eid", "fn": "count", "rows": 4},
        session_gap=1800, ffill_cols=["f_scalar"],
        hot_threshold=300, bucket_seconds=4 * 3600,
    )

    plain = asof_join(events, features)
    plain = rolling(plain, {"hist_n": ("eid", "count")}, rows=4, include_current=False)
    plain = sessionize(plain, 1800)
    plain = forward_fill(plain, ["f_scalar"])

    assert sorted(composite.columns) == sorted(plain.columns)
    cols = sorted(plain.columns)
    assert rows(composite.select(cols)) == rows(plain.select(cols))

    # a range-mode rolling_spec takes the same two branches
    ranged = pit_enrich(events, features,
                        rolling_spec={"name": "hist_n", "col": "eid", "fn": "count", "range_seconds": 3600},
                        hot_threshold=300, bucket_seconds=4 * 3600)
    plain = rolling(asof_join(events, features), {"hist_n": ("eid", "count")},
                    range_seconds=3600, include_current=False)
    cols = sorted(plain.columns)
    assert rows(ranged.select(cols)) == rows(plain.select(cols))


def test_composites_refuse_include_current(spark):
    """The composites roll over history strictly before the row: a true
    ``rolling_spec["include_current"]`` is refused on both pit_enrich
    branches and by pit_fused_bucketed instead of being ignored."""
    events = spark.createDataFrame([(0, BASE, 0)], "entity long, event_time timestamp, eid long")
    features = spark.createDataFrame([(0, BASE, 1.0)], "entity long, feature_time timestamp, fv double")
    spec = {"name": "hist_n", "col": "eid", "fn": "count", "rows": 4, "include_current": True}
    for threshold in (0, 10**9):
        with pytest.raises(ValueError, match="include_current"):
            pit_enrich(events, features, rolling_spec=spec, hot_threshold=threshold)
    with pytest.raises(ValueError, match="include_current"):
        pit_fused_bucketed(events, features, rolling_spec=spec)


def test_hot_entities_detection(spark):
    df = spark.createDataFrame([(0,)] * 500 + [(1,)] * 10, "entity long")
    hot = [r.entity for r in hot_entities(df, threshold=100).collect()]
    assert hot == [0]


def test_pit_enrich_production_shape_equals_plain(spark):
    """The production job's shape through the bucketed branch: rows=16
    rolling, a 3600 s session gap, and forward-fill of the feature-side
    f_scalar (15% null), which is filled AFTER the as-of join; small buckets
    so the hot entity's carries cross many of them."""
    rng = np.random.default_rng(33)
    n = 3000
    ents = np.where(rng.random(n) < 0.8, 0, rng.integers(1, 6, n))
    secs = rng.choice(3 * 24 * 3600, size=n, replace=False)
    ev = [(int(e), BASE + timedelta(seconds=int(s)), i, int(rng.integers(1, 50)))
          for i, (e, s) in enumerate(zip(ents, secs))]
    events = spark.createDataFrame(ev, "entity long, event_time timestamp, doc_id long, n_tok long")
    fsecs = rng.choice(3 * 24 * 3600, size=600, replace=False)
    fts = [(int(0 if rng.random() < 0.8 else rng.integers(1, 6)), BASE + timedelta(seconds=int(s)),
            None if rng.random() < 0.15 else float(np.round(rng.random(), 3)))
           for s in fsecs]
    features = spark.createDataFrame(fts, "entity long, feature_time timestamp, f_scalar double")
    spec = {"name": "hist_n", "col": "n_tok", "fn": "count", "rows": 16}

    composite = pit_enrich(events, features, rolling_spec=spec, session_gap=3600,
                           ffill_cols=["f_scalar"], hot_threshold=0, bucket_seconds=3 * 3600)
    plain = asof_join(events, features)
    plain = rolling(plain, {"hist_n": ("n_tok", "count")}, rows=16, include_current=False)
    plain = forward_fill(sessionize(plain, 3600), ["f_scalar"])

    cols = sorted(plain.columns)
    assert rows(composite.select(cols)) == rows(plain.select(cols))


def test_pit_enrich_hot_branch_shuffles_stream_once(spark):
    """The hot branch moves its event∪feature stream through ONE exchange,
    keyed on (entity, bucket).  Its other exchanges (the narrow summary
    pass, the carry) move keys, times and the rolled or filled values only
    — never ``eid``, which nothing reads, nor the payload struct."""
    from tools.plan_shape import shuffle_exchanges

    events = spark.createDataFrame(
        [(e, BASE + timedelta(minutes=7 * i + e), i, i % 3, float(i % 5))
         for i in range(200) for e in (0, 1)],
        "entity long, event_time timestamp, eid long, n long, f_scalar double")
    features = spark.createDataFrame(
        [(0, BASE + timedelta(minutes=11 * i), float(i)) for i in range(50)],
        "entity long, feature_time timestamp, fv double")
    out = pit_enrich(events, features,
                     rolling_spec={"name": "hist_n", "col": "n", "fn": "count", "rows": 4},
                     session_gap=1800, ffill_cols=["f_scalar", "fv"],
                     hot_threshold=0, bucket_seconds=4 * 3600)
    hot = [(p, cols) for p, cols in shuffle_exchanges(out) if "__bkt" in cols]
    wide = [p for p, cols in hot if cols & {"eid", "__pl"}]
    assert len(wide) == 1, wide
    assert re.fullmatch(r"hashpartitioning\(entity#\d+L?, __bkt#\d+L?, \d+\)", wide[0])
