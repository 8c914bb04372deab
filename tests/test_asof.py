"""As-of join: strict-< semantics, tie handling, parity with an independent
pandas merge_asof, and the zero-leakage property test (SURVEY.md §5.2 items
3-4)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from feathr_online_spark.operators.asof import asof_join, leakage_check


def ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def pair(spark):
    events = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:00"), "e1"),
            (1, ts("2024-01-01 11:00:00"), "e2"),
            (1, ts("2024-01-01 12:00:00"), "e3"),
            (2, ts("2024-01-01 10:30:00"), "e4"),
            (3, ts("2024-01-01 10:00:00"), "e5"),  # entity with no features
        ],
        "entity long, event_time timestamp, eid string",
    )
    features = spark.createDataFrame(
        [
            (1, ts("2024-01-01 09:00:00"), 1.0),
            (1, ts("2024-01-01 11:00:00"), 2.0),  # TIE with e2 — must NOT match strictly
            (1, ts("2024-01-01 11:30:00"), 3.0),
            (2, ts("2024-01-01 10:30:00"), 9.0),  # tie with e4
        ],
        "entity long, feature_time timestamp, f double",
    )
    return events, features


EXPECTED_STRICT = [
    ("e1", 1.0),   # 09:00 < 10:00
    ("e2", 1.0),   # 11:00 tie excluded → 09:00
    ("e3", 3.0),   # 11:30 < 12:00
    ("e4", None),  # only feature is a tie → nothing strictly before
    ("e5", None),  # no features at all
]

EXPECTED_NONSTRICT = [
    ("e1", 1.0),
    ("e2", 2.0),   # tie allowed
    ("e3", 3.0),
    ("e4", 9.0),
    ("e5", None),
]


def test_strict_semantics(pair):
    events, features = pair
    out = asof_join(events, features)
    got = sorted([(r.eid, r.f) for r in out.collect()])
    assert got == sorted(EXPECTED_STRICT)


def test_nonstrict_semantics(pair):
    events, features = pair
    out = asof_join(events, features, strict=False)
    got = sorted([(r.eid, r.f) for r in out.collect()])
    assert got == sorted(EXPECTED_NONSTRICT)


def test_output_schema_and_left_outer(pair):
    events, features = pair
    out = asof_join(events, features)
    assert out.columns == ["entity", "event_time", "eid", "f"]
    assert out.count() == events.count()  # left-outer: every event survives


def test_leakage_property_randomized(spark):
    """Zero-leakage invariant over randomized timestamp layouts with heavy
    tie probability (minute granularity)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    n_e, n_f = 400, 300
    ev = [
        (int(rng.integers(0, 20)), datetime(2024, 1, 1, int(h), int(m)), i)
        for i, (h, m) in enumerate(zip(rng.integers(0, 24, n_e), rng.integers(0, 60, n_e)))
    ]
    ft = [
        (int(rng.integers(0, 20)), datetime(2024, 1, 1, int(h), int(m)), float(v))
        for h, m, v in zip(rng.integers(0, 24, n_f), rng.integers(0, 60, n_f), rng.random(n_f))
    ]
    events = spark.createDataFrame(ev, "entity long, event_time timestamp, eid long")
    features = spark.createDataFrame(ft, "entity long, feature_time timestamp, f double")

    joined = asof_join(events, features)
    # per output row: the matched feature's earliest stamping must be < event_time
    assert leakage_check(joined.filter(F.col("f").isNotNull()), features) == 0

    # and every row matches an independent per-entity pandas merge_asof
    # (strict '<').  Several feature rows may share (entity, ts); the
    # reference keeps all their values and the engine's pick must be one.
    fp = pd.DataFrame(ft, columns=["entity", "feature_time", "f"])
    cands = (fp.groupby(["entity", "feature_time"])["f"].agg(frozenset)
             .rename("cands").reset_index().sort_values("feature_time", kind="mergesort"))
    evp = pd.DataFrame(ev, columns=["entity", "event_time", "eid"])
    ref = pd.merge_asof(evp.sort_values("event_time", kind="mergesort"), cands,
                        by="entity", left_on="event_time", right_on="feature_time",
                        allow_exact_matches=False, direction="backward")
    got = {r.eid: r for r in joined.collect()}
    assert len(got) == n_e
    n_matched = 0
    for eid, entity, event_time, c in zip(ref.eid, ref.entity, ref.event_time, ref.cands):
        r = got[eid]
        assert (r.entity, r.event_time) == (entity, event_time.to_pydatetime())
        if isinstance(c, frozenset):
            assert r.f in c, f"eid {eid}: got {r.f}, reference allows {sorted(c)}"
            n_matched += 1
        else:
            assert r.f is None, f"eid {eid}: got {r.f}, reference finds no earlier feature"
    assert n_matched > 200


def test_chained_multi_feature_tables(spark):
    """Two feature tables attach independently by chaining asof_join — the
    Feathr-style multi-source point-in-time enrichment."""
    events = spark.createDataFrame(
        [(1, ts("2024-01-01 12:00:00"), "e1")], "entity long, event_time timestamp, eid string"
    )
    fa = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:00"), 1.5)], "entity long, feature_time timestamp, fa double"
    )
    fb = spark.createDataFrame(
        [(1, ts("2024-01-01 11:00:00"), "x"), (1, ts("2024-01-01 13:00:00"), "leak")],
        "entity long, feature_time timestamp, fb string",
    )
    out = asof_join(asof_join(events, fa), fb)
    r = out.collect()[0]
    assert (r.fa, r.fb) == (1.5, "x")
    assert out.columns == ["entity", "event_time", "eid", "fa", "fb"]


def test_deterministic_among_equal_ts_features(spark):
    """Multiple feature rows at the same (entity, ts): winner must be stable
    across runs/orderings."""
    events = spark.createDataFrame(
        [(1, ts("2024-01-01 12:00:00"), "e")], "entity long, event_time timestamp, eid string"
    )
    feats = [(1, ts("2024-01-01 10:00:00"), float(v)) for v in (5.0, 1.0, 9.0)]
    f1 = spark.createDataFrame(feats, "entity long, feature_time timestamp, f double")
    f2 = spark.createDataFrame(list(reversed(feats)), "entity long, feature_time timestamp, f double")
    v1 = asof_join(events, f1).collect()[0]["f"]
    v2 = asof_join(events, f2).collect()[0]["f"]
    assert v1 == v2


def test_whole_row_attach_nulls_preserved(spark):
    """When the most recent qualifying feature row has a null in one payload
    column, the output must keep that null — NOT graft the older row's value
    into the gap.  The plain and the bucketed as-of join must agree (whole-row
    semantics: the payload travels as one struct)."""
    from feathr_online_spark.operators.skew import asof_join_bucketed

    events = spark.createDataFrame(
        [(1, ts("2024-01-01 12:00:00"), "e1")],
        "entity long, event_time timestamp, eid string",
    )
    features = spark.createDataFrame(
        [
            (1, ts("2024-01-01 09:00:00"), 1.0, 100.0),   # older, fully non-null
            (1, ts("2024-01-01 11:00:00"), None, 200.0),  # latest: f1 is null
        ],
        "entity long, feature_time timestamp, f1 double, f2 double",
    )
    row = asof_join(events, features).collect()[0]
    assert row.f1 is None, f"expected null f1, got {row.f1}"
    assert row.f2 == 200.0
    row = asof_join_bucketed(events, features).collect()[0]
    assert row.f1 is None and row.f2 == 200.0


def test_whole_row_carry_across_buckets(spark):
    """Same whole-row property when the winning feature row is in an EARLIER
    bucket (exercises the bucketed variant's carry pass)."""
    from feathr_online_spark.operators.skew import asof_join_bucketed, pit_fused_bucketed

    events = spark.createDataFrame(
        [(1, ts("2024-01-05 12:00:00"), "e1")],
        "entity long, event_time timestamp, eid string",
    )
    features = spark.createDataFrame(
        [
            (1, ts("2024-01-01 09:00:00"), 1.0, 100.0),
            (1, ts("2024-01-02 11:00:00"), None, 200.0),  # latest (earlier bucket): f1 null
        ],
        "entity long, feature_time timestamp, f1 double, f2 double",
    )
    row = asof_join_bucketed(events, features, bucket_seconds=86400).collect()[0]
    assert row.f1 is None and row.f2 == 200.0
    row = pit_fused_bucketed(events, features, bucket_seconds=86400).collect()[0]
    assert row.f1 is None and row.f2 == 200.0


def test_match_indicator_distinguishes_miss_from_allnull_payload(spark):
    """asof_join(match_indicator=...) is true iff a feature row attached —
    including one whose payload is entirely null (ADVICE r3: payload nullness
    alone cannot tell that apart from a left-outer miss)."""
    events = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:00"), "hit_allnull"),
            (2, ts("2024-01-01 10:00:00"), "miss"),
        ],
        "entity long, event_time timestamp, eid string",
    )
    features = spark.createDataFrame(
        [(1, ts("2024-01-01 09:00:00"), None)],
        "entity long, feature_time timestamp, f double",
    )
    out = asof_join(events, features, match_indicator="matched")
    got = {r.eid: (r.matched, r.f) for r in out.collect()}
    assert got == {"hit_allnull": (True, None), "miss": (False, None)}
    # indicator collision with an existing column raises
    with pytest.raises(ValueError):
        asof_join(events, features, match_indicator="eid")


def test_leakage_check_matched_col_closes_allnull_blind_spot(spark):
    """A leaked feature row with an all-null payload is invisible to the
    inferred (payload-nullness) miss filter but caught via matched_col."""
    features = spark.createDataFrame(
        [(1, ts("2024-01-01 11:00:00"), None)],  # stamped AFTER the event
        "entity long, feature_time timestamp, f double",
    )
    # fabricate a corrupted join output that attached the future feature row
    leaked = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:00"), "e1", None, True)],
        "entity long, event_time timestamp, eid string, f double, matched boolean",
    )
    # inferred filter: all-null payload looks like a miss → unchecked
    assert leakage_check(leaked.drop("matched"), features) == 0
    # explicit indicator: the violation is counted
    assert leakage_check(leaked, features, matched_col="matched") == 1
