"""Session gaps must survive 32-bit microsecond overflow: 2148 s is the first
whole-second gap past 2^31 µs.  sessionize, sessionize_bucketed and
pit_enrich's bucketed branch are checked against a pure-Python reference on
timelines whose steps sit within ±1 s of the gap."""

from datetime import datetime, timedelta

import numpy as np
import pytest

from feathr_online_spark.operators.pit import pit_enrich
from feathr_online_spark.operators.skew import sessionize_bucketed
from feathr_online_spark.operators.windows import gap_micros, sessionize

BASE = datetime(2024, 1, 1)
GAPS = [1800, 2147, 2148, 3600, 86400]


def _timeline(gap: int) -> list[tuple[int, datetime, int]]:
    """(entity, event_time, eid): 3 entities × 30 events whose steps are
    gap-1, gap, gap+1 or well inside the gap."""
    rng = np.random.default_rng(gap)
    data, eid = [], 0
    for e in range(3):
        t = BASE + timedelta(seconds=int(rng.integers(0, 3600)))
        for _ in range(30):
            data.append((e, t, eid))
            eid += 1
            step = rng.choice([gap - 1, gap, gap + 1, int(rng.integers(1, gap // 3))])
            t += timedelta(seconds=int(step))
    return data


def _reference(data, gap: int) -> dict[int, int]:
    """eid → 0-based session ordinal: a new session when the step from the
    entity's previous event exceeds the gap."""
    out, last = {}, {}
    for e, t, eid in sorted(data):
        prev = last.get(e)
        if prev is None:
            out[eid] = 0
        else:
            out[eid] = out[prev[1]] + ((t - prev[0]).total_seconds() > gap)
        last[e] = (t, eid)
    return out


@pytest.mark.parametrize("gap", GAPS)
def test_sessions_match_reference_across_int32_gap(spark, gap):
    data = _timeline(gap)
    df = spark.createDataFrame(data, "entity long, event_time timestamp, eid long")
    features = spark.createDataFrame([(e, BASE - timedelta(days=1), 1.0) for e in range(3)],
                                     "entity long, feature_time timestamp, f double")
    want = _reference(data, gap)
    assert len(set(want.values())) < len(want)       # the gap joins some steps
    outs = {
        "sessionize": sessionize(df, gap),
        "sessionize_bucketed": sessionize_bucketed(df, gap, bucket_seconds=3600),
        "pit_enrich": pit_enrich(df, features, session_gap=gap, hot_threshold=0,
                                 bucket_seconds=3600),
    }
    for name, out in outs.items():
        got = {r.eid: r.session_id for r in out.select("eid", "session_id").collect()}
        assert got == want, name


@pytest.mark.parametrize("bad", [0, -60, 1.5, float("nan"), True])
def test_gap_must_be_positive_whole_seconds(bad):
    with pytest.raises(ValueError):
        gap_micros(bad)
