"""Self-test of the benchmark's own code; needs no Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import datetime as dt
import os
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
from workloads import COVERING, WORKLOADS, self_times  # noqa: E402


def test_parse_args():
    args = run.parse_args(["--workload", "corpus_dedup", "--seed", "7", "--seconds", "5",
                           "--trace", "1"])
    assert (args.workload, args.seed, args.seconds, args.trace) == ("corpus_dedup", 7, 5.0, 1)
    assert run.parse_args(["--workload", "pit_job_skewed", "--seed", "1",
                           "--seconds", "2"]).trace == 0


@pytest.mark.parametrize("argv", [
    ["--workload", "nope", "--seed", "1", "--seconds", "5"],
    ["--workload", "corpus_dedup", "--seconds", "5"],
    ["--workload", "corpus_dedup", "--seed", "1", "--seconds", "0"],
    ["--workload", "corpus_dedup", "--seed", "1", "--seconds", "5", "--trace", "2"],
])
def test_parse_args_rejects(argv):
    with pytest.raises(SystemExit):
        run.parse_args(argv)


class _Scripted(run.Runner):
    """A runner whose jobs take the given times."""

    def __init__(self, times):
        super().__init__(None, None, "", "")
        self.times = iter(times)

    def job(self) -> float:
        return next(self.times)


def test_warm_up_runs_until_jobs_stop_falling():
    times = [2.8, 2.1, 1.9, 1.88, 1.87, 1.0]
    assert _Scripted(times).warm_up(cold=9.0) == times[:5]
    # a slow cold job is its own warm-up
    assert _Scripted(times).warm_up(cold=run.COLD_ONLY_S + 1) == []
    # the warm-up stops after WARM_LIMIT_S of jobs, falling or not
    assert _Scripted([4.0, 3.0, 3.5, 2.0]).warm_up(cold=9.0) == [4.0, 3.0, 3.5]


def test_stop_tree_ends_orphans():
    """A process whose parent has ended is handed to the subreaper, which
    stops it and leaves no zombie behind."""
    script = (
        "import ctypes, os, subprocess, sys\n"
        f"sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r})\n"
        "import run\n"
        "from probe import descendants\n"
        "assert ctypes.CDLL(None).prctl(run.PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'], check=True)\n"
        "assert descendants(os.getpid())\n"
        "run.stop_tree(None)\n"
        "assert not descendants(os.getpid())\n"
    )
    subprocess.run([sys.executable, "-c", script], check=True, timeout=30)


def test_self_times_and_coverage():
    prefix = {"scan": 1.0, "join": 3.5, "windows": 4.0, "detect": 0.5}
    got = self_times(prefix, {"join": "scan", "windows": "join"})
    assert got == {"scan": 1.0, "join": 2.5, "windows": 0.5, "detect": 0.5}
    # self times of a chain add back up to its last prefix
    assert got["scan"] + got["join"] + got["windows"] == prefix["windows"]
    assert run.coverage(got, ["scan", "join", "windows"], 5.0) == pytest.approx(0.8)


def test_every_workload_has_covering_layers():
    assert set(COVERING) == set(WORKLOADS)


def test_result_line_shapes():
    bench = {"end_to_end": [{"name": "job_s_p50", "unit": "s"}],
             "per_layer": [{"name": "a.self_s", "unit": "s"}, {"name": "b.count", "unit": "count"}]}
    report = {"trace": 0, "attempted": 4, "failures": ["x"],
              "metrics": {"job_s_p50": 1.5, "peak_rss_mb": 900.0}}
    line = run.result_line(report, bench)
    assert line == {"correct": False, "attempted": 4, "failed": 1,
                    "metrics": {"job_s_p50": {"value": 1.5, "unit": "s"}}}
    line = run.result_line({"trace": 1, "attempted": 2, "failures": [],
                            "layers": {"a.self_s": 0.25, "extra": 9.0}}, bench)
    assert line["correct"] is True
    # a layer the workload never runs reads 0
    assert line["metrics"] == {"a.self_s": {"value": 0.25, "unit": "s"},
                               "b.count": {"value": 0.0, "unit": "count"}}


def _ts(minutes: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minutes)


@pytest.fixture
def pit_files(tmp_path):
    """Entity 1: a minute tie at 10, a null-f_scalar feature at 10 that the
    event at 20 attaches (forward-filled from the feature at 5).  Entity 2:
    no feature at all."""
    seq = pa.table({
        "entity": pa.array([1, 1, 1, 2], pa.int64()),
        "event_time": pa.array([_ts(10), _ts(10), _ts(20), _ts(0)], pa.timestamp("us")),
        "n_tok": pa.array([5, 6, 7, 8], pa.int32()),
    })
    feat = pa.table({
        "entity": pa.array([1, 1], pa.int64()),
        "feature_time": pa.array([_ts(5), _ts(10)], pa.timestamp("us")),
        "f_vec": pa.array([[1.0, 2.0], [3.0]], pa.list_(pa.float32())),
        "f_scalar": pa.array([1.5, None], pa.float64()),
    })
    paths = {k: str(tmp_path / f"{k}.parquet") for k in ("seq", "feat", "out")}
    pq.write_table(seq, paths["seq"])
    pq.write_table(feat, paths["feat"])
    return paths


def _engine_output(path: str, f_scalar=(1.5, 1.5, 1.5, None), hist_n=(0, 1, 2, 0)) -> None:
    pq.write_table(pa.table({
        "entity": pa.array([1, 1, 1, 2], pa.int64()),
        "event_time": pa.array([_ts(10), _ts(10), _ts(20), _ts(0)], pa.timestamp("us")),
        "hist_n": pa.array(hist_n, pa.int64()),
        "f_scalar": pa.array(f_scalar, pa.float64()),
        "f_vec_sum": pa.array([3.0, 3.0, 3.0, None], pa.float64()),
        "session_id": pa.array([0, 0, 0, 0], pa.int64()),
    }), path)


def test_check_pit_accepts_correct_output(pit_files):
    _engine_output(pit_files["out"])
    assert reference.check_pit(pit_files["out"], pit_files["seq"], pit_files["feat"]) == ([], 0)
    # rows of a minute tie may come in either order
    _engine_output(pit_files["out"], hist_n=(1, 0, 2, 0))
    assert reference.check_pit(pit_files["out"], pit_files["seq"], pit_files["feat"]) == ([], 0)


def test_check_pit_rejects_wrong_values(pit_files):
    _engine_output(pit_files["out"], f_scalar=(1.5, 1.5, None, None))  # missed forward-fill
    fails, _ = reference.check_pit(pit_files["out"], pit_files["seq"], pit_files["feat"])
    assert len(fails) == 1 and "f_scalar" in fails[0]
    _engine_output(pit_files["out"], hist_n=(0, 1, 1, 0))
    fails, _ = reference.check_pit(pit_files["out"], pit_files["seq"], pit_files["feat"])
    assert len(fails) == 1 and "hist_n" in fails[0]


def test_components():
    assert reference.components([(3, 5), (5, 9), (1, 2)]) == {3: 3, 5: 3, 9: 3, 1: 1, 2: 1}


def test_pair_reference_matches_repository_oracle():
    """The inverted-index pair query gives the repository oracle's pairs."""
    import __spark_entry__ as gates

    docs = inputs.corpus_table(seed=5, n_docs=60)
    con = duckdb.connect()
    con.register("documents", docs)
    fast = set(con.execute(reference._pair_sql(gates._DUCK_SHINGLES)).fetchall())
    assert fast and fast == set(con.execute(gates._DUCK_JACCARD_PAIRS).fetchall())


def test_inputs_are_seeded_and_cached(tmp_path):
    calls = []

    def build(out):
        calls.append(out)
        pq.write_table(inputs.corpus_table(3, 20), os.path.join(out, "documents.parquet"))

    a = inputs.cached(str(tmp_path), "corpus", 3, 20, None, build)
    b = inputs.cached(str(tmp_path), "corpus", 3, 20, None, build)
    assert a == b and len(calls) == 1
    assert inputs.corpus_table(3, 20).equals(inputs.corpus_table(3, 20))
    assert not inputs.corpus_table(3, 20).equals(inputs.corpus_table(4, 20))
