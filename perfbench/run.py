"""Benchmark of the feathr_online_spark engine: one workload per process.

    python3 perfbench/run.py --workload pit_job_skewed --seed 1 --seconds 5 --trace 0

Run from the repository root.  The process pins its Spark environment
(``local[<cores>]``, a driver heap that fits the machine, no console
progress bar, every scratch file under ``perfbench/_work``), then:

1. sets up ``SETUPS`` times (start a Spark session, make the seeded inputs
   ready) and reports the median as ``setup_s``; the first set-up launches
   the JVM and generates the inputs, later ones reuse both;
2. runs one job in the fresh session (``cold_s``) and untimed warm-up jobs
   until the job time stops falling or they have taken ``WARM_LIMIT_S`` (a
   job as slow as ``pit_job_skewed``'s warms up on the cold job alone);
3. runs jobs back to back for ``--seconds`` (a closed loop with one
   client) and reports their median wall time and the throughput at that
   median (input rows over it);
4. checks one job's output against an independent DuckDB reference.

With ``--trace 1`` it instead reports per-layer metrics: layer self times
from prefix materialisation, Spark counters for one job's job group, the
tracing overhead and the 1-to-N-core scaling efficiency (the last two where
a run has room for the extra jobs; see ``trace``).  It also writes the
whole trace to ``perfbench/_work/out``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.

The command itself only supervises: it runs the benchmark in a child
process and, being the child subreaper of everything below it, outlives
every process the run starts (the driver JVM, PySpark's worker daemon and
its workers).  When the child ends, when it runs past ``DEADLINE_S`` or when
the command is signalled, it stops whatever is left and waits until each
process has ended.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# the first set-up starts the JVM; the median is that of the later ones
SETUPS = 5
# warm-up stops once neither of the last two warm jobs was more than
# WARM_TOLERANCE faster than the best job before them, or once the warm-up
# jobs have taken WARM_LIMIT_S; a cold job slower than COLD_ONLY_S is its own
# warm-up (pit_job_skewed's second job is as fast as its third)
WARM_TOLERANCE = 0.05
WARM_LIMIT_S = 10.0
COLD_ONLY_S = 20.0
MAX_WARM = 10
DRIVER_MEMORY = "3g"
# a run that has not ended by then is stopped and fails (a run must end
# within 180 s)
DEADLINE_S = 160.0
STOP_GRACE_S = 5.0
CHILD_ENV = "PERFBENCH_CHILD"
PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36

# Every end-to-end figure a run prints.  BENCHMARK.json bounds those that
# repeat from run to run; peak memory and the failed share are printed only.
UNITS = {"rows_per_s": "1/s", "job_s_p50": "s", "cold_s": "s", "setup_s": "s",
         "peak_rss_mb": "MB", "failed_share": "ratio"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def pin_environment(cores: int) -> None:
    """Settings that must be in place before pyspark starts the JVM."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_LOCAL_IP": "127.0.0.1",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import the package and the workloads' callables
        "PYTHONPATH": os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
    })


def session_conf() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def start_session(cores: int, master: str | None = None):
    from feathr_online_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=master, shuffle_partitions=cores,
                      extra_conf=session_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the session, then the driver JVM (and with it the Python
    workers), and wait until all of them have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from probe import descendants

    started = descendants(os.getpid())
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (left := started & descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        os.kill(pid, signal.SIGKILL)


def quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


class Runner:
    """Runs jobs of one workload and counts attempts and failures."""

    def __init__(self, wl, spark, inputs_dir: str, work: str):
        self.wl, self.spark, self.d, self.work = wl, spark, inputs_dir, work
        self.attempted = 0
        self.failures: list[str] = []
        self.last = None  # the latest successful job's output
        self.notes: dict = {}

    def job(self) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.last = self.wl.job(self.spark, self.d, self.work)
        except Exception as e:  # a failed job is counted, and the loop goes on
            self.failures.append(f"job {self.attempted}: {type(e).__name__}: {e}")
        return time.perf_counter() - t0

    def warm_up(self, cold: float) -> list[float]:
        """Untimed jobs after the cold one (see ``WARM_LIMIT_S``)."""
        warm: list[float] = []
        if cold > COLD_ONLY_S:
            return warm
        while sum(warm) < WARM_LIMIT_S and len(warm) < MAX_WARM:
            warm.append(self.job())
            if len(warm) >= 3 and min(warm[-2:]) >= (1 - WARM_TOLERANCE) * min(warm[:-2]):
                break
        return warm

    def loop(self, seconds: float) -> list[float]:
        samples: list[float] = []
        t0 = time.perf_counter()
        while not samples or time.perf_counter() - t0 < seconds:
            samples.append(self.job())
        return samples

    def check(self) -> None:
        """Checks the latest job's output; a mismatch counts as a failed job."""
        try:
            fails, self.notes = self.wl.check(self.spark, self.d, self.work, self.last)
        except Exception as e:
            fails = [f"check: {type(e).__name__}: {e}"]
        self.failures += fails


def setup(wl, seed: int, cores: int) -> tuple[object, str, list[float], dict]:
    """Set up ``SETUPS`` times; returns the last session, the inputs and
    the set-up samples, plus the first set-up's split."""
    cache = os.path.join(WORK, "inputs")
    samples, first = [], {}
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(cores)
        t1 = time.perf_counter()
        d = wl.prepare(cache, seed)
        for path in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            spark.read.parquet(path)  # lists the files and reads the schema
        samples.append(time.perf_counter() - t0)
        if i == 0:
            first = {"session.start_s": t1 - t0, "inputs_s": samples[0] - (t1 - t0)}
    return spark, d, samples, first


def run(args: argparse.Namespace) -> dict:
    from probe import PeakRss
    from workloads import WORKLOADS

    cores = os.cpu_count() or 1
    wl = WORKLOADS[args.workload]()
    work = os.path.join(WORK, "jobs", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    report: dict = {"workload": args.workload, "seed": args.seed, "cores": cores,
                    "seconds": args.seconds, "trace": args.trace}
    try:
        with PeakRss() as rss:
            spark, d, setups, first = setup(wl, args.seed, cores)
            runner = Runner(wl, spark, d, work)
            if args.trace:
                spark.sparkContext.setJobGroup("cold", "cold job")
            cold = runner.job()
            warm = runner.warm_up(cold)
            if args.trace:
                layers = trace(runner, cores, cold, untraced=warm[-1] if warm else None,
                               seconds=args.seconds)
                t0 = time.perf_counter()
                wl.generate(args.seed)
                layers.update(first, **{"datagen.gen_s": time.perf_counter() - t0})
            else:
                timed = runner.loop(args.seconds)
                runner.check()
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    failed_share = len(runner.failures) / runner.attempted
    if args.trace:
        report["layers"] = layers | {"process.peak_rss_mb": rss.peak_mb}
    else:
        rows = wl.rows(d)
        report["metrics"] = {
            "rows_per_s": rows / statistics.median(timed),
            "job_s_p50": statistics.median(timed),
            "cold_s": cold,
            "setup_s": statistics.median(setups),
            "peak_rss_mb": rss.peak_mb,
            "failed_share": failed_share,
        }
        report["units"] = UNITS
        report["samples"] = {"setup_s": setups, "cold_s": [cold], "warm_s": warm, "job_s": timed,
                             "job_s_quartiles": quartiles(timed), "input_rows": rows}
    report.update(attempted=runner.attempted, failures=runner.failures, check_notes=runner.notes)
    return report


def trace(runner: Runner, cores: int, cold: float, untraced: float | None,
          seconds: float) -> dict[str, float]:
    """Per-layer metrics for one workload (see the module docstring).
    ``untraced``: the last warm-up job's wall time, the untraced reference
    for the tracing overhead.  A workload without warm-up jobs reports no
    overhead, and one whose ``trace_scaling`` is false no scaling: a run
    of theirs has no room for the extra job."""
    from probe import SparkStatus
    from workloads import COVERING

    spark, wl = runner.spark, runner.wl
    status = SparkStatus(spark)
    sc = spark.sparkContext
    traced, counters = [], {}
    t_end = time.perf_counter() + seconds
    while not traced or time.perf_counter() < t_end:
        group = f"job-{runner.attempted + 1}"
        sc.setJobGroup(group, group)
        wall = runner.job()
        counters = status.counters(group, wall)
        traced.append(wall)
    sc.setJobGroup("layers", "layers")
    layers = wl.layers(spark, runner.d, runner.work, status)
    runner.check()
    p50_traced = statistics.median(traced)
    out = dict(layers)
    out.update(counters)
    # Python workers are reused once started: their start-up shows in the cold job
    out["spark.py_worker_start_s"] = status.counters("cold", cold)["spark.py_worker_start_s"]
    out["trace.coverage"] = coverage(layers, COVERING[wl.name], p50_traced)
    out["job_s_p50.traced"] = p50_traced
    if untraced is not None:
        out["trace.overhead"] = p50_traced / untraced - 1
        out["job_s_p50.untraced"] = untraced
    if wl.trace_scaling:
        out["scaling.eff_1to4"] = scaling(runner, cores, p50_traced)
    return out


def coverage(layers: dict[str, float], keys: list[str], job_s: float) -> float:
    """Share of one job's wall time that the named layer self times add up to."""
    return sum(layers[k] for k in keys) / job_s


def scaling(runner: Runner, cores: int, p50_n: float) -> float:
    """Efficiency of going from 1 core to ``cores``: T(1) / (cores * T(cores)),
    with the same shuffle width so only the core count differs."""
    runner.spark.stop()
    runner.spark = start_session(cores, master="local[1]")
    # the JVM is warm already: only the Spark context is new
    return runner.job() / (cores * p50_n)


def result_line(report: dict, bench: dict) -> dict:
    """The last output line: the bounded end-to-end metrics of BENCHMARK.json,
    or with tracing every per-layer metric (a layer the workload never runs
    reads 0)."""
    if report["trace"]:
        metrics = {m["name"]: {"value": float(report["layers"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(report["metrics"][m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    failed = len(report["failures"])
    return {"correct": failed == 0, "attempted": report["attempted"], "failed": failed,
            "metrics": metrics}


class Stopped(Exception):
    """The command was signalled."""


def _on_signal(signum, frame) -> None:
    raise Stopped(signal.Signals(signum).name)


def supervise(argv: list[str]) -> int:
    """Runs the benchmark in a child process, then stops every process left
    below this one; returns the child's exit code, or 1 if it was stopped."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot become a child subreaper", file=sys.stderr)
        return 2
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)
    child, rc = None, 1
    try:
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *argv],
            env=dict(os.environ, **{CHILD_ENV: "1"}),
            # the child dies with this process, whatever kills it
            preexec_fn=lambda: libc.prctl(PR_SET_PDEATHSIG, signal.SIGKILL, 0, 0, 0))
        rc = child.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: the run took longer than {DEADLINE_S:.0f} s", file=sys.stderr)
    except Stopped as e:
        print(f"perfbench: stopped by {e}", file=sys.stderr)
    finally:
        stop_tree(child)
    return rc


def stop_tree(child: subprocess.Popen | None) -> None:
    """Sends SIGTERM, then SIGKILL, to every process below this one and
    waits until each has ended.  A process whose parent ended was handed to
    this one (the subreaper), so none escapes."""
    from probe import descendants

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, signal.SIG_IGN)
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(me):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + STOP_GRACE_S
        while True:
            reap(child)
            if not descendants(me):
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
    print(f"perfbench: processes {sorted(descendants(me))} did not end", file=sys.stderr)


def reap(child: subprocess.Popen | None) -> None:
    """Collects the exit status of every ended direct child (adopted
    orphans included), so none is left as a zombie."""
    from probe import children

    if child is not None:
        child.poll()
    for pid in children().get(os.getpid(), []):
        if child is None or pid != child.pid:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "feathr_online_spark")):
        print(f"perfbench: no feathr_online_spark package next to {HERE}", file=sys.stderr)
        return 2
    if os.environ.get(CHILD_ENV) != "1":
        return supervise(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    pin_environment(os.cpu_count() or 1)
    sys.path.insert(0, ROOT)
    report = run(args)
    line = result_line(report, bench)
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    kind = "trace" if args.trace else "run"
    with open(os.path.join(out_dir, f"{kind}-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump(report | {"result": line}, f, indent=1)
    print(json.dumps(report))
    for msg in report["failures"]:
        print(f"FAILED: {msg}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
