"""Long-session hygiene soak: run the FULL gate suite N times in ONE
SparkSession and assert nothing accumulates between passes —

- persistent RDDs (gate caches must be released; no gate keeps a frame
  cached across calls, and the bound below allows one frame of slack),
- temp views (streaming memory sinks must be dropped),
- active streaming queries (replays must stop their queries),
- checkpoint temp dirs under /tmp (stream_eqv_ckpt_* must be removed),
- fixture temp files (``.fixtures/**/.*``: the fixture writer must rename
  or delete every temp file it makes).

This is the holistic check behind the r4/r5 cache-leak ADVICE fixes: a
bench/driver process runs every gate several times in one JVM, and any
per-call leak compounds for the session lifetime.

Usage: python tools/soak_check.py [passes] [sf_dir]
Prints one JSON line: {"passes": N, "leaks": {...}, "ok": bool}
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def snapshot(spark) -> dict:
    sc = spark.sparkContext
    return {
        "persistent_rdds": sc._jsc.sc().getPersistentRDDs().size(),
        "temp_views": len(spark.catalog.listTables()),
        "active_streams": len(spark.streams.active),
        "stream_ckpt_dirs": len(glob.glob("/tmp/stream_eqv_ckpt_*")),
        "fixture_tmp_files": len(glob.glob(os.path.join(REPO, ".fixtures", "**", ".*"),
                                           recursive=True)),
    }


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from feathr_online_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="soak_check")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    # baseline BEFORE any gate runs: /tmp may hold checkpoint debris from
    # OTHER processes (driver runs, killed sessions) — this session is
    # accountable only for what it adds
    base = snapshot(spark)
    print(f"baseline: {base}", file=sys.stderr, flush=True)
    history = []
    for i in range(passes):
        for name, fn in qs.items():
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        history.append(snapshot(spark))
        print(f"pass {i + 1}/{passes}: {history[-1]}", file=sys.stderr, flush=True)

    first, last = history[0], history[-1]
    # steady state after pass 1: nothing may GROW across subsequent passes
    leaks = {k: {"after_pass_1": first[k], "after_pass_n": last[k]}
             for k in first if last[k] > first[k]}
    # absolute bounds on this session's additions: at most one persisted
    # frame; zero live streams / leftover views / new checkpoint dirs or
    # fixture temp files
    bounds_ok = (
        last["persistent_rdds"] - base["persistent_rdds"] <= 1
        and last["active_streams"] == 0
        and last["temp_views"] <= base["temp_views"]
        and last["stream_ckpt_dirs"] <= base["stream_ckpt_dirs"]
        and last["fixture_tmp_files"] <= base["fixture_tmp_files"]
    )
    print(json.dumps({"passes": passes, "sf": sf_dir, "baseline": base,
                      "after_pass_1": first, "after_pass_n": last,
                      "leaks": leaks, "ok": not leaks and bounds_ok}))


if __name__ == "__main__":
    main()
