"""SparkSession factory with the scale-oriented defaults this engine assumes.

The reference engine is a single-process row interpreter with no notion of
partitioning (SURVEY.md §4.1).  Here the session itself carries the scale
posture: AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (every pandas UDF crosses via Arrow batches), UTC session timezone
(so results compare bit-for-bit against the DuckDB oracle), and shuffle
parallelism sized to the machine instead of Spark's legacy 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The engine's session policy that can be set at runtime: get_spark bakes it
# in, and __spark_entry__._prep applies it to a caller-provided session.
RUNTIME_CONF: dict[str, str] = {
    # Arrow transfer for every pandas UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic comparisons against the UTC-naive DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Read parquet timestamps as TIMESTAMP (LTZ, = UTC here) instead of NTZ, so
    # unix_timestamp/unix_micros/window rangeBetween work uniformly.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # ANSI off: piper's expression failures are values, not exceptions
    # (SURVEY.md §1.4); null-on-error matches that far better than throwing.
    "spark.sql.ansi.enabled": "false",
    # Spark 4.1's streaming-checkpoint CHECKSUM writer hands every state
    # delta/commit file to a background checksum future and blocks the task
    # on it at close; observed deadlocked forever (thread parked in
    # ChecksumCheckpointFileManager.awaitResult, 745 s CPU then hang) when
    # many stateful queries × many state-store partitions commit in one
    # JVM — exactly the stream_equiv replay in a long bench session.
    # Checkpoint integrity is irrelevant for this engine's ephemeral local
    # checkpoints; a real deployment can re-enable per-job.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
}

# Configs that matter at 100 TB and cost nothing at test scale.  On a real
# cluster these are spark-submit --conf flags; the helper bakes them in so
# local tests run the same plan shapes (AQE, broadcast thresholds) the
# production job would.
ENGINE_CONF: dict[str, str] = {
    # Runtime re-planning: coalesce tiny post-shuffle partitions, split skewed
    # ones, and demote sort-merge to broadcast when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    **RUNTIME_CONF,
}


def get_spark(
    app_name: str = "feathr_online_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so the
    bench harness can pin parallelism; on a real cluster pass ``None`` and let
    spark-submit own it.  ``shuffle_partitions`` defaults to the local core
    count — at 100 TB you would instead size it so each shuffle partition is
    ~128-256 MB (AQE coalescing then trims the long tail).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
