"""Checkpoint manifest + resume for partition-granular batch jobs.

The production job processes an entity-range-partitioned table; each completed
range appends a manifest row.  On restart, already-done ranges are anti-joined
away so only missing work re-runs (north_star: "resuming cleanly from a
checkpoint manifest").

Locally the manifest is a parquet directory; on a cluster it would be an
Iceberg table (atomic appends).  The unit of work is a *logical* partition id —
``pmod(entity, n_buckets)`` — not a physical task id, so the manifest is stable
across different parallelism levels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def bucket_of(entity_col: str, n_buckets: int):
    return F.pmod(F.col(entity_col), F.lit(n_buckets)).cast("long")


def _manifest_exists(spark: SparkSession, manifest_path: str) -> bool:
    """Existence via the HADOOP filesystem of the path (hdfs://, s3a://,
    file:///, …) — NOT os.path.exists, which only sees the driver's local
    disk and would make every cluster run silently resume as-if-empty
    (exactly the failure this module exists to prevent)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(manifest_path)
    return p.getFileSystem(conf).exists(p)


def load_done_partitions(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Read the manifest; empty DataFrame ONLY when it genuinely doesn't
    exist yet.  A corrupt/unreadable manifest must FAIL the run — silently
    treating it as 'nothing done' would re-append every completed bucket."""
    if not _manifest_exists(spark, manifest_path):
        return spark.createDataFrame([], "bucket long")
    try:
        return spark.read.parquet(manifest_path).select("bucket").distinct()
    except Exception as e:
        from pyspark.errors import AnalysisException

        # an existing-but-empty directory (crash before any part file) is the
        # one benign case: Spark raises UNABLE_TO_INFER_SCHEMA for it
        if isinstance(e, AnalysisException) and "UNABLE_TO_INFER_SCHEMA" in str(e):
            return spark.createDataFrame([], "bucket long")
        raise RuntimeError(
            f"checkpoint manifest at {manifest_path!r} exists but cannot be read; "
            f"refusing to resume as-if-empty (would duplicate completed work)"
        ) from e


def resume_filter(
    df: DataFrame,
    manifest_path: str,
    entity_col: str = "entity",
    n_buckets: int = 64,
) -> DataFrame:
    """Drop rows whose bucket is already recorded done — a broadcast anti-join
    (the manifest is tiny: ≤ n_buckets rows)."""
    done = load_done_partitions(df.sparkSession, manifest_path)
    withb = df.withColumn("__bucket", bucket_of(entity_col, n_buckets))
    out = withb.join(
        F.broadcast(done.withColumnRenamed("bucket", "__bucket")), "__bucket", "left_anti"
    )
    return out.drop("__bucket")


def mark_done(
    spark: SparkSession,
    manifest_path: str,
    buckets: list[int],
    run_id: str = "local",
) -> None:
    """Append completed buckets to the manifest (idempotent consumers: readers
    use DISTINCT bucket)."""
    rows = [(int(b), run_id) for b in buckets]
    spark.createDataFrame(rows, "bucket long, run_id string").write.mode("append").parquet(
        manifest_path
    )
