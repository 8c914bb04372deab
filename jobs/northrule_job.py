"""Production entry point: the north-rule feature job as a spark-submit script.

    spark-submit --py-files feathr_online_spark.zip jobs/northrule_job.py \
        --sequences <path-or-iceberg-table> --features <path-or-iceberg-table> \
        --output /path/out --metrics /path/metrics \
        --manifest /path/manifest [--hot-threshold 5000000] [--bucket-seconds 86400]

Pipeline per BASELINE.json's north rule:
  read sequences (doc_id, tokens, n_tok, source, entity, event_time)
  → token-derived features map-side (raw arrays dropped pre-shuffle)
  → resume filter (anti-join against the checkpoint manifest)
  → strict-< as-of join + rolling/sessionize/forward-fill
    (hot/cold split: fused single-sort path for cold entities, bucketed
     exact decomposition for Zipf-hot ones — operators/pit.py)
  → write partitioned output + per-partition lineage rows + manifest marks.

Iceberg: on a cluster with the iceberg-spark runtime on the classpath, pass
catalog table names (``catalog.db.table``) to ``--sequences``/``--features``
instead of paths — ``read_table`` reads a dotted name without ``/`` as a
catalog table — and add the catalog confs (see iceberg_conf below).  The
output is always written as parquet under ``--output``.  Without the
Iceberg jars, paths read parquet; the plan shapes are identical.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, functions as F


def iceberg_conf(catalog: str = "ice", warehouse: str = "/tmp/warehouse") -> dict[str, str]:
    """Session confs for an Iceberg hadoop catalog (requires
    org.apache.iceberg:iceberg-spark-runtime on the classpath)."""
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    }


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """Path → parquet; dotted name → catalog table (Iceberg on a real cluster)."""
    if "/" in ref or ref.endswith(".parquet"):
        return spark.read.parquet(ref)
    return spark.read.table(ref)


def build_job(spark: SparkSession, args) -> tuple[DataFrame, DataFrame]:
    """Returns (output DataFrame, this run's distinct manifest buckets)."""
    from feathr_online_spark.operators.pit import pit_enrich
    from feathr_online_spark.plans.checkpoint import bucket_of, resume_filter

    seq = read_table(spark, args.sequences).select(
        "doc_id", "entity", "event_time", "n_tok", "source",
        # nullif(-1): with ANSI off size(NULL) is -1 (legacy sizeOfNull), so
        # a null tokens array would yield tok_ratio = -n_tok instead of null
        (F.col("n_tok") / F.nullif(F.size("tokens"), F.lit(-1))).alias("tok_ratio"),
        F.xxhash64("tokens").alias("tok_fingerprint"),
    )
    if args.manifest:
        seq = resume_filter(seq, args.manifest, entity_col="entity", n_buckets=args.n_buckets)
    # this run's work units, from the INPUT (one cheap map-side distinct) —
    # never by re-scanning the accumulated output directory
    run_buckets = seq.select(bucket_of("entity", args.n_buckets).alias("bucket")).distinct()
    feat = read_table(spark, args.features)
    out = pit_enrich(
        seq, feat,
        rolling_spec={"name": "hist_n", "col": "n_tok", "fn": "count", "rows": 16},
        session_gap=3600,
        ffill_cols=["f_scalar"],
        hot_threshold=args.hot_threshold,
        bucket_seconds=args.bucket_seconds,
    )
    out = out.select(
        "doc_id", "entity", "event_time", "n_tok", "source",
        "session_id", "hist_n", "f_scalar",
        F.aggregate("f_vec", F.lit(0.0), lambda a, x: a + x).alias("f_vec_sum"),
        "tok_ratio", "tok_fingerprint",
        bucket_of("entity", args.n_buckets).alias("bucket"),
    )
    return out, run_buckets


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sequences", required=True)
    ap.add_argument("--features", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", default=None)
    ap.add_argument("--manifest", default=None)
    ap.add_argument("--hot-threshold", type=int, default=5_000_000)
    ap.add_argument("--bucket-seconds", type=int, default=86_400)
    ap.add_argument("--n-buckets", type=int, default=64)
    args = ap.parse_args()

    # On a cluster spark-submit owns master/conf; getOrCreate just attaches.
    from feathr_online_spark.session import get_spark
    spark = get_spark(app_name="northrule_job")

    t0 = time.time()
    run_id = f"run-{int(t0)}"
    out, run_buckets = build_job(spark, args)
    done = sorted(r[0] for r in run_buckets.collect())  # ≤ n_buckets rows

    # CRASH-IDEMPOTENT write: output is partitioned by the manifest's work
    # unit (bucket) and written with DYNAMIC partition overwrite — a re-run
    # of an unmarked bucket REPLACES its partition instead of appending a
    # duplicate copy, closing the write→mark_done crash window.  Data is
    # shuffled on bucket (so each task writes one bucket directory) and
    # sorted within partitions on (entity, event_time) for downstream as-of
    # consumers (Iceberg: identity-partition by bucket + sortedBy on write).
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (out.repartition(F.col("bucket"))
        .sortWithinPartitions("entity", "event_time")
        .write.mode("overwrite").partitionBy("bucket").parquet(args.output))

    if args.metrics:
        from feathr_online_spark.plans.lineage import partition_lineage
        # lineage over THIS run's partitions only (partition-pruned read-back
        # of the just-written buckets), keyed by the manifest's work unit and
        # written with the SAME dynamic-overwrite idempotence as the output:
        # a rerun of an unmarked bucket REPLACES its metrics row instead of
        # appending a duplicate (the old append in the write→mark_done crash
        # window double-counted lineage rows)
        this_run = spark.read.parquet(args.output).where(F.col("bucket").isin(done))
        lin = partition_lineage(this_run, by="bucket").withColumns({
            "run_wall_s": F.lit(round(time.time() - t0, 2)),
            "run_id": F.lit(run_id),
        })
        lin.write.mode("overwrite").partitionBy("bucket").parquet(args.metrics)

    if args.manifest:
        from feathr_online_spark.plans.checkpoint import mark_done
        mark_done(spark, args.manifest, done, run_id=run_id)

    print(f"northrule_job done: {time.time() - t0:.1f}s → {args.output}")


if __name__ == "__main__":
    main()
