"""plans/: lineage metrics, checkpoint/resume, salting."""

import os

from pyspark.sql import functions as F

from feathr_online_spark.plans.checkpoint import load_done_partitions, mark_done, resume_filter
from feathr_online_spark.plans.lineage import partition_lineage
from feathr_online_spark.plans.salting import salted_join, with_salt


def test_partition_lineage_counts_and_stable_checksum(spark):
    df = (spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
          .withColumn("bucket", F.col("id") % 7).repartition(8))
    lin = partition_lineage(df, by="bucket").collect()
    assert sum(r.rows for r in lin) == 10_000
    # every emitted row names the checksum definition that produced it, so a
    # long-lived metrics store can tell v1 from v2 rows (ADVICE r4)
    from feathr_online_spark.plans.lineage import CHECKSUM_VERSION
    assert all(r.checksum_version == CHECKSUM_VERSION for r in lin)
    # per-unit checksums must be independent of partitioning — reshuffle
    # and compare
    def checksums(d):
        return {r.bucket: (r.rows, r.checksum) for r in partition_lineage(d, by="bucket").collect()}
    assert checksums(df) == checksums(df.repartition(3))


def test_checkpoint_resume(spark, tmp_path):
    manifest = os.path.join(str(tmp_path), "manifest")
    df = spark.range(0, 1000).withColumnRenamed("id", "entity")
    # nothing done yet → everything survives
    assert resume_filter(df, manifest, n_buckets=10).count() == 1000
    # mark buckets 0..4 done → only entities with pmod(entity,10) in 5..9 remain
    mark_done(spark, manifest, [0, 1, 2, 3, 4], run_id="r1")
    remaining = resume_filter(df, manifest, n_buckets=10)
    assert remaining.count() == 500
    got_buckets = {r[0] % 10 for r in remaining.collect()}
    assert got_buckets == {5, 6, 7, 8, 9}
    # idempotent re-mark
    mark_done(spark, manifest, [4], run_id="r2")
    assert load_done_partitions(spark, manifest).count() == 5


def test_salted_join_matches_plain(spark):
    big = spark.range(0, 20_000).select((F.col("id") % 5).alias("k"), F.col("id").alias("v"))
    small = spark.createDataFrame([(i, f"n{i}") for i in range(5)], "k long, name string")
    plain = big.join(small, "k").agg(F.sum("v"), F.count(F.lit(1))).collect()[0]
    salted = salted_join(big, small, "k", k=8).agg(F.sum("v"), F.count(F.lit(1))).collect()[0]
    assert tuple(plain) == tuple(salted)


def test_with_salt_deterministic(spark):
    df = spark.range(0, 100)
    a = [r["__salt"] for r in with_salt(df, 16, from_cols=["id"]).orderBy("id").collect()]
    b = [r["__salt"] for r in with_salt(df, 16, from_cols=["id"]).orderBy("id").collect()]
    assert a == b and all(0 <= s < 16 for s in a)


def test_salted_aggregate_distinct_needs_salt_from(spark):
    """Round-3 review: a countDistinct partial is only sum-mergeable when
    the salt is a function of the distinct-target column; the all-columns
    default splits one user's rows across salts and overcounts."""
    from pyspark.sql import functions as F

    from feathr_online_spark.plans.salting import salted_aggregate

    rows = [("hot", u % 7, e) for u in range(50) for e in range(4)]
    df = spark.createDataFrame(rows, "source string, user long, extra long")
    good = salted_aggregate(
        df, ["source"], {"du": (F.countDistinct("user"), F.sum("du"))},
        k=16, salt_from=["user"],
    ).collect()[0]
    assert good.du == 7


def test_grouped_lineage_matches_definition(spark):
    """partition_lineage(df, by=...) computes the same order-insensitive
    XOR-of-xxhash64 checksum per group as a direct recomputation."""
    from pyspark.sql import functions as F

    from feathr_online_spark.plans.lineage import partition_lineage

    df = spark.createDataFrame(
        [(b, i, f"p{i}") for b in range(3) for i in range(b * 5 + 1)],
        "bucket long, i long, s string",
    ).repartition(8)  # scramble physical placement
    got = {r.bucket: (r.rows, r.checksum)
           for r in partition_lineage(df, by="bucket").collect()}
    want_rows = {b: b * 5 + 1 for b in range(3)}
    direct = {
        r.bucket: r.c
        for r in df.select("bucket", F.xxhash64("bucket", "i", "s").alias("h"))
        .groupBy("bucket").agg(F.expr("bit_xor(h)").alias("c")).collect()
    }
    for b in range(3):
        assert got[b] == (want_rows[b], direct[b])
    # the row hash covers every column (checksum v2), so XOR-folding the
    # grouped checksums equals XOR-folding the whole table's row hashes
    from functools import reduce
    whole_grouped = reduce(lambda a, b: a ^ b, (c for _, c in got.values()), 0)
    whole_rows = reduce(lambda a, b: a ^ b,
                        (r.h for r in df.select(F.xxhash64(*df.columns).alias("h")).collect()), 0)
    assert whole_grouped == whole_rows
