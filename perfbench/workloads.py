"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``), runs one
whole job through the package's public functions (``job``), checks the last
job's output against an independent DuckDB reference (``check``) and, for
the traced run, times the job's layers from outside (``layers``).

Layer times come from prefix materialisation: the output of each public
call in the job's chain is written to the noop sink in turn, and a layer's
self time is its prefix time minus the time of the prefix it extends.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

import inputs as gen
import reference

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def noop(df) -> None:
    # the noop sink materialises every column; count() would let the
    # optimizer prune the derived ones away
    df.write.format("noop").mode("overwrite").save()


def timed(fn, reps: int = 1) -> float:
    """Median wall time of ``reps`` calls of ``fn``.  A heavy workload's
    prefix passes cost seconds each, so it times them once."""
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def self_times(prefix_s: dict[str, float], parents: dict[str, str]) -> dict[str, float]:
    """Self time of each layer: its prefix time minus the time of the prefix
    it extends (a layer without a parent keeps its prefix time)."""
    return {k: v - prefix_s[parents[k]] if k in parents else v for k, v in prefix_s.items()}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


def sequences(spark, d: str):
    """The north-rule read: token-derived features computed map-side and the
    wide token array dropped before any exchange (as in jobs/northrule_job)."""
    from pyspark.sql import functions as F

    seq = spark.read.parquet(os.path.join(d, "sequences.parquet")).select(
        "doc_id", "entity", "event_time", "n_tok", "source",
        (F.col("n_tok") / F.nullif(F.size("tokens"), F.lit(-1))).alias("tok_ratio"),
        F.xxhash64("tokens").alias("tok_fingerprint"),
    )
    return seq, spark.read.parquet(os.path.join(d, "features.parquet"))


def final_select(df):
    """The north-rule job's output columns (as in jobs/northrule_job.build_job)."""
    from pyspark.sql import functions as F

    return df.select(
        "doc_id", "entity", "event_time", "n_tok", "source",
        "session_id", "hist_n", "f_scalar",
        F.aggregate("f_vec", F.lit(0.0), lambda a, x: a + x).alias("f_vec_sum"),
        "tok_ratio", "tok_fingerprint",
    )


def match_rate(spark, seq, feat) -> float:
    """Share of events the strict as-of join attaches a feature row to."""
    from pyspark.sql import functions as F

    from feathr_online_spark.operators.asof import asof_join

    marked = asof_join(seq, feat, strict=True, match_indicator="__matched")
    return marked.agg(F.avg(F.col("__matched").cast("double"))).first()[0]


class _SequenceInputs:
    """Inputs of the north-rule workloads: ``size`` sequence rows and their
    features, with ``hot_share`` of the rows on one entity."""

    size: int
    hot_share: float | None

    def prepare(self, cache: str, seed: int) -> str:
        return gen.cached(cache, "sequences", seed, self.size, self.hot_share,
                          lambda out: gen.write_sequences(out, seed, self.size, self.hot_share))

    def generate(self, seed: int) -> None:
        gen.sequence_tables(seed, self.size, self.hot_share)

    def rows(self, d: str) -> int:
        return gen.read_meta(d)["rows"]


class AsofPlain(_SequenceInputs):
    name = "asof_plain"
    why = ("fused one-exchange as-of + rolling + sessionize + forward-fill path; "
           "never touches operators.skew or operators.dedup")
    size = 150_000
    hot_share = None  # the generator's own Zipf head, about 25% on one entity
    trace_scaling = True

    def chain(self, spark, d: str):
        from feathr_online_spark.operators.asof import asof_join
        from feathr_online_spark.operators.windows import forward_fill, rolling, sessionize

        seq, feat = sequences(spark, d)
        joined = asof_join(seq, feat, on="entity", left_ts="event_time",
                           right_ts="feature_time", strict=True)
        out = rolling(joined, {"hist_n": ("n_tok", "count")}, rows=16, include_current=False)
        out = sessionize(out, gap_seconds=3600)
        out = forward_fill(out, ["f_scalar"])
        return seq, feat, joined, final_select(out)

    def job(self, spark, d: str, work: str) -> None:
        noop(self.chain(spark, d)[3])

    def check(self, spark, d: str, work: str, last) -> tuple[list[str], dict]:
        """The jobs write to the noop sink, so the check runs one more job
        into parquet."""
        from feathr_online_spark.operators.asof import asof_join, leakage_check

        seq, feat, _, out = self.chain(spark, d)
        path = os.path.join(work, "check_out")
        out.write.mode("overwrite").parquet(path)
        fails, sessions = reference.check_pit(os.path.join(path, "*.parquet"),
                                              os.path.join(d, "sequences.parquet"),
                                              os.path.join(d, "features.parquet"))
        marked = asof_join(seq, feat, strict=True, match_indicator="__matched")
        leaks = leakage_check(marked, feat, matched_col="__matched")
        if leaks:
            fails.append(f"leakage_check found {leaks} violations")
        return fails, {"session_id_mismatches": sessions}

    def layers(self, spark, d: str, work: str, status) -> dict[str, float]:
        reps = 3  # a pass takes about a second
        t_plan = timed(lambda: self.chain(spark, d), reps)
        seq, feat, joined, out = self.chain(spark, d)
        res = self_times(
            {"scan.read_s": timed(lambda: noop(seq), reps),
             "asof.self_s": timed(lambda: noop(joined), reps),
             "windows.self_s": timed(lambda: noop(out), reps)},
            {"asof.self_s": "scan.read_s", "windows.self_s": "asof.self_s"})
        res["job.plan_s"] = t_plan
        res["asof.match_rate"] = match_rate(spark, seq, feat)
        return res


def _load_northrule_job():
    spec = importlib.util.spec_from_file_location(
        "northrule_job", os.path.join(ROOT, "jobs", "northrule_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@contextmanager
def _argv(argv: list[str]):
    saved = sys.argv
    sys.argv = argv
    try:
        yield
    finally:
        sys.argv = saved


class PitJobSkewed(_SequenceInputs):
    name = "pit_job_skewed"
    why = ("production job flow with 90% of rows on one entity: the hot/cold planner "
           "sends most rows through operators.skew; the only workload that writes output")
    # The job costs 14-19 s on 4 cores at any size up to ~150k rows (plan
    # building and per-stage scheduling dominate), so the input stays small.
    size = 30_000
    hot_share = 0.9
    # entities above a tenth of the rows are hot: only the planted one is
    hot_threshold = size // 10
    bucket_seconds = 86_400
    n_buckets = 64  # the job's default
    # a local[1] job would take the traced run past its time limit
    trace_scaling = False

    def __init__(self):
        self._job_mod = None
        self._n = 0
        self._last: str | None = None

    def _job(self):
        if self._job_mod is None:
            self._job_mod = _load_northrule_job()
        return self._job_mod

    def run_job(self, d: str, dest: str) -> None:
        """``jobs/northrule_job.py`` as spark-submit would run it, writing
        output, lineage metrics and manifest under ``dest``."""
        argv = ["northrule_job.py",
                "--sequences", os.path.join(d, "sequences.parquet"),
                "--features", os.path.join(d, "features.parquet"),
                "--output", os.path.join(dest, "out"),
                "--metrics", os.path.join(dest, "metrics"),
                "--manifest", os.path.join(dest, "manifest"),
                "--hot-threshold", str(self.hot_threshold),
                "--bucket-seconds", str(self.bucket_seconds),
                "--n-buckets", str(self.n_buckets)]
        with _argv(argv):
            self._job().main()

    def job(self, spark, d: str, work: str) -> str:
        """Returns the directory of this job's output; only the latest job's
        is kept.  Every job starts from an empty manifest, so none resumes."""
        self._n += 1
        dest = os.path.join(work, f"job{self._n}")
        if self._last:
            shutil.rmtree(self._last, ignore_errors=True)
        self._last = dest
        self.run_job(d, dest)
        return dest

    def check(self, spark, d: str, work: str, dest: str) -> tuple[list[str], dict]:
        """Checks the output, lineage and manifest the last job wrote."""
        import duckdb

        from feathr_online_spark.operators.asof import leakage_check

        seq_path, feat_path = (os.path.join(d, f) for f in ("sequences.parquet", "features.parquet"))
        fails, sessions = reference.check_pit(os.path.join(dest, "out", "*", "*.parquet"),
                                              seq_path, feat_path)
        with duckdb.connect() as con:
            lineage_rows = con.execute(
                "SELECT sum(rows) FROM read_parquet($p, hive_partitioning = true)",
                {"p": os.path.join(dest, "metrics", "*", "*.parquet")}).fetchone()[0]
            marked, want = con.execute(
                "SELECT (SELECT count(DISTINCT bucket) FROM read_parquet($m)),"
                " (SELECT count(DISTINCT entity % $n) FROM read_parquet($s))",
                {"m": os.path.join(dest, "manifest", "*.parquet"), "s": seq_path,
                 "n": self.n_buckets}).fetchone()
        if lineage_rows != self.rows(d):
            fails.append(f"lineage counts {lineage_rows} rows, input has {self.rows(d)}")
        if marked != want:
            fails.append(f"manifest marks {marked} buckets, input has {want}")
        # a forward-filled f_scalar still comes from a feature row older
        # than the event, so the check applies to the job's own output
        leaks = leakage_check(spark.read.parquet(os.path.join(dest, "out")),
                              spark.read.parquet(feat_path), match_cols=["f_scalar"])
        if leaks:
            fails.append(f"leakage_check found {leaks} violations")
        return fails, {"session_id_mismatches": sessions}

    def _enrich(self, seq, feat, threshold: int):
        from feathr_online_spark.operators.pit import pit_enrich

        return pit_enrich(seq, feat,
                          rolling_spec={"name": "hist_n", "col": "n_tok", "fn": "count", "rows": 16},
                          session_gap=3600, ffill_cols=["f_scalar"],
                          hot_threshold=threshold, bucket_seconds=self.bucket_seconds)

    def layers(self, spark, d: str, work: str, status) -> dict[str, float]:
        from pyspark.sql import functions as F

        from feathr_online_spark.operators.asof import asof_join
        from feathr_online_spark.operators.pit import hot_entities
        from feathr_online_spark.operators.windows import forward_fill, rolling, sessionize
        from feathr_online_spark.plans.checkpoint import bucket_of, mark_done
        from feathr_online_spark.plans.lineage import partition_lineage

        t = timed
        seq, feat = sequences(spark, d)
        hot = F.broadcast(hot_entities(seq, "entity", self.hot_threshold))
        ev_hot, ft_hot = seq.join(hot, "entity", "left_semi"), feat.join(hot, "entity", "left_semi")
        ev_cold, ft_cold = seq.join(hot, "entity", "left_anti"), feat.join(hot, "entity", "left_anti")
        t_scan = t(lambda: noop(seq)) + t(lambda: noop(feat))
        t_detect = t(lambda: hot.collect())
        # the hot rows through pit_enrich itself, with a threshold that routes
        # all of them to its bucketed path, so the trace follows its planner
        sc = spark.sparkContext
        sc.setJobGroup("trace-skew", "hot branch")
        t0 = time.perf_counter()
        noop(self._enrich(ev_hot, ft_hot, threshold=0))
        t_hot = time.perf_counter() - t0
        skew = status.counters("trace-skew", t_hot)
        sc.setJobGroup("trace-layers", "layers")
        # the cold branch as pit_enrich's plain path runs it, one call at a time
        cold_joined = asof_join(ev_cold, ft_cold, strict=True)
        cold = forward_fill(sessionize(rolling(cold_joined, {"hist_n": ("n_tok", "count")},
                                               rows=16, include_current=False), 3600),
                            ["f_scalar"])
        t_cold_asof = t(lambda: noop(cold_joined))
        t_cold = t(lambda: noop(cold))
        n_hot = ev_hot.count()

        # the job's write-side steps, in jobs/northrule_job.main's order,
        # replayed on the output the traced job wrote (so the write pass also
        # reads it back, a small share of its time)
        written = spark.read.parquet(os.path.join(self._last, "out"))
        dest = os.path.join(work, "trace")
        t0 = time.perf_counter()
        done = sorted(r[0] for r in seq.select(bucket_of("entity", self.n_buckets).alias("bucket"))
                      .distinct().collect())
        t_buckets = time.perf_counter() - t0

        def write():
            (written.repartition(F.col("bucket")).sortWithinPartitions("entity", "event_time")
             .write.mode("overwrite").partitionBy("bucket").parquet(os.path.join(dest, "out")))

        def lineage():
            this_run = spark.read.parquet(os.path.join(dest, "out")).where(F.col("bucket").isin(done))
            (partition_lineage(this_run, by="bucket").write.mode("overwrite")
             .partitionBy("bucket").parquet(os.path.join(dest, "metrics")))

        def manifest():
            shutil.rmtree(os.path.join(dest, "manifest"), ignore_errors=True)
            mark_done(spark, os.path.join(dest, "manifest"), done, run_id="trace")

        # both branches start from the hot-entity detection; the cold
        # branch's windows extend its as-of join
        res = self_times(
            {"pit.hot_detect_s": t_detect, "skew.self_s": t_hot,
             "asof.self_s": t_cold_asof, "windows.self_s": t_cold},
            {"skew.self_s": "pit.hot_detect_s", "asof.self_s": "pit.hot_detect_s",
             "windows.self_s": "asof.self_s"})
        res.update({
            "asof.match_rate": match_rate(spark, seq, feat),
            "scan.read_s": t_scan,
            "pit.hot_row_share": n_hot / self.rows(d),
            "skew.exchanges": skew["spark.shuffle_stages"],
            "skew.shuffle_bytes": skew["spark.shuffle_write_bytes"],
            "job.write_s": t(write),
            "job.write_bytes": float(dir_bytes(os.path.join(dest, "out"))),
            "plans.lineage_s": t(lineage),
            "plans.manifest_s": t_buckets + t(manifest),
        })
        shutil.rmtree(dest, ignore_errors=True)
        return res


class CorpusDedup:
    name = "corpus_dedup"
    why = ("near-dup pairs, clusters and corpus prep over a seeded corpus: operators.dedup "
           "and operators.text do the work, the PIT layers sit idle")
    # Each of the five calls costs about 1.7 s on 4 cores at this size, most
    # of it per-stage overhead.
    size = 400  # documents
    trace_scaling = True

    def prepare(self, cache: str, seed: int) -> str:
        return gen.cached(cache, "corpus", seed, self.size, None,
                          lambda out: gen.write_corpus(out, seed, self.size))

    def generate(self, seed: int) -> None:
        gen.corpus_table(seed, self.size)

    def rows(self, d: str) -> int:
        return gen.read_meta(d)["rows"]

    def calls(self, spark, d: str) -> tuple[dict, object]:
        """Name → zero-argument function building that call's output, in
        the job's order, plus the n-gram pairs frame to unpersist after.
        The pairs are persisted when first computed and clustered from the
        cache, as a pipeline that reports and clusters them would."""
        from feathr_online_spark.operators.dedup import (
            dedup_clusters, minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs)
        from feathr_online_spark.operators.prep import prepare_corpus

        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5).persist()
        return {
            "ngram": lambda: pairs,
            "minhash": lambda: minhash_lsh_pairs(docs, "text", "doc_id", n=3, k=128, bands=32,
                                                 threshold=0.5),
            "simhash": lambda: simhash_pairs(docs, "text", "doc_id", max_hamming=6),
            "clusters": lambda: dedup_clusters(pairs),
            "prepare_corpus": lambda: prepare_corpus(
                docs, "text", "doc_id", langs=("en",), min_quality_bp=6500
            ).select("doc_id", "lang_pred", "quality_bp"),
        }, pairs

    def job(self, spark, d: str, work: str) -> dict:
        """Collects every call's output (pairs, clusters and the kept
        documents are small) as Arrow tables."""
        calls, pairs = self.calls(spark, d)
        try:
            return {name: build().toArrow() for name, build in calls.items()}
        finally:
            pairs.unpersist()

    def check(self, spark, d: str, work: str, got: dict) -> tuple[list[str], dict]:
        return reference.check_dedup(os.path.join(d, "documents.parquet"), got), {}

    def layers(self, spark, d: str, work: str, status) -> dict[str, float]:
        from pyspark.sql import functions as F

        from feathr_online_spark.operators.text import words

        t = timed
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        calls, pairs = self.calls(spark, d)
        try:
            # collected like the job collects them
            call_s = {name: t(lambda b=build: b().toArrow()) for name, build in calls.items()}
            n_pairs = pairs.count()
        finally:
            pairs.unpersist()
        t_scan = t(lambda: noop(docs))
        return {
            "scan.read_s": t_scan,
            "text.words_s": t(lambda: noop(docs.select(words(F.lower("text"))))) - t_scan,
            "dedup.ngram_s": call_s["ngram"],
            "dedup.minhash_s": call_s["minhash"],
            "dedup.simhash_s": call_s["simhash"],
            "dedup.clusters_s": call_s["clusters"],
            "text.prepare_corpus_s": call_s["prepare_corpus"],
            "dedup.pairs": float(n_pairs),
        }


WORKLOADS = {w.name: w for w in (AsofPlain, PitJobSkewed, CorpusDedup)}

# Layer self times that add up to one job, per workload (for the coverage
# share); the other layer metrics are nested inside these.
COVERING = {
    "asof_plain": ["job.plan_s", "scan.read_s", "asof.self_s", "windows.self_s"],
    "pit_job_skewed": ["scan.read_s", "pit.hot_detect_s", "skew.self_s", "asof.self_s",
                       "windows.self_s", "job.write_s", "plans.lineage_s", "plans.manifest_s"],
    "corpus_dedup": ["dedup.ngram_s", "dedup.minhash_s", "dedup.simhash_s",
                     "dedup.clusters_s", "text.prepare_corpus_s"],
}
