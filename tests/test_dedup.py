"""Dedup operators: exact, n-gram Jaccard, MinHash LSH, SimHash — with planted
duplicates so expected outputs are known."""

import pytest
from pyspark.sql import functions as F

from feathr_online_spark.operators.dedup import (
    exact_dedup,
    exact_dup_stats,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from feathr_online_spark.operators.text import shingles


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "on the warm windowsill in the afternoon sun near the garden"
)
NEAR = BASE.replace("lazy", "sleepy")  # one-word edit → high trigram jaccard
OTHER = "completely different content about spark query engines and shuffles etc etc etc etc etc"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),          # exact dup of 1
        (3, "  THE quick   brown fox jumps over the lazy dog while the cat sleeps "
            "on the warm windowsill in the afternoon sun near the garden "),  # normalized dup of 1
        (4, NEAR),          # near dup of 1
        (5, OTHER),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingles(spark):
    df = spark.createDataFrame([(["a", "b", "c", "d"],)], "w array<string>")
    got = df.select(shingles(F.col("w"), 3).alias("s")).collect()[0]["s"]
    assert got == ["a b c", "b c d"]
    # shorter than n → empty
    df2 = spark.createDataFrame([(["a", "b"],)], "w array<string>")
    assert df2.select(shingles(F.col("w"), 3).alias("s")).collect()[0]["s"] == []


def test_exact_dedup(docs):
    kept = exact_dedup(docs, "text", "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 4, 5]  # 2 and 3 collapse into 1


def test_exact_dup_stats(docs):
    row = exact_dup_stats(docs, "text").collect()[0]
    assert (row.n_docs, row.n_unique) == (5, 3)


def test_ngram_jaccard_pairs(docs):
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    got = {(r.a, r.b): r.jaccard for r in pairs.collect()}
    # exact/normalized dups have jaccard 1.0; near-dup pair well above 0.5
    assert got[(1, 2)] == 1.0 and got[(1, 3)] == 1.0 and got[(2, 3)] == 1.0
    assert got[(1, 4)] > 0.5 and got[(2, 4)] > 0.5
    assert not any(5 in p for p in got)


def test_minhash_matches_exact_jaccard(docs):
    exact = {(r.a, r.b): r.jaccard for r in
             ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()}
    mh = {(r.a, r.b): r.jaccard for r in
          minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).collect()}
    assert mh == exact  # LSH recall ≈ 1 at this jaccard level; verify step is exact


def test_dedup_clusters_transitive(spark):
    """A~B, B~C, D~E → clusters {A,B,C} and {D,E}; chain of length 4 needs
    multiple propagation rounds."""
    from feathr_online_spark.operators.dedup import dedup_clusters, dedup_survivors

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"
    )
    got = {r.id: r.cluster for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i, f"t{i}") for i in [1, 2, 3, 4, 7, 10, 11]],
                                 "doc_id long, text string")
    kept = dedup_survivors(docs, pairs, "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 7, 10]


def test_end_to_end_dedup_pipeline(docs):
    """pairs → clusters → survivors over the planted-dup fixture: docs 2,3,4
    all collapse into doc 1 (2,3 exact/normalized; 4 near-dup)."""
    from feathr_online_spark.operators.dedup import dedup_survivors

    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).select("a", "b")
    kept = dedup_survivors(docs, pairs, "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 5]


def test_simhash_pairs(docs):
    got = {(r.a, r.b): r.hamming for r in simhash_pairs(docs, "text", "doc_id", max_hamming=6).collect()}
    # exact/normalized dups → identical simhash (hamming 0)
    assert got[(1, 2)] == 0 and got[(1, 3)] == 0
    # near dup → small hamming
    assert got[(1, 4)] <= 6
    # unrelated doc must not pair with anything
    assert not any(5 in p for p in got)


def test_contamination_stats_and_decontaminate(spark):
    from feathr_online_spark.operators.dedup import contamination_stats, decontaminate

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different words entirely unrelated content here"),
         (3, "short doc")],                      # < 3 words after split? 2 words → no shingles
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(100, "quick brown fox jumps over a fence")],
        "doc_id long, text string",
    )
    stats = {r.id: (r.n_contaminated, r.contaminated)
             for r in contamination_stats(train, evalset, "text", "doc_id").collect()}
    # doc 1 shares 'quick brown fox' + 'brown fox jumps' with the eval doc
    assert stats[1][0] >= 2 and stats[1][1]
    assert stats[2] == (0, False)
    assert stats[3] == (0, False)                # shingle-less doc kept, not dropped
    out = decontaminate(train, evalset, "text", "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [2, 3]


def test_prepare_corpus_composition(spark):
    from feathr_online_spark.operators.dedup import ngram_jaccard_pairs
    from feathr_online_spark.operators.prep import prepare_corpus

    base = ("the cat sat on the mat and it was a good day for sitting on mats "
            "with a cat that sat")
    docs = spark.createDataFrame(
        [(1, base),                          # survivor of the near-dup pair
         (2, base + " indeed"),              # near-dup of 1 → dropped
         (3, base),                          # exact dup of 1 → dropped
         (4, "der hund ist nicht mit der katze und das ist gut so ja")],  # German → dropped
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    out = prepare_corpus(docs, "text", "doc_id", langs=("en",),
                         min_quality_bp=0, near_dup_pairs=pairs)
    assert sorted(r.doc_id for r in out.collect()) == [1]


def test_numpy_kernels_bit_identical(spark, docs):
    """r6 internals: the numpy MinHash-signature and simhash kernels must be
    bit-identical to the JVM Column forms they replaced — including across
    Arrow batch boundaries (tiny maxRecordsPerBatch exercises the simhash
    per-partition carry)."""
    from feathr_online_spark.operators.dedup import (
        _doc_frame,
        _minhash_sigs_pd,
        _widen,
        minhash_signature,
        simhash64,
    )

    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        sh = _doc_frame(docs, "text", "doc_id", 3).filter(F.col("sz") > 0)
        jvm_sig = {r.id: list(r.sig) for r in
                   sh.select("id", minhash_signature(F.col("shingles"), 32).alias("sig")).collect()}
        np_sig = {r.id: list(r.sig) for r in _minhash_sigs_pd(sh, 32).collect()}
        assert np_sig == jvm_sig

        # JVM reference simhash: explode + 64 conditional vote sums
        w = _widen(docs).select(F.col("doc_id").alias("id"),
                                F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"))
        h = w.filter(F.col("w") != "").select("id", F.xxhash64("w").alias("h"))
        votes = [F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                        .otherwise(-1)).alias(f"v{i}") for i in range(64)]
        agg = h.groupBy("id").agg(*votes)
        sim = F.lit(0).cast("long")
        for i in range(64):
            bit = F.shiftleft(F.lit(1).cast("long"), i)
            sim = sim.bitwiseOR(F.when(F.col(f"v{i}") > 0, bit).otherwise(F.lit(0).cast("long")))
        ref = {r.id: r.s for r in agg.select("id", sim.alias("s")).collect()}
        got = {r.id: r.simhash for r in simhash64(docs, "text", "doc_id").collect()}
        assert got == ref
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)


def test_sq8_kernel_rounds_exact_halves_like_spark(spark):
    """The numpy SQ8 kernel of knn_bruteforce_quantized must round an exact
    x/scale = k + 0.5 half up (away from zero), as Spark's round in
    quantize_vectors does — not half to even as np.round would.  Vectors
    have norm 128 (a power of two) so unit-normalizing is exact, scale is
    exactly 1/128 and x/scale is exactly the listed value."""
    import numpy as np

    from feathr_online_spark.operators.similarity import (
        _blocked_knn_cand,
        dot_quantized,
        quantize_vectors,
    )

    raw = [[127, 0.5, 1.5, 2.5, -2.5, 8, 8, 8, 4, 4, 4],
           [0.5, -127, -0.5, 3.5, 8, -8, 8, 4, 4, -4, 1.5],
           [4, 4, 4, 8, 8, 8, -2.5, 2.5, 1.5, 0.5, 127]]
    vecs = [[x / 128 for x in v] for v in raw]
    for v in vecs:
        assert sum(x * x for x in v) == 1.0
    # the fixture really hits k + 0.5, and there the two rounding rules differ
    ratios = np.array([x / (max(abs(y) for y in v) / 127.0) for v in vecs for x in v])
    halves = ratios[np.abs(ratios) % 1 == 0.5]
    assert len(halves) >= 4
    assert (np.round(halves) != np.copysign(np.floor(np.abs(halves) + 0.5), halves)).any()

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], "id long, v array<double>")
    got = {(r.qid, r.cid): r.dot for r in _blocked_knn_cand(
        df.selectExpr("id AS qid", "v AS qv"), df, len(vecs), "qid", "qv", "id", "v",
        quantized=True).collect()}
    q = quantize_vectors(df, "v")
    ref = {(r.qid, r.cid): r.dot for r in q.alias("c").crossJoin(q.alias("q")).select(
        F.col("q.id").alias("qid"), F.col("c.id").alias("cid"),
        dot_quantized(F.col("c.q_vec8"), F.col("c.q_scale"),
                      F.col("q.q_vec8"), F.col("q.q_scale")).alias("dot")).collect()}
    assert got == ref


@pytest.mark.parametrize("call", ["knn_bruteforce", "knn_bruteforce_quantized",
                                  "embedding_topk_pairs", "minhash_lsh_pairs",
                                  "simhash64", "simhash_pairs"])
def test_non_integral_ids_rejected(spark, call):
    """The public entries of the numpy kernels reject a string id column up
    front, naming it, instead of failing or casting inside an executor."""
    from feathr_online_spark.operators import dedup, similarity

    emb = spark.createDataFrame([("x", [1.0, 0.0])], "vec_id string, embedding array<double>")
    qs = emb.selectExpr("vec_id AS q_id", "embedding AS q_vec")
    txt = spark.createDataFrame([("x", "one two three four")], "doc_id string, text string")
    calls = {
        "knn_bruteforce": lambda: similarity.knn_bruteforce(qs, emb),
        "knn_bruteforce_quantized": lambda: similarity.knn_bruteforce_quantized(qs, emb),
        "embedding_topk_pairs": lambda: similarity.embedding_topk_pairs(emb),
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(txt, "text", "doc_id"),
        "simhash64": lambda: dedup.simhash64(txt, "text", "doc_id"),
        "simhash_pairs": lambda: dedup.simhash_pairs(txt, "text", "doc_id"),
    }
    with pytest.raises(ValueError, match="'(q_id|vec_id|doc_id)'.*integral"):
        calls[call]()


def test_minhash_verify_broadcasts_no_shingle_arrays(docs):
    """The MinHash verify broadcasts only bare candidate keys: no broadcast
    exchange outputs an array column, in the plan as planned nor in AQE's
    final plan after it ran."""
    from tools.plan_shape import broadcast_outputs

    pairs = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5)
    planned = broadcast_outputs(pairs)
    pairs.collect()
    final = broadcast_outputs(pairs)
    assert planned and final          # the candidate keys are broadcast
    for cols in planned + final:
        assert "array" not in cols.values(), cols
