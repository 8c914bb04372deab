"""Similarity search: brute-force exactness, LSH recall, pair search."""

import math

import pytest
from pyspark.sql import functions as F

from feathr_online_spark.operators.similarity import (
    cosine,
    embedding_topk_pairs,
    knn_bruteforce,
    knn_lsh,
)


@pytest.fixture(scope="module")
def corpus(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((100, 16)).astype("float32")
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def queries(corpus):
    return corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


def test_cosine_column(spark):
    df = spark.createDataFrame([([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])],
                               "a array<double>, b array<double>")
    got = [r.c for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got[0] == pytest.approx(1.0)
    assert got[1] == pytest.approx(0.0, abs=1e-12)


def test_bruteforce_exact_vs_numpy(corpus, queries):
    import numpy as np

    out = knn_bruteforce(queries, corpus, k=5)
    got = {(r.q_id, r.rank): (r.neighbor_id, r.cos_sim) for r in out.collect()}

    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in corpus.collect()}
    for q in range(3):
        qv = vecs[q]
        sims = sorted(
            ((round(float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), 6), -i) for i, v in vecs.items()),
            reverse=True,
        )
        for rank in range(1, 6):
            c, negi = sims[rank - 1]
            assert got[(q, rank)][0] == -negi
            assert got[(q, rank)][1] == pytest.approx(c, abs=1e-6)
    # self is always rank 1 with cos 1.0
    assert got[(0, 1)] == (0, pytest.approx(1.0))


def test_lsh_recall(corpus, queries):
    exact = knn_bruteforce(queries, corpus, k=10)
    approx = knn_lsh(queries, corpus, k=10, n_planes=4)
    e = {(r.q_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.q_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3  # 4 planes / 16 buckets on random data — sanity bound
    # every LSH result must be a real corpus vector with correct cosine sign conventions
    assert all(r.rank >= 1 for r in approx.collect())


@pytest.mark.parametrize("multiprobe", [0, 1, 2])
def test_probe_buckets_multiprobe_contract(spark, multiprobe):
    """``multiprobe=L`` probes exactly the buckets within L sign flips of
    the query's own: 1, n+1 and 1 + n + n(n-1)/2 distinct buckets."""
    from feathr_online_spark.operators.similarity import _probe_buckets

    n, b0 = 8, 0b10110010
    row = spark.createDataFrame([(b0,)], "b0 long").select(
        _probe_buckets(F.col("b0"), n, multiprobe).alias("p")).first()
    probes = set(row.p)
    assert len(probes) == [1, n + 1, 1 + n + n * (n - 1) // 2][multiprobe]
    assert len(probes) == len(row.p)
    assert all(bin(p ^ b0).count("1") <= multiprobe for p in probes)
    assert b0 in probes


def test_ivf_recall_on_clustered_data(spark):
    """IVF shines on clustered corpora: recall vs brute force must be high
    when queries sit in well-separated clusters."""
    import numpy as np

    rng = np.random.default_rng(8)
    centers = rng.standard_normal((8, 16)) * 6
    vecs = np.vstack([c + rng.standard_normal((50, 16)) * 0.4 for c in centers])
    corpus = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.filter(F.col("vec_id").isin(0, 55, 110)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    from feathr_online_spark.operators.similarity import knn_ivf

    exact = knn_bruteforce(queries, corpus, k=10)
    approx = knn_ivf(queries, corpus, k=10, n_cells=8, n_probe=2)
    e = {(r.q_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.q_id, r.neighbor_id) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.9
    # self is rank 1 in the approximate result too
    firsts = {r.q_id: r.neighbor_id for r in approx.collect() if r.rank == 1}
    assert firsts == {0: 0, 55: 55, 110: 110}


def test_topk_pairs(corpus):
    out = embedding_topk_pairs(corpus, k=10)
    rows = out.collect()
    assert len(rows) == 10
    assert all(r.a < r.b for r in rows)
    sims = [r.cos_sim for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_embedding_lsh_pairs_planted_dups(spark, tmp_path):
    """The LSH-bucketed near-dup pair path: catches ≥90% of planted
    near-duplicates (cos ≈ 0.999) and reports NOTHING else (precision 1.0 —
    every candidate is exact-verified)."""
    from feathr_online_spark.operators.similarity import (
        embedding_lsh_pairs,
        write_embedding_fixture,
    )

    path = str(tmp_path / "emb.parquet")
    write_embedding_fixture(path, n_base=256, n_dups=32, dim=64)
    emb = spark.read.parquet(path)
    got = embedding_lsh_pairs(emb, threshold=0.99, dim=64).collect()
    planted = {(i, 256 + i) for i in range(32)}
    found = {(r.a, r.b) for r in got}
    assert found <= planted                      # nothing but planted pairs
    assert len(found) >= 0.9 * len(planted)      # recall ≥ 0.9
    assert all(r.cos_sim >= 0.99 for r in got)


def test_quantize_roundtrip_and_dot(spark):
    """SQ8 quantization: values reconstruct within scale/2 per component and
    the integer dot approximates the float dot to ~1e-2 on unit vectors."""
    import numpy as np
    from pyspark.sql import functions as F

    from feathr_online_spark.operators.similarity import (
        dot_quantized,
        normalized,
        quantize_vectors,
    )

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((50, 32))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    q = quantize_vectors(df, "embedding")
    row = q.filter(F.col("vec_id") == 0).collect()[0]
    rec = np.array(row.q_vec8, dtype=float) * row.q_scale
    assert np.abs(rec - vecs[0]).max() <= row.q_scale / 2 + 1e-12
    # pairwise quantized dot vs exact float dot
    a = q.select(F.col("vec_id").alias("a"), F.col("q_vec8").alias("qa"),
                 F.col("q_scale").alias("sa"), F.col("embedding").alias("va"))
    b = q.select(F.col("vec_id").alias("b"), F.col("q_vec8").alias("qb"),
                 F.col("q_scale").alias("sb"), F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("a") < F.col("b")).select(
        dot_quantized(F.col("qa"), F.col("sa"), F.col("qb"), F.col("sb")).alias("dq"),
        F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                    F.lit(0.0), lambda acc, v: acc + v).alias("dx"))
    mx = pairs.agg(F.max(F.abs(F.col("dq") - F.col("dx")))).collect()[0][0]
    assert mx < 0.02


def test_quantized_bruteforce_matches_exact_top1(spark):
    """On a corpus with a planted exact duplicate, the quantized scan must
    rank it first, like the float scan."""
    import numpy as np
    from pyspark.sql import functions as F

    from feathr_online_spark.operators.similarity import (
        knn_bruteforce,
        knn_bruteforce_quantized,
    )

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((100, 16))
    vecs[7] = vecs[3]          # exact duplicate pair
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(3, [float(x) for x in vecs[3]])], "q_id long, q_vec array<double>")
    for fn in (knn_bruteforce, knn_bruteforce_quantized):
        top = fn(queries, corpus, k=3).filter(F.col("rank") <= 2)
        ids = {r.neighbor_id for r in top.collect()}
        assert ids == {3, 7}
