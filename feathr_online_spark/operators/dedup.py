"""Deduplication for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine.

Scale design notes (the point of each variant):

- **exact**: one md5-keyed groupBy — a single shuffle of (hash, id) pairs,
  never of document bodies.
- **ngram_jaccard_pairs**: candidate generation by inverted index (explode
  shingles → self-join on shingle) with a document-frequency cap dropping
  stop-shingles — without the cap a hot shingle produces O(df²) candidate
  pairs and kills the join at scale.  Exact Jaccard verifies candidates.
- **minhash_lsh_pairs**: the 100 TB path — signature size k, b bands; only
  documents agreeing on a whole band collide, so candidate count is driven by
  the (b, r) S-curve, not by corpus size.  Bands are banded-hash rows in an
  exploded table; the bucket self-join is an equi-join Catalyst handles with
  AQE skew splitting.
- **simhash_pairs**: 64-bit simhash; Hamming ≤ d pairs found by the
  pigeonhole band trick ((d+1) chunks, at least one must match exactly).
- embedding-cosine near-dup lives in operators/similarity.py.

All hashing is JVM xxhash64; shingling and banding are higher-order array
functions.  The MinHash signature sweep and the SimHash bit vote run as
vectorized numpy in ``mapInPandas`` (bit-identical to the JVM forms), so
their ids must be integral.  Every near-dup operator starts from one
per-document frame (``_doc_frame``) and both pair paths keep a pair by one
exact-Jaccard rule (``_jaccard_pairs``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feathr_online_spark.operators.similarity import _require_integral_id, _shuffle_width
from feathr_online_spark.operators.text import content_fingerprint, shingles, words


# ---------------------------------------------------------------------------
# The per-document frame and the Jaccard rule
# ---------------------------------------------------------------------------

def _widen(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's shuffle width.

    The dedup pipelines are CPU-dense but byte-light (a 5 k-doc parquet is one
    scan partition; AQE then coalesces every downstream shuffle back to one
    task because the *bytes* are small).  An explicit repartition pins the
    parallelism — at real scale the input is already wide and this is a
    no-op-cost safety, locally it is the difference between 1 and 32 cores.
    """
    return df.repartition(_shuffle_width(df))


def _doc_frame(df: DataFrame, text_col: str, id_col: str, n: int | None = None,
               widen: bool = True) -> DataFrame:
    """The per-document frame of every near-dup operator: (id, text)
    projected BEFORE the widening repartition, so no other column rides
    that exchange, then tokenized as ``words(lower(text))``.  ``n=None`` →
    (id, w), the token array; otherwise (id, shingles, sz): the distinct
    xxhash64 hashes of the word n-gram shingles and their count.  Every
    comparison, join and MinHash then works on 8-byte longs (64-bit
    collisions are ~n²/2⁶⁵); Jaccard over the hashes equals that over the
    strings."""
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    if widen:
        base = _widen(base)
    w = words(F.lower(F.col("__t")))
    if n is None:
        return base.select("id", w.alias("w"))
    sh = F.array_distinct(F.transform(shingles(w, n, distinct=False), lambda s: F.xxhash64(s)))
    return base.select("id", sh.alias("shingles")).withColumn("sz", F.size("shingles"))


def _jaccard_pairs(pairs: DataFrame, inter: Column, size_a: Column, size_b: Column,
                   threshold: float) -> DataFrame:
    """(a, b, jaccard) rows of ``pairs`` with
    ``round(inter / (|A| + |B| - inter), 4) >= threshold`` — exact Jaccard
    of two distinct sets from their intersection size and their sizes."""
    j = F.round(inter / (size_a + size_b - inter), 4)
    return pairs.select("a", "b", j.alias("jaccard")).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct normalized content (min id wins).  Returns
    the surviving rows.  Shuffle payload is only (fingerprint, id)."""
    fp = df.select(content_fingerprint(F.col(text_col)).alias("__fp"), F.col(id_col))
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    return df.join(keep, id_col, "left_semi")


def exact_dup_stats(df: DataFrame, text_col: str, by: str | None = None) -> DataFrame:
    """(group, n_docs, n_unique) dedup statistics."""
    fp = content_fingerprint(F.col(text_col))
    keys = [by] if by else []
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fp).alias("n_unique"),
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup (inverted index + exact verify)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 100_000,
) -> DataFrame:
    """All (a, b, jaccard) pairs with word-n-gram Jaccard ≥ threshold, a < b.

    Count-based exact algorithm — no per-pair array work:
    |A∩B| IS the number of co-occurrences in the inverted-index self-join
    (shingle sets are distinct per doc), so the Jaccard rule
    (``_jaccard_pairs``) comes from one groupBy over the join — the shuffle
    carries only (a, b) id pairs, never shingle arrays.  ~30× faster than
    verify-by-array-intersection at sf0.1 and the only shape that scales:
    per-pair state is one counter.

    ``max_df`` drops stop-shingles (df > cap) before pair expansion — a hot
    shingle contributes O(df²) candidate rows.  With a cap the computed
    ``inter`` undercounts pairs whose overlap includes capped shingles
    (jaccard is then a lower bound; recall at the threshold requires the pair
    to share enough rare shingles — at web scale this is the standard trade;
    default cap is effectively off for test-sized corpora).

    The input is projected to (id, text) before the widening repartition, so
    no other column rides that exchange (−15% measured in r6).  Two tempting
    "improvements" were measured and REJECTED on the 50k-doc corpus (same-JVM
    A/B, min-of-2): carrying (sza, szb) through the self-join to kill the
    post-aggregation size joins widens the ~10⁸-row pair exchange from 16 to
    32 bytes/row — 24 → 68 s; and replacing the self-join with a per-shingle
    collect_list + array-expression pair expansion moves the bucket cross
    product from codegen'd join machinery into interpreted HOF eval, which is
    quadratic per HOT shingle (a boilerplate 3-gram shared by thousands of
    docs) and took minutes.  The self-join does NOT re-run the shingling: both
    sides read one ReusedExchange of the same repartition.
    """
    sh = _doc_frame(df, text_col, id_col, n)
    # (A high-threshold prefix-filter path — Bayardo-style all-pairs over a
    # hash-order prefix index with full-set verify — was measured and
    # REJECTED at t=0.8: the array-intersect verify over the candidate set
    # loses to the count-based aggregate, 21 → 29 s at sf1.0.)
    inv = sh.select("id", F.explode("shingles").alias("s")).repartition("s")
    rare = inv.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= max_df)
    inv = inv.join(rare.select("s"), "s", "left_semi")
    inter = (
        inv.alias("x")
        .join(inv.alias("y"), (F.col("x.s") == F.col("y.s")) & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        # explicit exchange: the (a, b) pair space is large but byte-small —
        # AQE would coalesce the groupBy reduce stage to ~1 task otherwise
        .repartition(_shuffle_width(df), "a", "b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sizes = sh.select("id", "sz")
    j = (
        inter.join(sizes.withColumnsRenamed({"id": "a", "sz": "__sza"}), "a")
        .join(sizes.withColumnsRenamed({"id": "b", "sz": "__szb"}), "b")
    )
    return _jaccard_pairs(j, F.col("__inter"), F.col("__sza"), F.col("__szb"), threshold)


def _colliding_pairs(rows: DataFrame, part: str, key: str, carry: str | None = None) -> DataFrame:
    """Distinct (a, b) id pairs, a < b, of the ``rows`` that agree on
    (``part``, ``key``) — a MinHash (band, bucket) or a SimHash (chunk,
    key).  ``carry`` also brings that column from both sides as (ha, hb).

    A SELF-join: both sides read ONE ReusedExchange of ``rows`` (the
    signature pass before it is not duplicated), and the cross product per
    key runs inside codegen'd join machinery — an interpreted posting-list
    expansion was tried and loses badly on hot keys.  No explicit
    repartition: a user-specified distribution would be preserved by AQE
    and disable its skew-join splitting, which is exactly what protects the
    hot keys."""
    cols = [F.col("x.id").alias("a"), F.col("y.id").alias("b")]
    if carry is not None:
        cols += [F.col(f"x.{carry}").alias("ha"), F.col(f"y.{carry}").alias("hb")]
    return (
        rows.alias("x")
        .join(
            rows.alias("y"),
            (F.col(f"x.{part}") == F.col(f"y.{part}"))
            & (F.col(f"x.{key}") == F.col(f"y.{key}"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(*cols)
        .distinct()
    )


def _verify_jaccard(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Keep the candidate (a, b) pairs whose exact Jaccard passes the rule.
    Only the bare candidate keys are broadcast; each side's shingle sets
    stream past them, and the two halves meet in a sort-merge join on
    (a, b) — hinted, so AQE cannot demote it to a broadcast of shingle
    arrays (|candidates| × set size, unbounded)."""
    keys = F.broadcast(cand.select("a", "b"))
    sa = sh.select(F.col("id").alias("a"), F.col("shingles").alias("__sa"),
                   F.col("sz").alias("__sza")).join(keys, "a")
    sb = sh.select(F.col("id").alias("b"), F.col("shingles").alias("__sb"),
                   F.col("sz").alias("__szb")).join(keys, "b")
    j = sa.hint("merge").join(sb, ["a", "b"])
    inter = F.size(F.array_intersect("__sa", "__sb"))
    return _jaccard_pairs(j, inter, F.col("__sza"), F.col("__szb"), threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_params(k: int, seed: int = 97531) -> list[tuple[int, int]]:
    """Deterministic (a, b) affine constants; a odd so x → a·x+b is a
    bijection on the 64-bit wrap-around ring."""
    import random

    r = random.Random(seed)
    return [(r.getrandbits(63) | 1, r.getrandbits(63)) for _ in range(k)]


def _require_non_ansi() -> None:
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None and spark.conf.get("spark.sql.ansi.enabled", "false").lower() == "true":
        raise RuntimeError(
            "minhash_signature requires spark.sql.ansi.enabled=false: its affine "
            "permutations rely on 64-bit wrap-around multiply-add, which ANSI mode "
            "rejects as ARITHMETIC_OVERFLOW. Build the session via "
            "feathr_online_spark.session.get_spark() or set the conf explicitly."
        )


def minhash_signature(shingle_arr: Column, k: int = 128) -> Column:
    """k-permutation MinHash signature over ALREADY-HASHED shingles (longs,
    see _doc_frame): permutation i is the affine map
    ``x → a_i·x + b_i`` on the wrap-around 64-bit ring (a_i odd → bijective),
    the datasketch-style construction.  One multiply-add per (element, perm)
    instead of one xxhash64 — measured 2.3× faster end-to-end at sf0.1 —
    with identical LSH behaviour (equal sets ⇒ equal signatures; banding
    collision probability follows the same S-curve).

    Array of k longs, all JVM-side (whole-stage codegen'd arithmetic).

    NB: the per-perm closure must be built by a factory — a ``lambda s, i=i``
    default arg makes PySpark treat the function as the 2-arg (element, index)
    transform variant, silently replacing the constant with the array index."""
    _require_non_ansi()
    params = _minhash_params(k)

    def perm(a: int, b: int):
        # non-ANSI long arithmetic wraps like Java: the wrap-around ring the
        # permutation lives on (ANSI mode would raise ARITHMETIC_OVERFLOW on
        # essentially every signature; _require_non_ansi fails first instead)
        return lambda s: s * F.lit(a) + F.lit(b)

    return F.array(*[F.array_min(F.transform(shingle_arr, perm(a, b))) for a, b in params])


def _minhash_sigs_pd(sh: DataFrame, k: int) -> DataFrame:
    """(id, shingles) → (id, sig) with the signature computed in numpy —
    bit-identical to ``minhash_signature`` (same ``_minhash_params`` affine
    constants, uint64 wrap-around multiply-add = Java long overflow, and the
    per-permutation min taken over the SIGNED int64 view, matching JVM
    ``array_min``).  The k-permutation sweep was the minhash gate's dominant
    interpreted-HOF cost (k × |shingles| lambda evals per doc); here it is
    k vectorized passes over the batch's flattened shingle array with a
    segmented ``minimum.reduceat``.  Documents with no shingles get no
    signature.  Ids must be integral (the gate's doc ids are longs)."""
    import pandas as pd

    params = _minhash_params(k)

    def gen(batches):
        import numpy as np

        a_np = np.array([p[0] for p in params], dtype=np.uint64)
        b_np = np.array([p[1] for p in params], dtype=np.uint64)
        for pdf in batches:
            arrs = [np.asarray(x, dtype=np.int64) for x in pdf["shingles"]]
            keep = [i for i, x in enumerate(arrs) if len(x)]
            if not keep:
                continue
            ids = pdf["id"].to_numpy()[keep]
            arrs = [arrs[i] for i in keep]
            lens = np.array([len(x) for x in arrs])
            offs = np.concatenate(([0], np.cumsum(lens[:-1])))
            flat = np.concatenate(arrs).view(np.uint64)
            sig = np.empty((len(arrs), k), dtype=np.int64)
            for i in range(k):
                y = (flat * a_np[i] + b_np[i]).view(np.int64)
                sig[:, i] = np.minimum.reduceat(y, offs)
            yield pd.DataFrame({"id": ids, "sig": list(sig)})

    return sh.select("id", "shingles").mapInPandas(gen, schema="id long, sig array<bigint>")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via MinHash LSH banding, verified with exact Jaccard.

    r = k/bands rows per band; a pair lands in the same bucket with
    probability 1-(1-j^r)^bands — at (k=128, b=32, r=4) recall at j≥0.5 is
    ≈0.99 and ≈1.0 at j≥0.8.  Only same-bucket documents are compared, so
    cost scales with collisions, not corpus².  ``id_col`` must be integral
    (the signature kernel carries ids as int64); other types raise
    ValueError.
    """
    if k % bands != 0:
        raise ValueError("k must be divisible by bands")
    _require_integral_id(df, id_col)
    r = k // bands
    _require_non_ansi()   # documents the wrap-around contract for this path too
    # no size > 0 filter: the signature kernel skips empty sets, and a filter
    # would be pushed into the unwidened scan and shingle every doc twice
    sh = _doc_frame(df, text_col, id_col, n)
    sig = _minhash_sigs_pd(sh, k)
    # one row per (doc, band): bucket key = xxhash64 of the band's slice
    bucketed = sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.concat_ws(",", F.transform(
                        F.slice("sig", b * r + 1, r), lambda v: v.cast("string")
                    ))).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    cand = _colliding_pairs(bucketed, "band", "bucket")
    return _verify_jaccard(cand, sh, threshold)


# ---------------------------------------------------------------------------
# Duplicate clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

def dedup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Group near-dup pairs (a, b) into clusters: (id, cluster) where cluster
    is the minimum id reachable through the pair graph — i.e. connected
    components, so transitive duplicates (A~B, B~C) land in one group and a
    single survivor (the cluster id) can be kept.

    Algorithm: iterative min-label propagation (the standard large-graph
    approach when the component count is unknown): every node repeatedly
    adopts the smallest label among itself and its neighbors until a pass
    changes nothing.  Each iteration is one join + one aggregation — all
    DataFrame ops; iteration count is O(graph diameter), which for near-dup
    clusters (dense little cliques) is 1-2.  The driver only checks a
    convergence COUNT per pass, never data.

    Each round's labels are persisted and MATERIALIZED (the convergence
    count forces it), so round k reads round k-1 from cache instead of
    re-executing the entire join chain — O(k) work instead of O(k²).
    Superseded label frames are unpersisted as soon as the next round lands
    (persist, unlike localCheckpoint, lets us release executor storage
    deterministically); only the final labels stay cached briefly and are
    dropped before returning.
    """
    # both edge directions from ONE evaluation of the (potentially expensive)
    # pairs lineage: the old two-branch union re-ran the full pair detection
    # twice before the persist (measured: dedup_clusters ≈ 2× dedup_ngram at
    # sf1.0 for exactly this reason)
    edges = (
        pairs.select(F.explode(F.array(
            F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
            F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
        )).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("lbl", F.col("node"))
        .persist()
    )
    try:
        for _ in range(max_iters):
            # smallest neighbor label per node (disambiguated column names — the
            # label frame is derived from edges, so lineage would collide)
            nbr = edges.join(labels.select(F.col("node").alias("dst"), F.col("lbl").alias("dlbl")), "dst")
            neighbor_min = nbr.groupBy(F.col("src").alias("node")).agg(F.min("dlbl").alias("nlbl"))
            # the change flag rides the label frame — no extra join against
            # the previous round to detect convergence
            new_labels = (
                labels.join(neighbor_min, "node", "left")
                .select("node",
                        F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
                        (F.coalesce(F.col("nlbl"), F.col("lbl")) < F.col("lbl")).alias("__chg"))
                .persist()
            )
            # full-scan aggregate (not limit(1)): guarantees EVERY partition
            # of new_labels lands in the cache in one job — a short-circuit
            # limit would leave uncached partitions whose lineage re-runs
            # the whole prior round after its unpersist
            changed = new_labels.agg(
                F.sum(F.col("__chg").cast("int")).alias("n")).collect()[0][0] or 0
            labels.unpersist()      # release the superseded round's blocks
            labels = new_labels
            if changed == 0:
                break
        out = labels.select(F.col("node").alias("id"), F.col("lbl").alias("cluster"))
        # detach the result from the cached frame so the cache can be freed
        out = out.localCheckpoint()
    finally:
        edges.unpersist()
        labels.unpersist()
    return out


def dedup_survivors(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Drop all but one document per near-dup cluster (the min-id survivor) —
    the end-to-end dedup: pair detection (any of the *_pairs operators) →
    clustering → anti-join of non-survivors."""
    clusters = dedup_clusters(pairs)
    losers = clusters.filter(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Cross-corpus decontamination
# ---------------------------------------------------------------------------

def contamination_stats(
    train: DataFrame,
    evalset: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Per-train-document contamination against an eval corpus: the number of
    distinct word-n-gram shingles the document shares with ANY eval document
    — the standard benchmark-decontamination primitive for training-data
    pipelines (flag/drop train docs that leak eval content).

    Returns (id, n_shingles, n_contaminated, contaminated) where
    ``contaminated = n_contaminated >= min_overlap``.

    Scale shape: the eval shingle set is deduplicated FIRST (one distinct of
    hashed longs — eval sets are small relative to the corpus) and the train
    side probes it with a semi-join per exploded shingle; the shuffle carries
    only (doc id, shingle hash) pairs, and Catalyst/AQE broadcasts the eval
    set when it fits.  Never an all-pairs document comparison.  The eval
    side is not widened: it is small, and its distinct shingle set is what
    gets broadcast.
    """
    tr = _doc_frame(train, text_col, id_col, n).withColumnRenamed("sz", "n_shingles")
    ev_sh = (
        _doc_frame(evalset, text_col, id_col, n, widen=False)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    probes = tr.select("id", F.explode("shingles").alias("s"))
    # broadcast hint: the distinct eval shingle set is 8 bytes/shingle and
    # eval corpora are small by definition — a map-side semi-join probe
    # instead of shuffling every (id, shingle) of the train side
    hits = probes.join(F.broadcast(ev_sh), "s", "left_semi").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return (
        tr.select("id", "n_shingles")
        .join(hits, "id", "left")
        .withColumn("n_contaminated", F.coalesce("n_contaminated", F.lit(0)))
        .withColumn("contaminated", F.col("n_contaminated") >= min_overlap)
    )


def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Drop contaminated training documents (see contamination_stats)."""
    bad = (
        contamination_stats(train, evalset, text_col, id_col, n, min_overlap)
        .filter(F.col("contaminated"))
        .select(F.col("id").alias(id_col))
    )
    return train.join(bad, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash) — 64-bit SimHash over word hashes: per bit, majority vote
    of word-hash bits.  ``id_col`` must be integral (the vote kernel carries
    ids as int64); other types raise ValueError."""
    import pandas as pd

    _require_integral_id(df, id_col)
    w = _doc_frame(df, text_col, id_col).select("id", F.explode("w").alias("w"))
    h = w.select("id", F.xxhash64("w").alias("h"))

    # r6: the per-bit majority vote runs as a segmented numpy reduction in
    # mapInPandas INSTEAD of a groupBy(id) with 64 conditional sums — after
    # the widening repartition the explode is narrow, so every doc's rows
    # are contiguous within one partition and no shuffle is needed at all;
    # a doc spanning two Arrow batches is handled by carrying its partial
    # bit counts.  Values are bit-identical: bit i set ⇔ Σ(±1) > 0 ⇔
    # 2·count_i > n, same xxhash64 word hashes (still computed codegen'd,
    # JVM-side).
    def gen(batches):
        import numpy as np

        shifts = np.arange(64, dtype=np.uint64)
        carry_id, carry_cnt, carry_n = None, None, 0
        pend_ids: list = []
        pend_sims: list = []

        def flush(doc_id, cnt, n):
            v = (np.uint64(0) + ((2 * cnt > n).astype(np.uint64) << shifts).sum(dtype=np.uint64))
            pend_ids.append(doc_id)
            pend_sims.append(np.array([v], dtype=np.uint64).view(np.int64)[0])

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            hv = pdf["h"].to_numpy(dtype=np.int64).view(np.uint64)
            bits = ((hv[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            starts = np.concatenate(([0], np.flatnonzero(ids[1:] != ids[:-1]) + 1))
            cnts = np.add.reduceat(bits, starts, axis=0)
            lens = np.diff(np.concatenate((starts, [len(ids)])))
            seg_ids = ids[starts]
            if carry_id is not None:
                if seg_ids[0] == carry_id:
                    # fold the carried partial into segment 0, then treat
                    # every segment uniformly below
                    cnts[0] = cnts[0] + carry_cnt
                    lens[0] = lens[0] + carry_n
                else:
                    flush(carry_id, carry_cnt, carry_n)
                carry_id = None
            # all but the LAST segment are complete docs; the last may
            # continue into the next batch — hold it as the carry
            for j in range(len(seg_ids) - 1):
                flush(seg_ids[j], cnts[j], lens[j])
            carry_id, carry_cnt, carry_n = seg_ids[-1], cnts[-1], int(lens[-1])
            if pend_ids:
                yield pd.DataFrame({"id": pend_ids, "simhash": pend_sims})
                pend_ids, pend_sims = [], []
        if carry_id is not None:
            flush(carry_id, carry_cnt, carry_n)
        if pend_ids:
            yield pd.DataFrame({"id": pend_ids, "simhash": pend_sims})

    return h.mapInPandas(gen, schema="id long, simhash long")


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """(a, b, hamming) pairs with Hamming(simhash_a, simhash_b) ≤ max_hamming.

    Pigeonhole banding: split 64 bits into (max_hamming+1) chunks; any pair
    within distance d agrees exactly on ≥1 chunk → equi-join per chunk, then
    verify with bit_count(a XOR b).  ``id_col`` must be integral (see
    simhash64)."""
    sh = simhash64(df, text_col, id_col)
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftrightunsigned(F.col("simhash"), c * width)
            .bitwiseAND(F.lit((1 << width) - 1)).alias("key"),
        )
        for c in range(n_chunks)
    ]
    chunks = sh.select(
        "id", "simhash", F.explode(F.array(*chunk_structs)).alias("ck")
    ).select("id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))
    cand = _colliding_pairs(chunks, "chunk", "key", carry="simhash")
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )
