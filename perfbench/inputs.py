"""Seeded input generation for the benchmark workloads, cached on disk.

Each input set is a directory of parquet files named by
``(kind, seed, size, hot_share)``.  The same key always yields the same
bytes, so a rerun with a seed already seen only checks that the directory
exists; a fresh seed generates and publishes a new directory atomically
(write to a temporary sibling, then ``os.rename``).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 64k-row groups, like feathr_online_spark.datagen.write_fixture: a
# single-row-group file would collapse the scan to one task.
ROW_GROUP = 65536


def input_dir(cache: str, kind: str, seed: int, size: int, hot_share: float | None) -> str:
    hot = "zipf" if hot_share is None else f"hot{hot_share:g}"
    return os.path.join(cache, f"{kind}-s{seed}-n{size}-{hot}")


def cached(cache: str, kind: str, seed: int, size: int, hot_share: float | None,
           build) -> str:
    """Return the directory for the key, running ``build(tmpdir)`` first
    when it is not cached yet."""
    out = input_dir(cache, kind, seed, size, hot_share)
    if os.path.isdir(out):
        return out
    os.makedirs(cache, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".tmp-", dir=cache)
    try:
        build(tmp)
        os.rename(tmp, out)
    except OSError:
        # a concurrent writer published the same deterministic content first
        if not os.path.isdir(out):
            raise
    finally:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
    return out


def sequence_tables(seed: int, n_rows: int, hot_share: float | None) -> tuple[pa.Table, pa.Table]:
    """The north-rule input pair from the package generator.

    Feature rows are made unique on ``(entity, feature_time)``: the engine
    breaks such ties by a Spark-specific payload hash, which an independent
    reference cannot reproduce.  Event-side minute ties stay in, since the
    checks are written to be robust to them."""
    from feathr_online_spark import datagen

    seq = datagen.gen_sequences(n_rows, seed=seed, hot_frac=hot_share)
    n_entities = max(n_rows * datagen.N_ENTITIES_PER_1K // 1000, 4)
    feat = datagen.gen_features(max(n_rows // 2, 8), n_entities, seed=seed + 1)
    keys = feat.select(["entity", "feature_time"]).to_pandas()
    feat = feat.filter(pa.array(~keys.duplicated().to_numpy()))
    return seq, feat


def write_sequences(out: str, seed: int, n_rows: int, hot_share: float | None) -> None:
    seq, feat = sequence_tables(seed, n_rows, hot_share)
    pq.write_table(seq, os.path.join(out, "sequences.parquet"), row_group_size=ROW_GROUP)
    pq.write_table(feat, os.path.join(out, "features.parquet"), row_group_size=ROW_GROUP)
    _write_meta(out, rows=seq.num_rows)


# Corpus vocabulary: English function words (so the language and quality
# scorers keep a share of the documents) plus content words.
_STOP = ("the a an and or of to in is are was for on with as by at it that this be").split()
_CONTENT = [f"{c}{v}{e}" for c in "bcdfgklmnprst" for v in "aeiou" for e in ("n", "r", "st", "ll")]
VOCAB = np.array(_STOP + _CONTENT)


def corpus_table(seed: int, n_docs: int) -> pa.Table:
    """Documents with planted near-duplicates.

    About 15% of the documents copy an earlier original and replace one
    word, and about 3% repeat an original exactly up to case and spacing.
    Copies are made of originals only, never of other copies, so every
    planted pair keeps a word-3-gram Jaccard above 0.7.  The originals draw
    40 to 90 words at random from a 280-word vocabulary, so two of them share
    almost no 3-grams: no pair sits near a similarity threshold, where the
    approximate (MinHash, SimHash) paths could legitimately miss it."""
    rng = np.random.default_rng(seed)
    p = np.full(len(VOCAB), 1.0)
    p[: len(_STOP)] = 12.0
    p /= p.sum()
    originals: list[list[str]] = []
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if originals and r < 0.15:
            words = list(originals[int(rng.integers(0, len(originals)))])
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB, p=p))
            texts.append(" ".join(words))
        elif originals and r < 0.18:
            words = originals[int(rng.integers(0, len(originals)))]
            texts.append("  " + " ".join(words).upper() + " ")
        else:
            words = [str(w) for w in rng.choice(VOCAB, size=int(rng.integers(40, 91)), p=p)]
            originals.append(words)
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "source": pa.array([f"src{i % 4}" for i in range(n_docs)], type=pa.string()),
    })


def write_corpus(out: str, seed: int, n_docs: int) -> None:
    t = corpus_table(seed, n_docs)
    pq.write_table(t, os.path.join(out, "documents.parquet"), row_group_size=max(n_docs // 8, 1))
    _write_meta(out, rows=t.num_rows)


def _write_meta(out: str, rows: int) -> None:
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump({"rows": rows}, f)


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)
