"""Deterministic synthetic generator for the north-rule input table.

Shape per BASELINE.json input_hint / FIXTURES.md §1-2:

``sequences(doc_id string, tokens array<int32>, n_tok int32, source string,
            entity long, event_time timestamp)``
``features(entity long, feature_time timestamp, f_vec array<float>,
           f_scalar double)``

Properties engineered in:
- seed=42, fully deterministic (hash-free, order-stable) at any size;
- Zipf-skewed ``doc_id`` reuse and 80/10/5/5 ``source`` split — hot keys that
  exercise the salting/AQE paths;
- deliberate event/feature timestamp TIES (minute granularity) so the strict
  ``<`` as-of semantics are actually load-bearing in tests;
- ``f_scalar`` nulls for forward-fill tests; small dense ``f_vec`` for
  allclose parity.

Generation is vectorized numpy → Arrow → parquet.  At real scale the same
columns come from the production Iceberg table; this generator only feeds
tests and the local bench (no external data).
"""

from __future__ import annotations

import itertools
import os
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
SOURCES = np.array(["web", "books", "code", "wiki"])
SOURCE_P = np.array([0.80, 0.10, 0.05, 0.05])
VOCAB = 50257
N_ENTITIES_PER_1K = 40  # ~40 distinct entities per 1000 rows
BASE_EPOCH = 1_704_067_200  # 2024-01-01 00:00:00 UTC
F_VEC_DIM = 8
# 64k-row groups: a single-row-group file collapses Spark's scan to one task
# regardless of spark.sql.files.maxPartitionBytes (splits can't cross
# row-group boundaries) — this keeps the scan parallel.
ROW_GROUP_ROWS = 65_536


def gen_sequences(n_rows: int, seed: int = SEED, hot_frac: float | None = None,
                  n_docs: int | None = None, n_entities: int | None = None) -> pa.Table:
    """``hot_frac``: override the Zipf head — force that fraction of all rows
    onto doc/entity 0 (extreme-skew fixtures for the scaling experiments;
    None keeps the default Zipf(1.3) head of ~25%).  ``n_docs``/``n_entities``
    pin the GLOBAL id spaces when a large fixture is generated in chunks
    (write_fixture) so the key distributions match a single-shot generation."""
    rng = np.random.default_rng(seed)
    # Zipf-skewed doc ids: a few hot documents repeat many times.
    n_docs = n_docs if n_docs is not None else max(n_rows // 4, 1)
    ranks = rng.zipf(1.3, size=n_rows)
    doc_idx = np.minimum(ranks - 1, n_docs - 1).astype(np.int64)
    if hot_frac is not None:
        hot = rng.random(n_rows) < hot_frac
        doc_idx = np.where(hot, 0, doc_idx)
    doc_id = np.char.add("doc", np.char.zfill(doc_idx.astype(str), 8))

    n_tok = rng.integers(1, 513, size=n_rows, dtype=np.int32)
    flat = rng.integers(0, VOCAB, size=int(n_tok.sum()), dtype=np.int32)
    offsets = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int64()), pa.array(flat))

    source = SOURCES[rng.choice(len(SOURCES), size=n_rows, p=SOURCE_P)]
    if n_entities is None:
        n_entities = max(n_rows * N_ENTITIES_PER_1K // 1000, 4)
    entity = (doc_idx % n_entities).astype(np.int64)
    # minute-granularity timestamps over ~30 days → deliberate ties
    minutes = rng.integers(0, 30 * 24 * 60, size=n_rows, dtype=np.int64)
    event_time = (BASE_EPOCH + minutes * 60).astype("datetime64[s]").astype("datetime64[us]")

    return pa.table(
        {
            "doc_id": pa.array(doc_id, type=pa.string()),
            "tokens": tokens,
            "n_tok": pa.array(n_tok, type=pa.int32()),
            "source": pa.array(source, type=pa.string()),
            "entity": pa.array(entity, type=pa.int64()),
            "event_time": pa.array(event_time, type=pa.timestamp("us")),
        }
    )


def gen_features(n_rows: int, n_entities: int, seed: int = SEED + 1) -> pa.Table:
    rng = np.random.default_rng(seed)
    entity = rng.integers(0, n_entities, size=n_rows, dtype=np.int64)
    minutes = rng.integers(0, 30 * 24 * 60, size=n_rows, dtype=np.int64)
    feature_time = (BASE_EPOCH + minutes * 60).astype("datetime64[s]").astype("datetime64[us]")
    vec = rng.standard_normal((n_rows, F_VEC_DIM)).astype(np.float32)
    f_vec = pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), F_VEC_DIM).cast(
        pa.list_(pa.float32())
    )
    f_scalar = rng.standard_normal(n_rows)
    null_mask = rng.random(n_rows) < 0.15  # nulls for forward-fill tests
    f_scalar_arr = pa.array(f_scalar, type=pa.float64(), mask=null_mask)
    return pa.table(
        {
            "entity": pa.array(entity, type=pa.int64()),
            "feature_time": pa.array(feature_time, type=pa.timestamp("us")),
            "f_vec": f_vec,
            "f_scalar": f_scalar_arr,
        }
    )


def write_parquet_fixture(path: str, build_tables) -> str:
    """The one writer of generated fixtures; a no-op if ``path`` exists.
    Streams the pyarrow Tables ``build_tables()`` yields into a hidden temp
    file beside ``path`` (leading ``.``, no ``.parquet`` suffix: Spark and
    DuckDB globs skip it) and renames it into place; any exception, even
    KeyboardInterrupt, deletes the temp, so an interrupted write leaves no
    truncated fixture behind.  Concurrent writers each get their own temp."""
    if os.path.exists(path):
        return path
    out_dir, name = os.path.split(path)
    os.makedirs(out_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(prefix=f".{name}.", suffix=".tmp", dir=out_dir)
    os.close(fd)
    try:
        tables = iter(build_tables())
        first = next(tables)
        with pq.ParquetWriter(tmp, first.schema) as writer:
            for t in itertools.chain([first], tables):
                writer.write_table(t, row_group_size=ROW_GROUP_ROWS)
        os.chmod(tmp, 0o644)   # mkstemp's 0600 would hide the fixture from other users
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise
    return path


def write_fixture(out_dir: str, n_seq: int = 10_000, n_feat: int | None = None,
                  hot_frac: float | None = None) -> dict[str, str]:
    """Write sequences/features parquet under ``out_dir``; returns paths.
    Idempotent for a given (out_dir, sizes, hot_frac)."""
    n_feat = n_feat if n_feat is not None else max(n_seq // 2, 8)
    tag = f"_{n_seq}" + (f"_hot{int(hot_frac * 100)}" if hot_frac is not None else "")
    seq_path = os.path.join(out_dir, f"sequences{tag}.parquet")
    feat_path = os.path.join(out_dir, f"features_{n_seq}.parquet")
    n_entities = max(n_seq * N_ENTITIES_PER_1K // 1000, 4)
    # beyond ~4M rows the flattened token array exceeds Arrow's 32-bit list
    # offsets (~2^31 elements) and a single-shot table also costs tens of GB
    # of RAM — generate 2M-row chunks, with the doc/entity id spaces pinned
    # to the GLOBAL size so the Zipf shape matches single-shot generation
    # (chunk 0 of a fixture that fits in one chunk IS the single-shot table)
    chunk = 2_000_000
    write_parquet_fixture(seq_path, lambda: (
        gen_sequences(min(chunk, n_seq - start), seed=SEED + ci, hot_frac=hot_frac,
                      n_docs=max(n_seq // 4, 1), n_entities=n_entities)
        for ci, start in enumerate(range(0, n_seq, chunk))
    ))
    write_parquet_fixture(feat_path, lambda: [gen_features(n_feat, n_entities)])
    return {"sequences": seq_path, "features": feat_path}
