"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark plumbing — schema, partitioning, Arrow batch shape, mapInPandas
signatures — AND the decode kernels are real: the engine ships pure-stdlib
codecs (operators/codecs.py) for BMP images, PCM16 WAV audio, and a raw-RGB
video container, so decode / feature-extract / resize / frame-sample run
end-to-end with no external media libraries.  Formats that genuinely need
PIL/libav (JPEG, PNG, MP3, H.264) raise a clear error naming the missing
dependency — that is this container's honest boundary, and the mime check
happens metadata-side BEFORE any payload is touched.

Design for 100 TB of media:
- payloads stay ``binary`` columns; metadata travels in sibling columns so
  filters (mime, width, duration) prune BEFORE any decode;
- decode runs in ``mapInPandas`` — per-partition Arrow batches, one Python
  worker per core, no per-row overhead; batch size bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` to cap memory;
- decoded features are fixed-width float arrays so downstream similarity /
  dedup reuse operators from similarity.py.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), False),
        StructField("mime", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("features", ArrayType(FloatType()), False),
        StructField("n_bytes", LongType(), False),
    ]
)

_DECODABLE = {"image/bmp", "audio/wav", "video/x-rawv"}


def _real_features(kind: str, mime: str, payload: bytes, dim: int):
    """Decode one asset and emit a fixed-width feature vector:

    image/bmp   → [width, height, mean R, mean G, mean B, pixel std, 0...]
    audio/wav   → [rate, duration_s, mean amp, rms, peak, 0...]
    video/x-rawv→ [width, height, fps, n_frames, mean pixel, inter-frame
                   mean abs diff, 0...]
    """
    import numpy as np

    from feathr_online_spark.operators import codecs

    if mime not in _DECODABLE:
        raise NotImplementedError(
            f"decoding {mime!r} requires an external codec library (PIL/libav) "
            f"not present in this container; supported here: {sorted(_DECODABLE)}"
        )
    out = np.zeros(dim, dtype=np.float32)
    if mime == "image/bmp":
        rgb = codecs.decode_bmp(payload)
        h, w, _ = rgb.shape
        out[:6] = [w, h, rgb[..., 0].mean(), rgb[..., 1].mean(), rgb[..., 2].mean(), rgb.std()]
    elif mime == "audio/wav":
        rate, pcm = codecs.decode_wav(payload)
        out[:5] = [
            rate,
            len(pcm) / float(rate),
            float(pcm.mean()),
            float(np.sqrt((pcm ** 2).mean())) if len(pcm) else 0.0,
            float(np.abs(pcm).max()) if len(pcm) else 0.0,
        ]
    else:  # video/x-rawv
        fps, frames = codecs.decode_rawv(payload)
        n, h, w, _ = frames.shape
        diff = (
            float(np.abs(np.diff(frames.astype(np.int16), axis=0)).mean()) if n > 1 else 0.0
        )
        out[:6] = [w, h, fps, n, frames.mean(), diff]
    return out


def extract_features(df: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """binary payload → fixed-width feature vector via mapInPandas; BMP/WAV/RAWV
    payloads decode with the stdlib codecs."""

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            feats = np.stack(
                [
                    _real_features(k, m, p, dim)
                    for k, m, p in zip(pdf["kind"], pdf["mime"], pdf["payload"])
                ]
            ) if len(pdf) else np.zeros((0, dim), dtype=np.float32)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "features": list(feats),
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                }
            )

    pruned = df.select("asset_id", "kind", "mime", "payload")
    return pruned.mapInPandas(run, FEATURES_SCHEMA)


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """Nearest-neighbor resize of BMP image assets, re-encoded as BMP; the
    metadata columns update to the new dimensions.  Non-BMP image mimes
    raise (PIL territory); non-image rows pass through untouched."""

    def run(batches: Iterator) -> Iterator:
        from feathr_online_spark.operators import codecs

        for pdf in batches:
            img = pdf["kind"] == "image"
            if img.any():
                def rz(row_payload, row_mime):
                    if row_mime != "image/bmp":
                        raise NotImplementedError(
                            f"resizing {row_mime!r} requires PIL; only image/bmp here"
                        )
                    return codecs.encode_bmp(
                        codecs.resize_nearest(codecs.decode_bmp(row_payload), width, height)
                    )

                pdf.loc[img, "payload"] = [
                    rz(p, m) for p, m in zip(pdf.loc[img, "payload"], pdf.loc[img, "mime"])
                ]
                pdf.loc[img, "width"] = width
                pdf.loc[img, "height"] = height
            yield pdf

    return df.mapInPandas(run, df.schema)


def sample_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Explode RAWV video assets into BMP image rows, keeping every Nth
    frame — the decode-side of frame-sampling pipelines.  Output rows are
    image assets; the id packs (asset_id, frame index) as
    ``asset_id * 10**9 + frame_index`` — wide enough that even a
    multi-hour video (< 10^9 frames) can never collide with the next
    asset's frame range."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from feathr_online_spark.operators import codecs

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.kind != "video":
                    continue
                if r.mime != "video/x-rawv":
                    raise NotImplementedError(
                        f"frame-sampling {r.mime!r} requires libav; only video/x-rawv here"
                    )
                fps, frames = codecs.decode_rawv(r.payload)
                for i in range(0, len(frames), every_n):
                    h, w, _ = frames[i].shape
                    rows.append(
                        (
                            r.asset_id * 10**9 + i,
                            "image",
                            codecs.encode_bmp(frames[i]),
                            "image/bmp",
                            w,
                            h,
                            None,
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in ASSET_SCHEMA.fields])

    return df.filter(F.col("kind") == "video").mapInPandas(run, ASSET_SCHEMA)


def synth_asset_rows(n: int = 64, seed: int = 42) -> list[tuple]:
    """Deterministic asset rows (plain tuples matching ASSET_SCHEMA) — shared
    by synth_assets (Spark) and the parquet fixture writer (pyarrow), so the
    correctness gate's Spark input and DuckDB oracle input are the same table
    whichever side materializes it first."""
    import numpy as np

    from feathr_online_spark.operators import codecs

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        if kind == "image":
            w, h = int(rng.integers(8, 32)), int(rng.integers(8, 32))
            rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            rows.append((i, kind, codecs.encode_bmp(rgb), "image/bmp", w, h, None))
        elif kind == "audio":
            rate = 8000
            dur = float(rng.uniform(0.05, 0.3))
            t = np.arange(int(rate * dur)) / rate
            pcm = 0.5 * np.sin(2 * np.pi * float(rng.uniform(100, 800)) * t)
            rows.append((i, kind, codecs.encode_wav(pcm, rate), "audio/wav",
                         None, None, int(dur * 1000)))
        else:
            nf, w, h = int(rng.integers(2, 6)), 16, 12
            frames = rng.integers(0, 256, size=(nf, h, w, 3), dtype=np.uint8)
            rows.append((i, kind, codecs.encode_rawv(frames, fps=10), "video/x-rawv",
                         w, h, int(nf * 100)))
    return rows


def synth_assets(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic REAL asset table: BMP images, PCM16 WAV clips, RAWV
    videos — genuinely decodable payloads generated from the asset id."""
    return spark.createDataFrame(synth_asset_rows(n, seed), ASSET_SCHEMA)


def write_asset_fixture(path: str, n: int = 96, seed: int = 42) -> str:
    """Materialize synth_asset_rows as ONE parquet file (pyarrow, no Spark) —
    idempotent and atomic via the shared fixture writer, so the Spark gate
    query and the DuckDB oracle can both ensure it exists without racing."""
    from feathr_online_spark.datagen import write_parquet_fixture

    def build():
        import pyarrow as pa

        cols = list(zip(*synth_asset_rows(n, seed)))
        yield pa.table(
            {
                "asset_id": pa.array(cols[0], pa.int64()),
                "kind": pa.array(cols[1], pa.string()),
                "payload": pa.array(cols[2], pa.binary()),
                "mime": pa.array(cols[3], pa.string()),
                "width": pa.array(cols[4], pa.int64()),
                "height": pa.array(cols[5], pa.int64()),
                "duration_ms": pa.array(cols[6], pa.int64()),
            }
        )

    return write_parquet_fixture(path, build)
