"""Multimodal pipeline: real stdlib codecs (BMP/WAV/RAWV), decode features,
resize, frame sampling, and the mapInPandas plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from feathr_online_spark.operators import codecs
from feathr_online_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    resize_images,
    sample_frames,
    synth_assets,
)
from feathr_online_spark.operators.similarity import knn_bruteforce


# -- codec round-trips (pure python, no Spark) --------------------------------

def test_bmp_roundtrip():
    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(13, 21, 3), dtype=np.uint8)  # odd width → row padding
    assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(rgb)), rgb)


def test_wav_roundtrip():
    t = np.arange(800) / 8000.0
    pcm = 0.25 * np.sin(2 * np.pi * 440 * t)
    rate, back = codecs.decode_wav(codecs.encode_wav(pcm, 8000))
    assert rate == 8000
    assert np.allclose(back, pcm, atol=1e-3)   # 16-bit quantization


def test_rawv_roundtrip():
    frames = np.random.default_rng(3).integers(0, 256, size=(4, 6, 8, 3), dtype=np.uint8)
    fps, back = codecs.decode_rawv(codecs.encode_rawv(frames, fps=12))
    assert fps == 12 and np.array_equal(back, frames)


def test_resize_nearest_shape_and_identity():
    rgb = np.random.default_rng(5).integers(0, 256, size=(10, 10, 3), dtype=np.uint8)
    assert np.array_equal(codecs.resize_nearest(rgb, 10, 10), rgb)
    small = codecs.resize_nearest(rgb, 5, 4)
    assert small.shape == (4, 5, 3)


# -- Spark-side pipeline -------------------------------------------------------

def test_extract_features_real_decode(spark):
    assets = synth_assets(spark, n=30)
    out = extract_features(assets)
    rows = out.collect()
    assert len(rows) == 30
    assert all(len(r.features) == FEATURE_DIM for r in rows)
    assert all(r.n_bytes > 0 for r in rows)
    by_kind = {r.asset_id: r for r in rows}
    # image features carry true dimensions (synth ids: 0=image, 1=audio, 2=video)
    img_meta = {r.asset_id: (r.width, r.height) for r in assets.collect() if r.kind == "image"}
    for aid, (w, h) in img_meta.items():
        f = by_kind[aid].features
        assert (int(f[0]), int(f[1])) == (w, h)
    # audio features carry the sample rate
    assert any(abs(by_kind[i].features[0] - 8000.0) < 1e-3
               for i in by_kind if by_kind[i].kind == "audio")
    # deterministic: same payload → same features
    rows2 = extract_features(synth_assets(spark, n=30)).collect()
    assert {r.asset_id: r.features for r in rows} == {r.asset_id: r.features for r in rows2}


def test_features_feed_similarity(spark):
    """Decoded features plug straight into the similarity operators."""
    feats = extract_features(synth_assets(spark, n=24)).select(
        F.col("asset_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    q = feats.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = knn_bruteforce(q, feats, k=3).collect()
    by_q = {r.q_id: r for r in out if r.rank == 1}
    assert by_q[0].neighbor_id == 0 and by_q[1].neighbor_id == 1  # self is nearest


def test_resize_images_real(spark):
    assets = synth_assets(spark, n=9)
    out = resize_images(assets, 8, 6)
    imgs = [r for r in out.collect() if r.kind == "image"]
    assert imgs and all((r.width, r.height) == (8, 6) for r in imgs)
    for r in imgs:
        decoded = codecs.decode_bmp(bytes(r.payload))
        assert decoded.shape == (6, 8, 3)
    # non-image rows pass through untouched
    assert out.count() == 9


def test_sample_frames_real(spark):
    assets = synth_assets(spark, n=9)
    vids = {r.asset_id: r for r in assets.collect() if r.kind == "video"}
    out = sample_frames(assets, every_n=2).collect()
    assert out and all(r.kind == "image" and r.mime == "image/bmp" for r in out)
    # each sampled frame decodes to the video's dimensions
    for r in out:
        src = vids[r.asset_id // 10**9]
        decoded = codecs.decode_bmp(bytes(r.payload))
        assert decoded.shape == (src.height, src.width, 3)
    # every 2nd frame of each video
    fps_frames = {aid: codecs.decode_rawv(bytes(v.payload))[1] for aid, v in vids.items()}
    expect = sum(len(range(0, len(fr), 2)) for fr in fps_frames.values())
    assert len(out) == expect


def test_unsupported_mime_raises(spark):
    rows = [(0, "image", b"\xff\xd8\xff\xe0fakejpeg", "image/jpeg", 4, 4, None)]
    df = spark.createDataFrame(rows, synth_assets(spark, n=1).schema)
    with pytest.raises(Exception, match="PIL|codec library"):
        extract_features(df).collect()
    with pytest.raises(Exception, match="PIL"):
        resize_images(df, 2, 2).collect()
