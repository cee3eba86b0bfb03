"""Skew utilities + multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hlld_spark.operators.multimodal import (
    extract_image_features,
    generate_assets,
    parse_metadata,
    resize_images,
    sample_audio_frames,
)
from hlld_spark.operators.skew import salted_exact_distinct
from hlld_spark.sources.webpages import generate_web_pages

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def wp(spark):
    return generate_web_pages(spark, 20000, partitions=8).cache()


@pytest.fixture(scope="module")
def assets(spark):
    return generate_assets(spark, 300).cache()


def test_salted_exact_distinct_matches_plain(spark, wp):
    salted = {
        r["lang"]: r["exact_distinct"]
        for r in salted_exact_distinct(wp, ["lang"], "url", salt_buckets=16).collect()
    }
    plain = {
        r["lang"]: r["d"]
        for r in wp.groupBy("lang").agg(F.countDistinct("url").alias("d")).collect()
    }
    assert salted == plain


def test_salted_exact_distinct_global(spark, wp):
    got = salted_exact_distinct(wp, [], "url").first()["exact_distinct"]
    assert got == wp.select("url").distinct().count()


# --- multimodal ---------------------------------------------------------------


def test_assets_deterministic(spark):
    a = generate_assets(spark, 100, partitions=2)
    b = generate_assets(spark, 100, partitions=5)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_metadata_parsing(spark, assets):
    m = parse_metadata(assets).select("asset_id", "kind", "meta.*").collect()
    for r in m:
        if r["kind"] == "image":
            assert r["width"] >= 8 and r["height"] >= 8 and r["channels"] == 3
            assert r["payload_bytes"] == r["width"] * r["height"] * r["channels"]
        elif r["kind"] == "audio":
            assert r["sample_rate"] >= 8000 and r["n_samples"] >= 64
        else:
            assert r["kind"] == "video"
            assert r["n_frames"] >= 4
            assert r["payload_bytes"] == r["width"] * r["height"] * r["channels"] * r["n_frames"]
    kinds = {r["kind"] for r in m}
    assert kinds == {"image", "audio", "video"}


def test_image_features_shape_and_determinism(spark, assets):
    imgs = assets.filter(F.col("kind") == "image")
    f1 = {r["asset_id"]: r["features"] for r in extract_image_features(imgs).collect()}
    f2 = {r["asset_id"]: r["features"] for r in extract_image_features(imgs.repartition(3)).collect()}
    assert f1 == f2
    for v in f1.values():
        assert len(v) == 6
        assert 0 <= v[0] <= 255 and v[3] >= 0  # mean in byte range, std ≥ 0


def test_resize_images(spark, assets):
    imgs = assets.filter(F.col("kind") == "image").limit(20)
    out = parse_metadata(resize_images(imgs, 16, 16), payload_col="resized", out="rmeta")
    for r in out.select("rmeta.*").collect():
        assert (r["width"], r["height"]) == (16, 16)
        assert r["payload_bytes"] == 16 * 16 * 3


def test_audio_sampling(spark, assets):
    auds = assets.filter(F.col("kind") == "audio").limit(20)
    rows = parse_metadata(sample_audio_frames(auds, every_n=4)).select("meta.n_samples", "frame_samples").collect()
    for r in rows:
        assert len(r["frame_samples"]) == (r["n_samples"] + 3) // 4


def test_unknown_payload_graceful(spark):
    df = spark.createDataFrame([(1, bytearray(b"NOTAFORMAT123"))], "asset_id long, payload binary")
    r = parse_metadata(df).select("meta.*").first()
    assert r["kind"] == "unknown"
    assert extract_image_features(df).first()["features"] is None


def test_video_kind_and_frame_sampling(spark, assets):
    from hlld_spark.operators.multimodal import sample_video_frames

    vids = assets.filter(F.col("kind") == "video")
    assert vids.count() > 0
    rows = parse_metadata(sample_video_frames(vids, every_n=4)).select(
        "meta.n_frames", "frame_features"
    ).collect()
    for r in rows:
        assert len(r["frame_features"]) == (r["n_frames"] + 3) // 4
        for f in r["frame_features"]:
            assert 0 <= f <= 255


def test_audio_spectrogram_analytic_peaks(spark):
    """r6: a pure sine at exact-bin frequency k*sr/256 must put the
    time-averaged power-spectrum argmax at bin k; clips shorter than
    one frame and non-audio payloads yield NULL."""
    import numpy as np

    from hlld_spark.operators.codecs import encode_wav
    from hlld_spark.operators.multimodal import extract_audio_spectrogram

    sr = 16000
    rows = []
    for aid, k in ((0, 5), (1, 40), (2, 100)):
        n = np.arange(1024, dtype=np.float64)
        x = np.round(18000 * np.sin(2 * np.pi * k * n / 256.0)).astype("<i2")
        rows.append((aid, bytearray(encode_wav(x, sr))))
    rows.append((3, bytearray(encode_wav(np.zeros(64, dtype=np.int16), sr))))  # too short
    rows.append((4, bytearray(b"not audio at all")))
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    got = {r["asset_id"]: r for r in extract_audio_spectrogram(df).collect()}
    assert (got[0]["spectrogram_peak_bin"], got[1]["spectrogram_peak_bin"],
            got[2]["spectrogram_peak_bin"]) == (5, 40, 100)
    assert len(got[0]["spectrogram"]) == 129
    # peak bin dominates its spectrum by orders of magnitude (log10 scale)
    s = got[1]["spectrogram"]
    assert s[40] > s[30] + 3 and s[40] > s[50] + 3
    assert got[3]["spectrogram"] is None and got[3]["spectrogram_peak_bin"] is None
    assert got[4]["spectrogram"] is None


def test_audio_spectrogram_stereo_channel0(spark):
    """Stereo WAV: the spectrogram reads channel 0 — a tone only in
    channel 1 must NOT appear."""
    import numpy as np

    from hlld_spark.operators.codecs import encode_wav
    from hlld_spark.operators.multimodal import extract_audio_spectrogram

    n = np.arange(1024, dtype=np.float64)
    ch0 = np.round(15000 * np.sin(2 * np.pi * 10 * n / 256.0))
    ch1 = np.round(15000 * np.sin(2 * np.pi * 90 * n / 256.0))
    stereo = np.stack([ch0, ch1], axis=1).astype("<i2")
    df = spark.createDataFrame(
        [(0, bytearray(encode_wav(stereo, 8000)))], "asset_id long, payload binary"
    )
    r = extract_audio_spectrogram(df).collect()[0]
    assert r["spectrogram_peak_bin"] == 10
