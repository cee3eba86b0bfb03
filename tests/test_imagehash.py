"""pHash (operators/imagehash.py): vectorized kernel vs the
spec-literal double-loop reference, fixture truth equality, and the
blocked hamming dedup vs a brute-force replay of the keeper rule."""

import pandas as pd
import pytest

from hlld_spark.operators.imagehash import (
    _smooth_image,
    phash64,
    phash64_reference,
    phash_batch,
    phash_dedup,
    phash_df,
    write_phash_fixture,
)

FIXTURE = "/tmp/hlld_spark_fixtures/phash_120.parquet"


def test_kernel_matches_reference_all_shapes():
    for i, (h, w, c) in enumerate(
        [(48, 64, 3), (37, 53, 1), (32, 32, 3), (21, 27, 3), (45, 33, 4), (64, 19, 1)]
    ):
        img = _smooth_image(i, 3, h, w, c)
        ref, margin = phash64_reference(img)
        assert phash64(img) == ref, (h, w, c)
        assert margin > 1e-9


def test_phash_robust_to_small_perturbation_not_to_new_image():
    a = _smooth_image(3, 47, 48, 64, 3)
    b = a.copy()
    b[16:18, 21:23] ^= 3
    other = _smooth_image(9, 47, 48, 64, 3)
    near = bin(phash64(a) ^ phash64(b)).count("1")
    far = bin(phash64(a) ^ phash64(other)).count("1")
    assert near <= 3 < far


def test_phash_2d_and_gray_alpha_channels():
    g = _smooth_image(1, 5, 40, 40, 1)
    assert phash64(g) == phash64(g[:, :, 0])  # 2-D == single channel
    rgba = _smooth_image(2, 5, 40, 40, 4)
    assert phash64(rgba) == phash64(rgba[:, :, :3])  # alpha ignored


def test_fixture_truth_matches_production_kernel():
    import pyarrow.parquet as pq

    write_phash_fixture(FIXTURE, 120)
    t = pq.read_table(FIXTURE)
    truth = t["phash"].to_pylist()
    got = phash_batch(pd.Series(t["payload"].to_pylist()))
    for i in range(len(truth)):
        if truth[i] is None:
            assert got[i] is None, i
        else:
            assert int(got[i]) == int(truth[i]), i
    assert sum(v is None for v in truth) > 0  # corrupt rows exercised


def test_phash_batch_corrupt_payloads_null():
    got = phash_batch(pd.Series([b"", b"garbage", None]))
    assert all(v is None for v in got)


@pytest.mark.spark
def test_phash_dedup_matches_bruteforce(spark):
    import pyarrow.parquet as pq

    write_phash_fixture(FIXTURE, 120)
    t = pq.read_table(FIXTURE)
    truth = t["phash"].to_pylist()
    # brute-force keeper rule: smallest earlier id with hamming <= 3
    want = {}
    for i, v in enumerate(truth):
        want[i] = i
        if v is None:
            continue
        for j in range(i):
            if truth[j] is None:
                continue
            if bin((int(v) ^ int(truth[j])) & (2**64 - 1)).count("1") <= 3:
                want[i] = j
                break
    assert any(k != v for k, v in want.items())  # planted dups exist
    imgs = spark.read.parquet(FIXTURE).select("img_id", "payload").repartition(5)
    out = phash_dedup(imgs, "img_id", "payload", hamming_threshold=3, blocks=4)
    got = {r["id"]: r["keeper_id"] for r in out.collect()}
    assert got == want


@pytest.mark.spark
def test_phash_df_null_for_corrupt(spark):
    df = spark.createDataFrame(
        [(0, bytearray(b"junk")), (1, None)], "img_id long, payload binary"
    )
    rows = {r["img_id"]: r["phash"] for r in phash_df(df, "img_id").collect()}
    assert rows == {0: None, 1: None}
