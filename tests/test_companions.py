"""Companion sketches (CMS, Bloom, t-digest, KLL): error bounds from the
published papers + merge algebra + serde round-trips + Spark integration
through the same two-phase build."""

import hashlib
import math

import numpy as np
import pytest

from hlld_spark.core.accumulator import deserialize_any
from hlld_spark.core.bloom import BloomAccumulator, BloomSpec
from hlld_spark.core.cms import CmsAccumulator, CmsSpec
from hlld_spark.core.kll import KllAccumulator, KllSpec
from hlld_spark.core.tdigest import TDigestAccumulator, TDigestSpec

CMS = CmsAccumulator()
BLOOM = BloomAccumulator()
TD = TDigestAccumulator()
KLL = KllAccumulator()


def _zipf_keys(n, seed=0):
    rng = np.random.RandomState(seed)
    ranks = rng.zipf(1.3, size=n).clip(1, 10000)
    return [f"key{r}" for r in ranks]


# --- CMS ---------------------------------------------------------------------


def test_cms_point_estimates_overcount_only_within_bound():
    spec = CmsSpec.for_error(0.005, 0.01)  # w=544, d=5
    keys = _zipf_keys(50000)
    state = CMS.zero(spec)
    CMS.update(state, keys, spec)
    from collections import Counter

    truth = Counter(keys)
    qk = list(truth)
    est = CMS.point_estimate(state, qk, spec)
    n = len(keys)
    bound = spec.error * n  # ε·N w.p. 1−δ per key; allow no violations > 3 keys
    viol = 0
    for k, e in zip(qk, est):
        assert e >= truth[k]  # CMS never undercounts
        if e - truth[k] > bound:
            viol += 1
    assert viol <= max(3, 0.01 * len(qk))


def test_cms_merge_exact_algebra():
    spec = CmsSpec(width=512, depth=4)
    a, b, c = (CMS.zero(spec) for _ in range(3))
    CMS.update(a, [f"a{i}" for i in range(1000)], spec)
    CMS.update(b, [f"b{i}" for i in range(1000)], spec)
    CMS.update(c, [f"c{i}" for i in range(500)], spec)
    ab_c = CMS.merge(CMS.merge(a.copy(), b, spec), c, spec)
    a_bc = CMS.merge(a.copy(), CMS.merge(b.copy(), c, spec), spec)
    assert np.array_equal(ab_c, a_bc)
    assert np.array_equal(CMS.merge(a.copy(), b, spec), CMS.merge(b.copy(), a, spec))


def test_cms_shard_invariance():
    spec = CmsSpec(width=1024, depth=5)
    keys = _zipf_keys(20000, seed=3)
    single = CMS.zero(spec)
    CMS.update(single, keys, spec)
    merged = CMS.zero(spec)
    for i in range(7):
        sh = CMS.zero(spec)
        CMS.update(sh, keys[i::7], spec)
        merged = CMS.merge(merged, sh, spec)
    assert np.array_equal(single, merged)


def test_cms_serde_and_dispatch():
    spec = CmsSpec(width=300, depth=3)
    state = CMS.zero(spec)
    CMS.update(state, ["x", "y", "x"], spec)
    buf = CMS.serialize(state, spec)
    acc, st, sp = deserialize_any(buf)
    assert sp == spec and np.array_equal(st, state)
    assert acc.estimate(st, sp) == 3.0  # total count exact


def test_cms_for_error_params():
    spec = CmsSpec.for_error(0.001, 0.01)
    assert spec.width == math.ceil(math.e / 0.001)
    assert spec.depth == 5
    with pytest.raises(ValueError):
        CmsSpec.for_error(0.0)


# --- Bloom -------------------------------------------------------------------


def test_bloom_no_false_negatives_and_fpr():
    spec = BloomSpec.for_capacity(5000, fpr=0.01)
    state = BLOOM.zero(spec)
    members = [f"in{i}" for i in range(5000)]
    BLOOM.update(state, members, spec)
    assert BLOOM.contains(state, members, spec).all()  # no false negatives, ever
    probes = [f"out{i}" for i in range(20000)]
    fp = BLOOM.contains(state, probes, spec).mean()
    assert fp < 0.03  # target 1%, generous margin


def test_bloom_merge_or_algebra():
    spec = BloomSpec(bits=4096, hashes=5)
    a, b = BLOOM.zero(spec), BLOOM.zero(spec)
    BLOOM.update(a, ["x", "y"], spec)
    BLOOM.update(b, ["z"], spec)
    m = BLOOM.merge(a.copy(), b, spec)
    assert BLOOM.contains(m, ["x", "y", "z"], spec).all()
    assert np.array_equal(BLOOM.merge(a.copy(), b, spec), BLOOM.merge(b.copy(), a, spec))
    assert np.array_equal(BLOOM.merge(a.copy(), a, spec), a)  # idempotent


def test_bloom_shard_invariance_and_serde():
    spec = BloomSpec(bits=8192, hashes=7)
    keys = [f"k{i}" for i in range(3000)]
    single = BLOOM.zero(spec)
    BLOOM.update(single, keys, spec)
    merged = BLOOM.zero(spec)
    for i in range(5):
        sh = BLOOM.zero(spec)
        BLOOM.update(sh, keys[i::5], spec)
        merged = BLOOM.merge(merged, sh, spec)
    assert np.array_equal(single, merged)
    acc, st, sp = deserialize_any(BLOOM.serialize(single, spec))
    assert sp == spec and np.array_equal(st, single)


def test_bloom_fill_estimate():
    spec = BloomSpec.for_capacity(10000, 0.01)
    state = BLOOM.zero(spec)
    BLOOM.update(state, [f"e{i}" for i in range(8000)], spec)
    est = BLOOM.estimate(state, spec)
    assert abs(est - 8000) / 8000 < 0.05


@pytest.mark.parametrize(
    "spec, n, digest, false_hits, estimate",
    [
        (BloomSpec(bits=1001, hashes=3), 500, "67e9ab98b86472b08c2f4e4e381cda545df0e36648e0d377c13016617a2b5f7f", 433, 499.5352787292137),
        (BloomSpec.for_capacity(10_000), 10_000, "4529d863305f75d47658d557fe8d14d24160420a7de2ef5075b951380a825552", 10, 10005.268410455803),
    ],
    ids=["1001_bits", "for_capacity_10k"],
)
def test_bloom_serialized_bytes_pinned(spec, n, digest, false_hits, estimate):
    """The serialized bit order is a storage format: bit i is
    ``0x80 >> (i & 7)`` of payload byte ``i >> 3``. Any other packing
    (e.g. little-endian bits) would misread stored sketches."""
    keys = [f"k{i}" for i in range(n)]
    buf = BLOOM.serialize(BLOOM.update(BLOOM.zero(spec), keys, spec), spec)
    assert hashlib.sha256(buf).hexdigest() == digest
    _, state, sp = deserialize_any(buf)
    assert sp == spec
    assert BLOOM.contains(state, keys, spec).all()
    assert int(BLOOM.contains(state, [f"x{i}" for i in range(1000)], spec).sum()) == false_hits
    assert BLOOM.estimate(state, spec) == pytest.approx(estimate, rel=1e-12)


# --- t-digest ----------------------------------------------------------------


def _td_build(vals, spec, chunks=1):
    st = TD.zero(spec)
    for part in np.array_split(np.asarray(vals, dtype=float), chunks):
        st = TD.update(st, part, spec)
    return st


@pytest.mark.parametrize("dist", ["uniform", "normal", "lognormal"])
def test_tdigest_quantile_accuracy(dist):
    rng = np.random.RandomState(11)
    vals = getattr(rng, dist)(size=100000)
    spec = TDigestSpec(compression=100)
    st = _td_build(vals, spec, chunks=10)
    s = np.sort(vals)
    for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
        est = TD.quantile(st, q, spec)
        # rank error: the estimated value's true rank must be near q
        rank = np.searchsorted(s, est) / len(s)
        assert abs(rank - q) < 0.02, (dist, q, rank)


def test_tdigest_extremes_exact():
    spec = TDigestSpec()
    vals = np.arange(10000, dtype=float)
    st = _td_build(vals, spec, chunks=4)
    assert TD.quantile(st, 0.0, spec) == 0.0
    assert TD.quantile(st, 1.0, spec) == 9999.0


def test_tdigest_merge_accuracy_under_sharding():
    rng = np.random.RandomState(5)
    vals = rng.normal(size=60000)
    spec = TDigestSpec(compression=100)
    shards = [_td_build(v, spec) for v in np.array_split(vals, 8)]
    merged = TD.zero(spec)
    for sh in shards:
        merged = TD.merge(merged, sh, spec)
    s = np.sort(vals)
    for q in (0.05, 0.5, 0.95):
        rank = np.searchsorted(s, TD.quantile(merged, q, spec)) / len(s)
        assert abs(rank - q) < 0.02
    assert merged.total == len(vals)  # weight is conserved exactly


def test_tdigest_bounded_size_and_serde():
    spec = TDigestSpec(compression=100)
    st = _td_build(np.random.RandomState(0).uniform(size=200000), spec, chunks=20)
    assert len(st.means) < 2 * spec.compression  # size independent of n
    acc, st2, sp = deserialize_any(TD.serialize(st, spec))
    assert sp == spec
    assert np.array_equal(st2.means, st.means) and np.array_equal(st2.weights, st.weights)
    assert TD.quantile(st2, 0.5, sp) == TD.quantile(st, 0.5, spec)


def test_tdigest_empty_and_single():
    spec = TDigestSpec()
    assert math.isnan(TD.estimate(TD.zero(spec), spec))
    st = TD.update(TD.zero(spec), [42.0], spec)
    assert TD.quantile(st, 0.5, spec) == 42.0


# --- KLL ---------------------------------------------------------------------


def test_kll_rank_accuracy():
    rng = np.random.RandomState(9)
    vals = rng.normal(size=100000)
    spec = KllSpec(k=200)
    st = KLL.zero(spec)
    for chunk in np.array_split(vals, 20):
        st = KLL.update(st, chunk, spec)
    s = np.sort(vals)
    for q in (0.01, 0.1, 0.5, 0.9, 0.99):
        est = KLL.quantile(st, q, spec)
        rank = np.searchsorted(s, est) / len(s)
        assert abs(rank - q) < 0.03, (q, rank)
    assert st.n == len(vals)


def test_kll_merge_accuracy():
    rng = np.random.RandomState(2)
    vals = rng.uniform(size=80000)
    spec = KllSpec(k=200)
    shards = []
    for v in np.array_split(vals, 16):
        st = KLL.zero(spec)
        shards.append(KLL.update(st, v, spec))
    merged = KLL.zero(spec)
    for sh in shards:
        merged = KLL.merge(merged, sh, spec)
    assert merged.n == len(vals)
    for q in (0.1, 0.5, 0.9):
        assert abs(KLL.quantile(merged, q, spec) - q) < 0.03


def test_kll_deterministic():
    spec = KllSpec(k=128)
    vals = np.random.RandomState(7).normal(size=30000)
    a, b = KLL.zero(spec), KLL.zero(spec)
    for chunk in np.array_split(vals, 10):
        a = KLL.update(a, chunk, spec)
        b = KLL.update(b, chunk, spec)
    assert KLL.serialize(a, spec) == KLL.serialize(b, spec)


def test_kll_bounded_memory_and_serde():
    spec = KllSpec(k=200)
    st = KLL.zero(spec)
    for chunk in np.array_split(np.random.RandomState(1).uniform(size=400000), 40):
        st = KLL.update(st, chunk, spec)
    stored = sum(len(b) for b in st.levels)
    assert stored < 3 * spec.k * 3  # O(k log(n/k)) in practice ≪ n
    acc, st2, sp = deserialize_any(KLL.serialize(st, spec))
    assert sp == spec and st2.n == st.n
    assert KLL.quantile(st2, 0.5, sp) == KLL.quantile(st, 0.5, spec)


def test_kll_rank_query():
    spec = KllSpec(k=200)
    st = KLL.update(KLL.zero(spec), np.arange(10000, dtype=float), spec)
    assert abs(KLL.rank(st, 2500.0, spec) - 0.25) < 0.03
