"""HLL core parity + property tests.

Mirrors the reference unit suite (tests/test_hll.c, tests/test_set.c)
plus the property-style merge-algebra requirements from BASELINE.md.
"""

import numpy as np
import pytest

from hlld_spark.core import hll
from hlld_spark.core.hashing import hll_hash
from tests.conftest import load_goldens


# --- golden conversions (reference tests/test_hll.c:134-163) ---------------


def test_precision_for_error():
    assert hll.precision_for_error(1.0) == -1
    assert hll.precision_for_error(0.0) == -1
    assert hll.precision_for_error(0.02) == 12
    assert hll.precision_for_error(0.01) == 14
    assert hll.precision_for_error(0.005) == 16


def test_error_for_precision():
    assert hll.error_for_precision(3) == 0
    assert hll.error_for_precision(20) == 0
    assert hll.error_for_precision(12) == pytest.approx(0.01625)
    assert hll.error_for_precision(10) == pytest.approx(0.0325)
    assert hll.error_for_precision(16) == pytest.approx(0.0040625)


def test_bytes_for_precision():
    assert hll.bytes_for_precision(3) == 0
    assert hll.bytes_for_precision(20) == 0
    assert hll.bytes_for_precision(12) == 3280
    assert hll.bytes_for_precision(10) == 820
    assert hll.bytes_for_precision(16) == 52432


def test_init_bounds():
    with pytest.raises(ValueError):
        hll.new_registers(3)
    with pytest.raises(ValueError):
        hll.new_registers(19)
    for p in (4, 12, 18):
        r = hll.new_registers(p)
        assert len(r) == 1 << p and r.dtype == np.uint8 and not r.any()


# --- estimator parity vs the compiled reference -----------------------------


def _build(prec, n, pat="test"):
    regs = hll.new_registers(prec)
    if n:
        hll.add_hashes(regs, hll_hash([f"{pat}{i}" for i in range(n)]), prec)
    return regs


@pytest.mark.parametrize("prec,n,expected", [(int(a), int(b), float(c)) for a, b, c in load_goldens("SIZE")])
def test_estimator_parity(prec, n, expected):
    got = hll.cardinality(_build(prec, n), prec)
    if expected == 0:
        assert got == 0
    else:
        # only float-summation-order noise allowed vs the reference binary
        assert got == pytest.approx(expected, rel=1e-8)


def test_estimator_parity_foobar():
    (prec, n, expected), = [(int(a), int(b), float(c)) for a, b, c in load_goldens("SIZE_FOOBAR")]
    got = hll.cardinality(_build(prec, n, "foobar"), prec)
    assert got == pytest.approx(expected, rel=1e-8)


def test_register_bytes_identical_to_reference():
    for parts in load_goldens("REGS"):
        prec, n = int(parts[0]), int(parts[1])
        words = np.array([int(x) for x in parts[2:]], dtype=np.uint32)
        regs = _build(prec, n)
        mine = np.frombuffer(hll.pack_registers(regs), dtype="<u4")
        assert np.array_equal(mine, words)


# --- accuracy windows (reference tests/test_hll.c:62-132, test_set.c:143-151)


def test_accuracy_window_p10_100():
    est = hll.cardinality(_build(10, 100), 10)
    assert 95 < est < 105


def test_accuracy_window_p14_10k():
    est = hll.cardinality(_build(14, 10000), 14)
    assert 9900 < est < 10100


def test_accuracy_window_p12_foobar_10k():
    est = hll.cardinality(_build(12, 10000, "foobar"), 12)
    assert 9800 < est < 10200


@pytest.mark.parametrize("prec", [10, 12, 14])
@pytest.mark.parametrize("n", [10, 100, 1000, 10000])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_error_bound_sweep(prec, n, seed):
    """|est - n| / n ≤ 1.04/sqrt(2^p) plus slack for small-n counting noise.

    The bound is a standard deviation, not a hard max, so allow 3 sigma.
    """
    keys = [f"s{seed}k{i}" for i in range(n)]
    regs = hll.new_registers(prec)
    hll.add_hashes(regs, hll_hash(keys), prec)
    est = hll.cardinality(regs, prec)
    bound = 3 * hll.error_for_precision(prec)
    assert abs(est - n) / n <= max(bound, 0.05), (prec, n, seed, est)


# --- merge algebra (property-style; BASELINE.md / FIXTURES.md F4) -----------


def _shard_registers(keys, prec, n_shards, perm_seed):
    rng = np.random.RandomState(perm_seed)
    assign = rng.randint(0, n_shards, size=len(keys))
    shards = []
    for s in range(n_shards):
        regs = hll.new_registers(prec)
        sk = [k for k, a in zip(keys, assign) if a == s]
        if sk:
            hll.add_hashes(regs, hll_hash(sk), prec)
        shards.append(regs)
    return shards


@pytest.mark.parametrize("n_shards", [1, 2, 3, 8, 32])
@pytest.mark.parametrize("perm_seed", [0, 7, 42])
def test_shard_invariance(n_shards, perm_seed):
    prec = 12
    keys = [f"test{i}" for i in range(5000)]
    single = hll.new_registers(prec)
    hll.add_hashes(single, hll_hash(keys), prec)
    shards = _shard_registers(keys, prec, n_shards, perm_seed)
    merged = hll.new_registers(prec)
    for s in shards:
        merged = hll.merge(merged, s)
    assert np.array_equal(merged, single)


def test_merge_associative_commutative_idempotent():
    prec = 10
    a = _build(prec, 300)
    b = _build(prec, 500, "foobar")
    c = _build(prec, 200, "baz")
    assert np.array_equal(hll.merge(hll.merge(a, b), c), hll.merge(a, hll.merge(b, c)))
    assert np.array_equal(hll.merge(a, b), hll.merge(b, a))
    assert np.array_equal(hll.merge(a, a), a)
    zero = hll.new_registers(prec)
    assert np.array_equal(hll.merge(a, zero), a)


def test_add_idempotent():
    prec = 12
    keys = [f"dup{i % 100}" for i in range(10000)]  # heavy duplication
    regs = hll.new_registers(prec)
    hll.add_hashes(regs, hll_hash(keys), prec)
    once = hll.new_registers(prec)
    hll.add_hashes(once, hll_hash([f"dup{i}" for i in range(100)]), prec)
    assert np.array_equal(regs, once)


def test_incremental_equals_batch():
    prec = 12
    keys = [f"k{i}" for i in range(2000)]
    batch = hll.new_registers(prec)
    hll.add_hashes(batch, hll_hash(keys), prec)
    inc = hll.new_registers(prec)
    for i in range(0, 2000, 137):
        hll.add_hashes(inc, hll_hash(keys[i : i + 137]), prec)
    assert np.array_equal(batch, inc)


# --- serialization -----------------------------------------------------------


def test_serialize_roundtrip():
    for prec in (4, 10, 12, 18):
        regs = _build(prec, 500)
        buf = hll.serialize(regs, prec)
        regs2, prec2 = hll.deserialize(buf)
        assert prec2 == prec
        assert np.array_equal(regs2, regs)
        assert len(buf) == 6 + hll.bytes_for_precision(prec)


def test_pack_unpack_random():
    rng = np.random.RandomState(7)
    for prec in (4, 10, 13):
        m = 1 << prec
        regs = rng.randint(0, 64, size=m).astype(np.uint8)
        assert np.array_equal(hll.unpack_registers(hll.pack_registers(regs), prec), regs)


def test_hlld_bytes_size_law():
    for prec in (10, 12, 16):
        regs = hll.new_registers(prec)
        assert len(hll.to_hlld_bytes(regs)) == hll.bytes_for_precision(prec)


def test_empty_is_zero():
    assert hll.cardinality(hll.new_registers(12), 12) == 0


def test_linear_counting_low_cardinality():
    # n << m exercises the linear-counting + switchThreshold branch
    for n in (1, 5, 10):
        est = hll.cardinality(_build(14, n), 14)
        assert est == pytest.approx(n, rel=0.01)
