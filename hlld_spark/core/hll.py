"""Dense HyperLogLog core: register algebra + the reference estimator chain.

Semantics-parity notes (every behavior cross-checked against goldens
generated from the compiled reference, tests/golden/reference_goldens.tsv):

* register update: ``idx = hash >> (64-p)``; ``w = (hash << p) | 1 << (p-1)``;
  ``rho = clz64(w) + 1``; ``reg[idx] = max(reg[idx], rho)``
  — /root/reference/src/hll.c:142-156
* merge is register-wise max (the update rule is commutative/idempotent,
  so distributed merge == the reference's shared-array concurrent update)
  — /root/reference/src/hll.c:153-155
* estimator chain: raw harmonic-mean estimate with alpha constants
  (/root/reference/src/hll.c:162-191), bias correction via
  nearest-neighbor interpolation in the empirical tables from the Google
  "HyperLogLog in Practice" paper when raw ≤ 5m
  (/root/reference/src/hll.c:227-255, tables src/hll_constants.c),
  linear counting when any register is zero
  (/root/reference/src/hll.c:197-201), branch selection against
  switchThreshold (/root/reference/src/hll.c:281-285).
  The reference's idiosyncratic binary search (src/hll.c:207-220,
  ``high = mid - 1`` on less-than, returns ``low``) is replicated
  verbatim rather than "fixed".
* precision p ∈ [4, 18] (/root/reference/src/hll.h:8-9); 6-bit registers
  packed 5 per uint32 word for the serialized layout
  (/root/reference/src/hll.c:20-22,105-121), byte size
  ``ceil(2^p/5)*4`` (/root/reference/src/hll.c:336-349).

In memory registers live as a flat ``numpy.uint8[2^p]`` array (fast
vectorized max); the 5-per-word packing is applied only at the
serialization boundary so stored sketches are byte-portable with the
reference's ``registers.mmap`` files.
"""

from __future__ import annotations

import math
from importlib import resources

import numpy as np

HLL_MIN_PRECISION = 4  # /root/reference/src/hll.h:8
HLL_MAX_PRECISION = 18  # /root/reference/src/hll.h:9
DEFAULT_PRECISION = 12  # /root/reference/src/config.c:26-27 (default eps 0.02 → p 12)
DEFAULT_EPS = 0.02

_REG_WIDTH = 6
_REG_PER_WORD = 5

_U64 = np.uint64

# 2^-v lookup for the harmonic sum (register values are ≤ 64)
_POW2_NEG = 2.0 ** -np.arange(64, dtype=np.float64)


def _load_tables():
    with resources.files("hlld_spark.core").joinpath("hll_bias_tables.npz").open("rb") as f:
        z = np.load(f)
        thr = z["switch_threshold"].copy()
        raw = [z[f"raw_p{p}"].copy() for p in range(4, 19)]
        bias = [z[f"bias_p{p}"].copy() for p in range(4, 19)]
    return thr, raw, bias


_SWITCH_THRESHOLD, _RAW_ESTIMATE, _BIAS = _load_tables()


def precision_for_error(err: float) -> int:
    """Minimum precision hitting a target error — src/hll.c:296-308.
    Returns -1 for err outside (0, 1)."""
    if err >= 1 or err <= 0:
        return -1
    return math.ceil(math.log2((1.04 / err) ** 2))


def error_for_precision(prec: int) -> float:
    """1.04 / sqrt(2^p); 0 outside [4,18] — src/hll.c:317-328."""
    if prec < HLL_MIN_PRECISION or prec > HLL_MAX_PRECISION:
        return 0.0
    return 1.04 / math.sqrt(2**prec)


def bytes_for_precision(prec: int) -> int:
    """ceil(2^p/5)*4; 0 outside [4,18] — src/hll.c:336-349."""
    if prec < HLL_MIN_PRECISION or prec > HLL_MAX_PRECISION:
        return 0
    reg = 1 << prec
    words = (reg + _REG_PER_WORD - 1) // _REG_PER_WORD
    return words * 4


def new_registers(precision: int) -> np.ndarray:
    """Zeroed register vector (O1)."""
    if precision < HLL_MIN_PRECISION or precision > HLL_MAX_PRECISION:
        raise ValueError(f"precision must be in [{HLL_MIN_PRECISION},{HLL_MAX_PRECISION}]")
    return np.zeros(1 << precision, dtype=np.uint8)


_P1 = _U64(0x5555555555555555)
_P2 = _U64(0x3333333333333333)
_P4 = _U64(0x0F0F0F0F0F0F0F0F)
_PM = _U64(0x0101010101010101)


def _clz64(w: np.ndarray) -> np.ndarray:
    """Exact vectorized count-leading-zeros for uint64 (no float
    round-trip — float64 can't represent all uint64 exactly).

    Bit-smear (w becomes 2^(64−clz) − 1) then SWAR popcount; all
    in-place vector ops, no boolean scatter."""
    w = w.copy()
    t = np.empty_like(w)
    for s in (1, 2, 4, 8, 16, 32):
        np.right_shift(w, _U64(s), out=t)
        np.bitwise_or(w, t, out=w)
    # SWAR popcount of the smeared value
    np.right_shift(w, _U64(1), out=t)
    np.bitwise_and(t, _P1, out=t)
    np.subtract(w, t, out=w)
    np.right_shift(w, _U64(2), out=t)
    np.bitwise_and(t, _P2, out=t)
    np.bitwise_and(w, _P2, out=w)
    np.add(w, t, out=w)
    np.right_shift(w, _U64(4), out=t)
    np.add(w, t, out=w)
    np.bitwise_and(w, _P4, out=w)
    np.multiply(w, _PM, out=w)
    np.right_shift(w, _U64(56), out=w)
    return (_U64(64) - w).astype(np.uint8)


def rho_values(hashes: np.ndarray, precision: int) -> tuple[np.ndarray, np.ndarray]:
    """(register index, rank) per hash — src/hll.c:142-151.

    Mirrors the C exactly, including ``1 << (p-1)`` being a 32-bit int
    (harmless here: p ≤ 18 keeps it well under 2^31).
    """
    p = _U64(precision)
    idx = (hashes >> (_U64(64) - p)).astype(np.int64)
    w = (hashes << p) | _U64(1 << (precision - 1))
    rho = _clz64(w) + np.uint8(1)
    return idx, rho


def combined_from_hashes(hashes: np.ndarray, precision: int) -> np.ndarray:
    """Pack each hash's (register index, rho) into one uint64
    (idx << 8 | rho) — the unit of both dense scatter and sparse
    accumulation."""
    idx, rho = rho_values(hashes, precision)
    return (idx.astype(_U64) << _U64(8)) | rho.astype(_U64)


def add_combined(registers: np.ndarray, combined: np.ndarray) -> np.ndarray:
    """Scatter-max packed (idx, rho) pairs into the register vector.

    One sort + reduce-by-last instead of ``np.maximum.at`` (ufunc.at is
    an order of magnitude slower on large batches). ``combined`` may be
    modified (sorted) in place.
    """
    if len(combined) == 0:
        return registers
    combined.sort()
    idx_s = (combined >> _U64(8)).astype(np.int64)
    last = np.empty(len(idx_s), dtype=bool)
    last[-1] = True
    np.not_equal(idx_s[1:], idx_s[:-1], out=last[:-1])
    tgt = idx_s[last]
    val = (combined[last] & _U64(0xFF)).astype(np.uint8)
    registers[tgt] = np.maximum(registers[tgt], val)
    return registers


def add_hashes(registers: np.ndarray, hashes: np.ndarray, precision: int) -> np.ndarray:
    """Scatter-max a batch of 64-bit hashes into the register vector (O3)."""
    if len(hashes) == 0:
        return registers
    return add_combined(registers, combined_from_hashes(hashes, precision))


def merge(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Register-wise max (O4) — the distributed restatement of the
    reference's concurrent shared-array update (src/hll.c:153-155)."""
    return np.maximum(a, b)


def _alpha(precision: int) -> float:
    # src/hll.c:162-173
    if precision == 4:
        return 0.673
    if precision == 5:
        return 0.697
    if precision == 6:
        return 0.709
    return 0.7213 / (1 + 1.079 / (1 << precision))


def _binary_search(val: float, num: int, array: np.ndarray) -> int:
    # verbatim replication of src/hll.c:207-220 (note high = mid - 1 on
    # the less-than branch — NOT textbook bisect; do not "fix")
    low, high = 0, num - 1
    while low < high:
        mid = (low + high) // 2
        if val > array[mid]:
            low = mid + 1
        elif val == array[mid]:
            return mid
        else:
            high = mid - 1
    return low


def _bias_estimate(precision: int, raw_est: float) -> float:
    # src/hll.c:227-255; sample counts 80/160/200 clamped to the actual
    # table length (the p=4 table ships 79 entries)
    if precision == 4:
        samples = 80
    elif precision == 5:
        samples = 160
    else:
        samples = 200
    estimates = _RAW_ESTIMATE[precision - 4]
    biases = _BIAS[precision - 4]
    samples = min(samples, len(estimates))
    idx = _binary_search(raw_est, samples, estimates)
    if idx == 0:
        return float(biases[0])
    if idx == samples:
        return float(biases[samples - 1])
    return float(biases[idx] + biases[idx - 1]) / 2


def cardinality(registers: np.ndarray, precision: int) -> float:
    """Full estimator chain (O5) — src/hll.c:262-286."""
    m = 1 << precision
    counts = np.bincount(registers, minlength=64)
    num_zero = int(counts[0])
    inv_sum = float(np.dot(counts[:64].astype(np.float64), _POW2_NEG))
    raw_est = _alpha(precision) * m * m * (1.0 / inv_sum)

    if raw_est <= 5 * m:
        raw_est -= _bias_estimate(precision, raw_est)

    if num_zero:
        alt_est = m * math.log(m / num_zero)
    else:
        alt_est = raw_est

    if alt_est <= float(_SWITCH_THRESHOLD[precision - 4]):
        return alt_est
    return raw_est


# ---------------------------------------------------------------------------
# serialization: 6-bit registers packed 5 per little-endian uint32 word,
# byte-compatible with the reference's registers.mmap (src/hll.c:105-121)
# ---------------------------------------------------------------------------


def pack_registers(registers: np.ndarray) -> bytes:
    m = len(registers)
    words_n = (m + _REG_PER_WORD - 1) // _REG_PER_WORD
    padded = np.zeros(words_n * _REG_PER_WORD, dtype=np.uint32)
    padded[:m] = registers
    lanes = padded.reshape(words_n, _REG_PER_WORD)
    words = np.zeros(words_n, dtype=np.uint32)
    for k in range(_REG_PER_WORD):
        words |= lanes[:, k] << np.uint32(_REG_WIDTH * k)
    return words.astype("<u4").tobytes()


def unpack_registers(buf: bytes, precision: int) -> np.ndarray:
    m = 1 << precision
    words = np.frombuffer(buf, dtype="<u4")
    out = np.empty(len(words) * _REG_PER_WORD, dtype=np.uint8)
    mask = np.uint32((1 << _REG_WIDTH) - 1)
    for k in range(_REG_PER_WORD):
        out[k::_REG_PER_WORD] = ((words >> np.uint32(_REG_WIDTH * k)) & mask).astype(np.uint8)
    return out[:m]


def serialize(registers: np.ndarray, precision: int) -> bytes:
    """Column format: 4-byte magic + type tag + precision + packed words.
    The packed-words payload is exactly the reference's mmap layout."""
    from .accumulator import KIND_HLL, MAGIC  # accumulator imports this module

    return MAGIC + bytes([KIND_HLL, precision]) + pack_registers(registers)


def deserialize(buf: bytes) -> tuple[np.ndarray, int]:
    from .accumulator import KIND_HLL, MAGIC

    if buf[:4] != MAGIC or buf[4] != KIND_HLL:
        raise ValueError("not a serialized HLL sketch")
    precision = buf[5]
    size = bytes_for_precision(precision)
    if not size or len(buf) != 6 + size:
        raise ValueError(f"not a valid HLL sketch: precision {precision}, {len(buf)} bytes")
    regs = unpack_registers(buf[6:], precision)
    return regs, precision


def to_hlld_bytes(registers: np.ndarray) -> bytes:
    """Raw packed layout == the reference's on-disk registers.mmap."""
    return pack_registers(registers)


def from_hlld_bytes(buf: bytes, precision: int) -> np.ndarray:
    return unpack_registers(buf, precision)
