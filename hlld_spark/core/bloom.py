"""Bloom filter: mergeable set-membership sketch (bitwise-OR merge).

Brief-mandated companion (BASELINE.json north_rule); algorithm from
Bloom (1970) with the standard k-hash construction via
Kirsch-Mitzenmacher double hashing over murmur3_x64_128's two words.

State lives in memory as one byte per bit (fast vectorized scatter and
merge via max); the serialized form is bit-packed (m/8 bytes).
FPR ≈ (1 − e^(−kn/m))^k; fill-ratio cardinality estimate
n̂ = −(m/k)·ln(1 − X/m) where X = set bits (Swamidass & Baldi 2007).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .accumulator import KIND_BLOOM, MAGIC, register_accumulator
from .hashing import murmur3_x64_128

_U64 = np.uint64


@dataclass(frozen=True)
class BloomSpec:
    bits: int = 1 << 16
    hashes: int = 7

    kind = "bloom"

    def __post_init__(self):
        if self.bits < 8 or self.hashes < 1 or self.hashes > 64:
            raise ValueError("bloom bits must be ≥8 and hashes in [1,64]")

    @staticmethod
    def for_capacity(n: int, fpr: float = 0.01) -> "BloomSpec":
        """m = ceil(−n·ln p / ln²2), k = round(m/n·ln 2)."""
        if n < 1 or not (0 < fpr < 1):
            raise ValueError("n must be ≥1 and fpr in (0,1)")
        m = math.ceil(-n * math.log(fpr) / (math.log(2) ** 2))
        m = ((m + 7) // 8) * 8
        k = max(1, round(m / n * math.log(2)))
        return BloomSpec(bits=m, hashes=min(k, 64))

    def fpr_at(self, n: int) -> float:
        return (1 - math.exp(-self.hashes * n / self.bits)) ** self.hashes


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    j = np.arange(k, dtype=np.uint64)[:, None]
    return ((h1[None, :] + j * h2[None, :]) % _U64(m)).astype(np.int64)


class BloomAccumulator:
    kind = "bloom"
    tag = KIND_BLOOM

    def zero(self, spec: BloomSpec) -> np.ndarray:
        return np.zeros(spec.bits, dtype=np.uint8)  # byte-per-bit in memory

    def prepare_batch(self, values, spec=None):
        return murmur3_x64_128(values)

    def update_prepared(self, state, prepared, idx, spec: BloomSpec):
        h1, h2 = prepared
        return self._add(state, h1[idx], h2[idx], spec)

    def update(self, state: np.ndarray, values, spec: BloomSpec) -> np.ndarray:
        h1, h2 = murmur3_x64_128(values)
        return self._add(state, h1, h2, spec)

    @staticmethod
    def _add(state: np.ndarray, h1: np.ndarray, h2: np.ndarray, spec: BloomSpec) -> np.ndarray:
        if len(h1) == 0:
            return state
        pos = _positions(h1, h2, spec.hashes, spec.bits)
        state[pos.ravel()] = 1  # duplicate positions are harmless
        return state

    def merge(self, a: np.ndarray, b: np.ndarray, spec: BloomSpec) -> np.ndarray:
        if a.shape != b.shape:
            raise ValueError(f"cannot merge Blooms of different sizes ({a.shape} vs {b.shape})")
        return np.maximum(a, b)  # byte-per-bit OR

    def contains(self, state: np.ndarray, values, spec: BloomSpec) -> np.ndarray:
        h1, h2 = murmur3_x64_128(values)
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        pos = _positions(h1, h2, spec.hashes, spec.bits)
        return state[pos].all(axis=0)

    def estimate(self, state: np.ndarray, spec: BloomSpec) -> float:
        """Fill-ratio cardinality estimate (Swamidass & Baldi)."""
        x = int(state.sum())
        if x == 0:
            return 0.0
        if x >= spec.bits:
            return float("inf")
        return -(spec.bits / spec.hashes) * math.log(1 - x / spec.bits)

    def serialize(self, state: np.ndarray, spec: BloomSpec) -> bytes:
        head = MAGIC + bytes([self.tag, 0])
        dims = np.array([spec.bits, spec.hashes], dtype="<u4").tobytes()
        return head + dims + np.packbits(state).tobytes()

    def deserialize(self, buf: bytes) -> tuple[np.ndarray, BloomSpec]:
        if buf[:4] != MAGIC or buf[4] != self.tag:
            raise ValueError("not a serialized Bloom sketch")
        bits, hashes = (int(x) for x in np.frombuffer(buf[6:14], dtype="<u4"))
        state = np.unpackbits(np.frombuffer(buf[14:], dtype=np.uint8))[:bits].copy()
        return state, BloomSpec(bits=bits, hashes=hashes)


register_accumulator(BloomAccumulator())
