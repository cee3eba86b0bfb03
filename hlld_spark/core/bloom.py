"""Bloom filter: mergeable set-membership sketch (bitwise-OR merge).

Brief-mandated companion (BASELINE.json north_rule); algorithm from
Bloom (1970) with the standard k-hash construction via
Kirsch-Mitzenmacher double hashing over murmur3_x64_128's two words.

State, in memory and serialized alike, is the m bits packed into
⌈m/8⌉ bytes in ``np.packbits`` order: bit i is ``0x80 >> (i & 7)`` of
byte ``i >> 3``, and the pad bits of the last byte stay zero. Merge is
a bytewise OR and (de)serialization is a copy. The layout is known only
to this module; callers holding raw hashes use ``add_hashes`` and
``contains_hashes``.
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


_MASKS = np.uint8(0x80) >> np.arange(8, dtype=np.uint8)  # bit i of a byte is _MASKS[i]
_POPCOUNT = np.array([bin(b).count("1") for b in range(256)], dtype=np.uint8)


class BloomAccumulator:
    kind = "bloom"
    tag = KIND_BLOOM

    def zero(self, spec: BloomSpec) -> np.ndarray:
        return np.zeros((spec.bits + 7) // 8, dtype=np.uint8)

    def prepare_batch(self, values, spec=None):
        return murmur3_x64_128(values)

    def update_prepared(self, state, prepared, idx, spec: BloomSpec):
        h1, h2 = prepared
        return self.add_hashes(state, h1[idx], h2[idx], spec)

    def update(self, state: np.ndarray, values, spec: BloomSpec) -> np.ndarray:
        return self.add_hashes(state, *murmur3_x64_128(values), spec)

    @staticmethod
    def add_hashes(state: np.ndarray, h1: np.ndarray, h2: np.ndarray, spec: BloomSpec) -> np.ndarray:
        """Set the k bits of each (h1, h2) hash pair, in place."""
        pos = _positions(h1, h2, spec.hashes, spec.bits).ravel()
        np.bitwise_or.at(state, pos >> 3, _MASKS[pos & 7])  # unbuffered: repeated bytes keep every bit
        return state

    @staticmethod
    def contains_hashes(state: np.ndarray, h1: np.ndarray, h2: np.ndarray, spec: BloomSpec) -> np.ndarray:
        """Per (h1, h2) pair: are all k of its bits set?"""
        pos = _positions(h1, h2, spec.hashes, spec.bits)
        return (state[pos >> 3] & _MASKS[pos & 7]).all(axis=0)

    def merge(self, a: np.ndarray, b: np.ndarray, spec: BloomSpec) -> np.ndarray:
        if a.shape != b.shape:
            raise ValueError(f"cannot merge Blooms of different sizes ({a.shape} vs {b.shape})")
        return np.bitwise_or(a, b)

    def contains(self, state: np.ndarray, values, spec: BloomSpec) -> np.ndarray:
        return self.contains_hashes(state, *murmur3_x64_128(values), spec)

    def estimate(self, state: np.ndarray, spec: BloomSpec) -> float:
        """Fill-ratio cardinality estimate (Swamidass & Baldi)."""
        x = int(_POPCOUNT[state].sum(dtype=np.int64))
        if x == 0:
            return 0.0
        if x >= spec.bits:
            return float("inf")
        return -(spec.bits / spec.hashes) * math.log(1 - x / spec.bits)

    def serialize(self, state: np.ndarray, spec: BloomSpec) -> bytes:
        head = MAGIC + bytes([self.tag, 0])
        dims = np.array([spec.bits, spec.hashes], dtype="<u4").tobytes()
        return head + dims + state.data

    def deserialize(self, buf: bytes) -> tuple[np.ndarray, BloomSpec]:
        if buf[:4] != MAGIC or buf[4] != self.tag:
            raise ValueError("not a serialized Bloom sketch")
        bits, hashes = (int(x) for x in np.frombuffer(buf[6:14], dtype="<u4"))
        if len(buf) != 14 + (bits + 7) // 8:
            raise ValueError(f"a Bloom sketch of {bits} bits is {14 + (bits + 7) // 8} bytes, got {len(buf)}")
        return np.frombuffer(buf, dtype=np.uint8, offset=14).copy(), BloomSpec(bits=bits, hashes=hashes)


register_accumulator(BloomAccumulator())
