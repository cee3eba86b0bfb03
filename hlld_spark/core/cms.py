"""Count-min sketch: mergeable frequency estimation (counter-wise SUM merge).

Brief-mandated companion (BASELINE.json north_rule) — NOT in the
reference, which is HLL-only; same accumulator interface as
hlld_spark.core.hll. Algorithm: Cormode & Muthukrishnan, "An improved
data stream summary: the count-min sketch and its applications" (2005).
Row hashes use Kirsch-Mitzenmacher double hashing g_j(x) = h1(x) + j·h2(x)
over our murmur3_x64_128 words, so updates are one vectorized hash pass.

Guarantees: point estimate overcounts only; err ≤ e/width · N with
probability ≥ 1 − e^(−depth). Merge = element-wise counter sum — exactly
associative/commutative (property-tested like HLL's register max).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .accumulator import KIND_CMS, MAGIC, register_accumulator
from .hashing import murmur3_x64_128

_U64 = np.uint64


@dataclass(frozen=True)
class CmsSpec:
    width: int = 2048
    depth: int = 5

    kind = "cms"

    def __post_init__(self):
        if self.width < 1 or self.depth < 1 or self.depth > 64:
            raise ValueError("cms width must be ≥1 and depth in [1,64]")

    @staticmethod
    def for_error(eps: float, delta: float = 0.01) -> "CmsSpec":
        """width = ceil(e/eps), depth = ceil(ln(1/delta)) (CM 2005)."""
        if not (0 < eps < 1) or not (0 < delta < 1):
            raise ValueError("eps and delta must be in (0,1)")
        return CmsSpec(width=math.ceil(math.e / eps), depth=math.ceil(math.log(1 / delta)))

    @property
    def error(self) -> float:
        return math.e / self.width


def _positions(h1: np.ndarray, h2: np.ndarray, depth: int, width: int) -> np.ndarray:
    """(depth, n) int64 bucket positions via double hashing."""
    j = np.arange(depth, dtype=np.uint64)[:, None]
    return ((h1[None, :] + j * h2[None, :]) % _U64(width)).astype(np.int64)


class CmsAccumulator:
    kind = "cms"
    tag = KIND_CMS

    def zero(self, spec: CmsSpec) -> np.ndarray:
        return np.zeros((spec.depth, spec.width), dtype=np.int64)

    def prepare_batch(self, values, spec=None):
        return murmur3_x64_128(values)

    def update_prepared(self, state, prepared, idx, spec: CmsSpec):
        h1, h2 = prepared
        return self._add(state, h1[idx], h2[idx], spec)

    def update(self, state: np.ndarray, values, spec: CmsSpec) -> np.ndarray:
        h1, h2 = murmur3_x64_128(values)
        return self._add(state, h1, h2, spec)

    @staticmethod
    def _add(state: np.ndarray, h1: np.ndarray, h2: np.ndarray, spec: CmsSpec) -> np.ndarray:
        if len(h1) == 0:
            return state
        pos = _positions(h1, h2, spec.depth, spec.width)
        for j in range(spec.depth):  # depth is tiny (~5); rows vectorized
            state[j] += np.bincount(pos[j], minlength=spec.width)
        return state

    def merge(self, a: np.ndarray, b: np.ndarray, spec: CmsSpec) -> np.ndarray:
        if a.shape != b.shape:
            raise ValueError(f"cannot merge CMS of different shapes ({a.shape} vs {b.shape})")
        return a + b

    def point_estimate(self, state: np.ndarray, values, spec: CmsSpec) -> np.ndarray:
        """Estimated frequency per queried value (min over rows)."""
        h1, h2 = murmur3_x64_128(values)
        if len(h1) == 0:
            return np.zeros(0, dtype=np.int64)
        pos = _positions(h1, h2, spec.depth, spec.width)
        ests = np.stack([state[j][pos[j]] for j in range(spec.depth)])
        return ests.min(axis=0)

    def estimate(self, state: np.ndarray, spec: CmsSpec) -> float:
        """Scalar default: total ingested count (exact — row 0 sum)."""
        return float(state[0].sum())

    def serialize(self, state: np.ndarray, spec: CmsSpec) -> bytes:
        head = MAGIC + bytes([self.tag, 0])
        dims = np.array([spec.depth, spec.width], dtype="<u4").tobytes()
        return head + dims + state.astype("<i8").tobytes()

    def deserialize(self, buf: bytes) -> tuple[np.ndarray, CmsSpec]:
        if buf[:4] != MAGIC or buf[4] != self.tag:
            raise ValueError("not a serialized CMS sketch")
        depth, width = np.frombuffer(buf[6:14], dtype="<u4")
        state = np.frombuffer(buf[14:], dtype="<i8").reshape(int(depth), int(width)).copy()
        return state, CmsSpec(width=int(width), depth=int(depth))


register_accumulator(CmsAccumulator())
