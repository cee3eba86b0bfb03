"""KLL: mergeable streaming-quantile sketch (compactor merge).

Brief-mandated companion (BASELINE.json north_rule); algorithm from
Karnin, Lang & Liberty, "Optimal quantile approximation in streams"
(FOCS 2016). Levels of compactors: level h holds items each weighing
2^h; a full level sorts, keeps every other item, and pushes the rest
up one level. Level capacities decay geometrically (c = 2/3) down to
a floor of 8.

Determinism: the standard algorithm picks the odd/even half at random;
we derive the choice from a counter folded into the state (parity
flips per compaction), so identical input sequences give identical
states and a (state, input) pair is reproducible across retries —
required for Spark task retry idempotence. Rank-error guarantees hold
for either choice. Like t-digest, merges are approximately associative;
property tests assert rank accuracy, not byte equality.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .accumulator import KIND_KLL, MAGIC, float64_batch, register_accumulator

_C = 2.0 / 3.0
_MIN_CAP = 8


@dataclass(frozen=True)
class KllSpec:
    k: int = 200

    kind = "kll"

    def __post_init__(self):
        if self.k < 8:
            raise ValueError("kll k must be ≥ 8")


class _KLL:
    __slots__ = ("levels", "n", "parity")

    def __init__(self, levels, n=0, parity=0):
        self.levels = levels  # list[np.float64 array]; level h items weigh 2^h
        self.n = n
        self.parity = parity


def _capacity(spec: KllSpec, level: int, num_levels: int) -> int:
    depth = num_levels - level - 1
    return max(_MIN_CAP, int(np.ceil(spec.k * (_C**depth))))


def _compact(state: _KLL, spec: KllSpec) -> None:
    """Compact the lowest over-full level (repeat until all fit)."""
    while True:
        nl = len(state.levels)
        total_cap = sum(_capacity(spec, h, nl) for h in range(nl))
        if sum(len(b) for b in state.levels) <= total_cap:
            return
        for h in range(nl):
            if len(state.levels[h]) > _capacity(spec, h, nl):
                buf = np.sort(state.levels[h])
                keep = buf[state.parity :: 2]
                state.parity ^= 1
                state.levels[h] = buf[:0]
                if h + 1 == nl:
                    state.levels.append(keep)
                else:
                    state.levels[h + 1] = np.concatenate([state.levels[h + 1], keep])
                break
        else:
            return


class KllAccumulator:
    kind = "kll"
    tag = KIND_KLL

    def zero(self, spec: KllSpec) -> _KLL:
        return _KLL([np.zeros(0, dtype=np.float64)])

    def prepare_batch(self, values, spec=None):
        return float64_batch(values)

    def update_prepared(self, state: _KLL, prepared: np.ndarray, idx, spec: KllSpec) -> _KLL:
        return self._ingest(state, prepared[idx], spec)

    def update(self, state: _KLL, values, spec: KllSpec) -> _KLL:
        return self._ingest(state, float64_batch(values), spec)

    def _ingest(self, state: _KLL, vals: np.ndarray, spec: KllSpec) -> _KLL:
        vals = vals[~np.isnan(vals)]
        if len(vals) == 0:
            return state
        state.levels[0] = np.concatenate([state.levels[0], vals])
        state.n += len(vals)
        _compact(state, spec)
        return state

    def merge(self, a: _KLL, b: _KLL, spec: KllSpec) -> _KLL:
        nl = max(len(a.levels), len(b.levels))
        levels = []
        for h in range(nl):
            bufs = []
            if h < len(a.levels):
                bufs.append(a.levels[h])
            if h < len(b.levels):
                bufs.append(b.levels[h])
            levels.append(np.concatenate(bufs) if bufs else np.zeros(0, dtype=np.float64))
        out = _KLL(levels, a.n + b.n, a.parity ^ b.parity)
        _compact(out, spec)
        return out

    def quantile(self, state: _KLL, q: float, spec: KllSpec) -> float:
        items, weights = [], []
        for h, buf in enumerate(state.levels):
            if len(buf):
                items.append(buf)
                weights.append(np.full(len(buf), 2.0**h))
        if not items:
            return float("nan")
        items = np.concatenate(items)
        weights = np.concatenate(weights)
        order = np.argsort(items, kind="stable")
        items, weights = items[order], weights[order]
        cum = np.cumsum(weights)
        target = q * cum[-1]
        i = int(np.searchsorted(cum, target, side="left"))
        return float(items[min(i, len(items) - 1)])

    def rank(self, state: _KLL, value: float, spec: KllSpec) -> float:
        """Estimated fraction of items ≤ value."""
        total = 0.0
        below = 0.0
        for h, buf in enumerate(state.levels):
            if len(buf):
                w = 2.0**h
                total += w * len(buf)
                below += w * int(np.searchsorted(np.sort(buf), value, side="right"))
        return below / total if total else float("nan")

    def estimate(self, state: _KLL, spec: KllSpec) -> float:
        return self.quantile(state, 0.5, spec)

    def serialize(self, state: _KLL, spec: KllSpec) -> bytes:
        head = MAGIC + bytes([self.tag, 0])
        meta = np.array([spec.k, len(state.levels), state.n, state.parity], dtype="<i8").tobytes()
        sizes = np.array([len(b) for b in state.levels], dtype="<i8").tobytes()
        bufs = b"".join(b.astype("<f8").tobytes() for b in state.levels)
        return head + meta + sizes + bufs

    def deserialize(self, buf: bytes) -> tuple[_KLL, KllSpec]:
        if buf[:4] != MAGIC or buf[4] != self.tag:
            raise ValueError("not a serialized KLL sketch")
        k, nl, n, parity = (int(x) for x in np.frombuffer(buf[6:38], dtype="<i8"))
        sizes = np.frombuffer(buf[38 : 38 + 8 * nl], dtype="<i8")
        if len(sizes) != nl or len(buf) != 38 + 8 * nl + 8 * int(sizes.sum()):
            raise ValueError(f"a KLL sketch of {nl} levels needs 38 + 8·levels + 8·Σsizes bytes, got {len(buf)}")
        off = 38 + 8 * nl
        levels = []
        for s in sizes:
            s = int(s)
            levels.append(np.frombuffer(buf[off : off + 8 * s], dtype="<f8").copy())
            off += 8 * s
        return _KLL(levels, n, parity), KllSpec(k=k)


register_accumulator(KllAccumulator())
