"""t-digest: mergeable quantile sketch (centroid merge + compress).

Brief-mandated companion (BASELINE.json north_rule); algorithm from
Dunning & Ertl, "Computing extremely accurate quantiles using
t-digests" (the *merging* digest variant), with the k1 scale function
k(q) = δ/(2π)·asin(2q−1). Clustering is fully vectorized: sort the
combined centroid set, bucket by floor(k(q_mid)), and reduce each
bucket to its weighted mean with np.add.reduceat — no per-centroid
Python loop.

Unlike HLL/CMS/Bloom, t-digest merges are *approximately* associative
(the paper's guarantee is on rank error, not on byte equality);
property tests therefore assert quantile accuracy under sharding, not
byte-identical states.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .accumulator import KIND_TDIGEST, MAGIC, float64_batch, register_accumulator


@dataclass(frozen=True)
class TDigestSpec:
    compression: float = 100.0

    kind = "tdigest"

    def __post_init__(self):
        if self.compression < 20:
            raise ValueError("tdigest compression must be ≥ 20")


class _TD:
    __slots__ = ("means", "weights", "mn", "mx")

    def __init__(self, means, weights, mn=math.inf, mx=-math.inf):
        self.means = means  # float64, sorted
        self.weights = weights  # float64, > 0
        self.mn = mn
        self.mx = mx

    @property
    def total(self) -> float:
        return float(self.weights.sum())


def _kscale(q: np.ndarray, delta: float) -> np.ndarray:
    return delta / (2 * math.pi) * np.arcsin(2 * np.clip(q, 0.0, 1.0) - 1)


def _cluster(means: np.ndarray, weights: np.ndarray, delta: float) -> tuple[np.ndarray, np.ndarray]:
    """One merge-compress pass over sorted (mean, weight) pairs."""
    total = weights.sum()
    if total == 0:
        return means[:0], weights[:0]
    cum = np.cumsum(weights)
    qmid = (cum - weights / 2) / total
    buckets = np.floor(_kscale(qmid, delta) * 2).astype(np.int64)  # half-steps
    starts = np.flatnonzero(np.diff(buckets, prepend=buckets[0] - 1))
    w_out = np.add.reduceat(weights, starts)
    m_out = np.add.reduceat(means * weights, starts) / w_out
    return m_out, w_out


class TDigestAccumulator:
    kind = "tdigest"
    tag = KIND_TDIGEST

    def zero(self, spec: TDigestSpec) -> _TD:
        e = np.zeros(0, dtype=np.float64)
        return _TD(e.copy(), e.copy())

    def prepare_batch(self, values, spec=None):
        return float64_batch(values)

    def update_prepared(self, state: _TD, prepared: np.ndarray, idx, spec: TDigestSpec) -> _TD:
        return self._ingest(state, prepared[idx], spec)

    def update(self, state: _TD, values, spec: TDigestSpec) -> _TD:
        return self._ingest(state, float64_batch(values), spec)

    def _ingest(self, state: _TD, vals: np.ndarray, spec: TDigestSpec) -> _TD:
        vals = vals[~np.isnan(vals)]
        if len(vals) == 0:
            return state
        vals = np.sort(vals)
        means = np.concatenate([state.means, vals])
        weights = np.concatenate([state.weights, np.ones(len(vals))])
        order = np.argsort(means, kind="stable")
        m, w = _cluster(means[order], weights[order], spec.compression)
        return _TD(m, w, min(state.mn, float(vals[0])), max(state.mx, float(vals[-1])))

    def merge(self, a: _TD, b: _TD, spec: TDigestSpec) -> _TD:
        if len(b.means) == 0:
            return a
        if len(a.means) == 0:
            return b
        means = np.concatenate([a.means, b.means])
        weights = np.concatenate([a.weights, b.weights])
        order = np.argsort(means, kind="stable")
        m, w = _cluster(means[order], weights[order], spec.compression)
        return _TD(m, w, min(a.mn, b.mn), max(a.mx, b.mx))

    def quantile(self, state: _TD, q: float, spec: TDigestSpec) -> float:
        m, w = state.means, state.weights
        if len(m) == 0:
            return float("nan")
        if len(m) == 1:
            return float(m[0])
        total = w.sum()
        target = q * total
        cum = np.cumsum(w) - w / 2  # centroid midpoints in rank space
        if target <= cum[0]:
            return float(state.mn if math.isfinite(state.mn) else m[0])
        if target >= cum[-1]:
            return float(state.mx if math.isfinite(state.mx) else m[-1])
        i = int(np.searchsorted(cum, target) - 1)
        frac = (target - cum[i]) / (cum[i + 1] - cum[i])
        return float(m[i] + frac * (m[i + 1] - m[i]))

    def estimate(self, state: _TD, spec: TDigestSpec) -> float:
        """Scalar default: the median."""
        return self.quantile(state, 0.5, spec)

    def serialize(self, state: _TD, spec: TDigestSpec) -> bytes:
        head = MAGIC + bytes([self.tag, 0])
        meta = np.array([spec.compression, state.mn, state.mx, len(state.means)], dtype="<f8").tobytes()
        return head + meta + state.means.astype("<f8").tobytes() + state.weights.astype("<f8").tobytes()

    def deserialize(self, buf: bytes) -> tuple[_TD, TDigestSpec]:
        if buf[:4] != MAGIC or buf[4] != self.tag:
            raise ValueError("not a serialized t-digest")
        comp, mn, mx, n = np.frombuffer(buf[6:38], dtype="<f8")
        n = int(n)
        if len(buf) != 38 + 16 * n:
            raise ValueError(f"a t-digest of {n} centroids is {38 + 16 * n} bytes, got {len(buf)}")
        means = np.frombuffer(buf[38 : 38 + 8 * n], dtype="<f8").copy()
        weights = np.frombuffer(buf[38 + 8 * n : 38 + 16 * n], dtype="<f8").copy()
        return _TD(means, weights, float(mn), float(mx)), TDigestSpec(compression=float(comp))


register_accumulator(TDigestAccumulator())
