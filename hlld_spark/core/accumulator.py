"""The mergeable-accumulator protocol: one interface for every sketch.

The reference exposes exactly one accumulator family (named HLL sets,
update = ``set``/``bulk``, read = ``info``/``list``); the brief mandates
companions (count-min, Bloom, t-digest, KLL) under the same interface
(BASELINE.json north_rule). Every sketch is:

    zero(spec) → state
    update(state, values, spec) → state       # batch of column values
    merge(a, b, spec) → state                 # associative + commutative
    serialize(state, spec) → bytes            # self-describing (tag byte)
    deserialize(buf) → (state, spec)
    estimate(state, spec) → float             # primary scalar answer

``update`` takes a whole Arrow/pandas batch — the per-row loop lives in
vectorized numpy, never Python (input_hint requirement). Spark carries
states as an opaque BinaryType column; partial aggregation happens in
``mapInArrow`` (partition-local), final aggregation folds the partials
with :func:`merge_serialized` (register/counter merge), mirroring the
reference's per-thread-update → shared-array two-phase shape
(/root/reference/src/set.c:281-284).

Every serialized sketch starts with ``MAGIC`` + its ``KIND_*`` tag byte;
the companions and ``hll.serialize`` write and check that header from
here.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import hll as _hll
from .hashing import hll_hash

MAGIC = b"HS01"

KIND_HLL = 1
KIND_CMS = 2
KIND_BLOOM = 3
KIND_TDIGEST = 4
KIND_KLL = 5


@dataclass(frozen=True)
class HllSpec:
    """Dense HLL, reference-parity semantics. precision ∈ [4,18]."""

    precision: int = _hll.DEFAULT_PRECISION

    kind = "hll"

    def __post_init__(self):
        if not (_hll.HLL_MIN_PRECISION <= self.precision <= _hll.HLL_MAX_PRECISION):
            raise ValueError(
                f"precision must be in [{_hll.HLL_MIN_PRECISION},{_hll.HLL_MAX_PRECISION}]"
            )

    @staticmethod
    def for_error(eps: float) -> "HllSpec":
        p = _hll.precision_for_error(eps)
        if p < 0:
            raise ValueError("eps must be in (0, 1)")
        return HllSpec(precision=min(max(p, _hll.HLL_MIN_PRECISION), _hll.HLL_MAX_PRECISION))

    @property
    def error(self) -> float:
        return _hll.error_for_precision(self.precision)

    @property
    def state_bytes(self) -> int:
        return _hll.bytes_for_precision(self.precision)


class HllAccumulator:
    kind = "hll"
    tag = KIND_HLL

    def zero(self, spec: HllSpec) -> np.ndarray:
        return _hll.new_registers(spec.precision)

    def update(self, state: np.ndarray, values, spec: HllSpec) -> np.ndarray:
        hashes = hll_hash(values)
        return _hll.add_hashes(state, hashes, spec.precision)

    # batch fast path used by the Spark partial-build stage: hash + pack
    # the whole Arrow batch column once, then scatter per-group slices
    def prepare_batch(self, values, spec: HllSpec) -> np.ndarray:
        return _hll.combined_from_hashes(hll_hash(values), spec.precision)

    def update_prepared(
        self, state: np.ndarray, prepared: np.ndarray, idx: np.ndarray, spec: HllSpec
    ) -> np.ndarray:
        return _hll.add_combined(state, prepared[idx])

    def new_builder(self, spec: HllSpec) -> "HllBuilder":
        return HllBuilder(spec)

    def merge(self, a: np.ndarray, b: np.ndarray, spec: HllSpec) -> np.ndarray:
        if len(a) != len(b):
            raise ValueError(f"cannot merge HLLs of different precisions ({len(a)} vs {len(b)} registers)")
        return _hll.merge(a, b)

    def serialize(self, state: np.ndarray, spec: HllSpec) -> bytes:
        return _hll.serialize(state, spec.precision)

    def deserialize(self, buf: bytes) -> tuple[np.ndarray, HllSpec]:
        regs, precision = _hll.deserialize(buf)
        return regs, HllSpec(precision=precision)

    def estimate(self, state: np.ndarray, spec: HllSpec) -> float:
        return _hll.cardinality(state, spec.precision)


class HllBuilder:
    """Sparse-until-dense partial state for one group.

    A dense HLL partial costs 2^p bytes the moment a group appears; with
    10^5 grouping keys per partition that is gigabytes. The builder
    accumulates packed (idx, rho) candidates and densifies only once the
    candidate count reaches m = 2^p (past which dense is smaller) — the
    "optional sparse build" deviation flagged in SURVEY.md §4; final
    sketches remain byte-identical to the always-dense path because
    register max is order-insensitive.
    """

    __slots__ = ("spec", "parts", "total", "dense")

    def __init__(self, spec: HllSpec):
        self.spec = spec
        self.parts: list[np.ndarray] = []
        self.total = 0
        self.dense: np.ndarray | None = None

    def add_prepared(self, prepared: np.ndarray, idx: np.ndarray) -> None:
        chunk = prepared[idx]  # fancy index = fresh array, safe to sort later
        if self.dense is not None:
            _hll.add_combined(self.dense, chunk)
            return
        self.parts.append(chunk)
        self.total += len(chunk)
        if self.total >= (1 << self.spec.precision):
            self._densify()

    def _densify(self) -> None:
        self.dense = _hll.new_registers(self.spec.precision)
        if self.parts:
            _hll.add_combined(self.dense, np.concatenate(self.parts))
        self.parts = []
        self.total = 0

    def finish(self) -> np.ndarray:
        if self.dense is None:
            self._densify()
        return self.dense


class GenericBuilder:
    """The builder of every kind without its own (CMS, Bloom, t-digest,
    KLL): ``zero(spec)`` when the group first appears, then
    ``update_prepared`` with each batch's row indices for the group. CMS
    and Bloom states are fixed-size by spec and t-digest/KLL grow with
    their data, so none needs HLL's sparse phase."""

    __slots__ = ("acc", "spec", "state")

    def __init__(self, acc, spec):
        self.acc = acc
        self.spec = spec
        self.state = acc.zero(spec)

    def add_prepared(self, prepared, idx) -> None:
        self.state = self.acc.update_prepared(self.state, prepared, idx, self.spec)

    def finish(self):
        return self.state


def new_builder(acc, spec):
    if hasattr(acc, "new_builder"):
        return acc.new_builder(spec)
    return GenericBuilder(acc, spec)


def float64_batch(values) -> np.ndarray:
    """A value batch (Arrow array/chunked array, pandas Series or
    sequence) as float64; nulls become NaN. The ``prepare_batch`` of the
    value sketches (KLL, t-digest)."""
    import pyarrow as pa

    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if isinstance(values, pa.Array):
        return np.asarray(values.cast(pa.float64()), dtype=np.float64)
    if hasattr(values, "to_numpy"):
        return values.to_numpy(dtype=np.float64, na_value=np.nan)
    return np.asarray(values, dtype=np.float64)


_ACCUMULATORS: dict[str, object] = {}
_TAGS: dict[int, object] = {}


def register_accumulator(acc) -> None:
    _ACCUMULATORS[acc.kind] = acc
    _TAGS[acc.tag] = acc


def accumulator_for(spec) -> object:
    try:
        return _ACCUMULATORS[spec.kind]
    except KeyError:
        raise ValueError(f"no accumulator registered for kind {spec.kind!r}") from None


def deserialize_any(buf: bytes):
    """Dispatch on the tag byte → (accumulator, state, spec)."""
    if len(buf) < 6 or buf[:4] != MAGIC:
        raise ValueError("not a serialized sketch")
    acc = _TAGS.get(buf[4])
    if acc is None:
        raise ValueError(f"unknown sketch tag {buf[4]}")
    state, spec = acc.deserialize(buf)
    return acc, state, spec


def merge_serialized(bufs) -> bytes:
    """Fold serialized sketches of one kind into one serialized sketch:
    deserialize → merge → serialize, with the first sketch's spec. The one
    merge step behind the keyed and global Spark merges and SQL
    ``sketch_merge``; a mix of kinds raises instead of reading one kind's
    bytes as another's."""
    it = iter(bufs)
    acc, state, spec = deserialize_any(next(it))
    for buf in it:
        other_acc, other, _ = deserialize_any(buf)
        if other_acc is not acc:
            raise ValueError(f"cannot merge {acc.kind} with {other_acc.kind}")
        state = acc.merge(state, other, spec)
    return acc.serialize(state, spec)


register_accumulator(HllAccumulator())


def _register_companions() -> None:
    """Companion sketches register lazily so core HLL has no extra deps."""
    from . import bloom, cms, kll, tdigest  # noqa: F401


try:
    _register_companions()
except ImportError:
    pass
