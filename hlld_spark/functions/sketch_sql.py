"""SQL-facing sketch functions: register once, then use from
``spark.sql`` — the engine's SQL surface over serialized sketch columns.

    register_sql_functions(spark)
    spark.sql("SELECT lang, hll_cardinality(sketch) FROM sketches")

Functions (``arrow_udf``s over the self-describing sketch binary; a
NULL input gives a NULL output, except ``sketch_bytes`` (0) and
``sketch_merge`` (the other side)):

    hll_cardinality(sketch) → double        estimator chain (O5)
    sketch_estimate_sql(sketch) → double    kind-dispatched default
    sketch_kind(sketch) → string            'hll'/'cms'/'bloom'/...
    sketch_bytes(sketch) → long
    sketch_merge(a, b) → binary             pairwise merge (same kind/spec)
    sketch_quantile(sketch, q) → double     t-digest/KLL quantile
    hll_error_for_precision(p) → double     error law (O7)
    hll_precision_for_error(eps) → int      inverse (O6)
    hll_bytes_for_precision(p) → long       size law (O8)
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import BinaryType, DoubleType, IntegerType, LongType, StringType

from ..core import hll as _hll
from ..core.accumulator import deserialize_any, merge_serialized
from ..operators.sketch import sketch_estimate


def _per_value(fn, out_type, *cols) -> pa.Array:
    """``fn`` over each row's values; a row with any NULL input is NULL."""
    rows = zip(*(c.to_pylist() for c in cols))
    return pa.array([None if None in vals else fn(*vals) for vals in rows], type=out_type)


def _quantile(b: bytes, q: float) -> float:
    """quantile q of a t-digest/KLL sketch; CMS/Bloom/HLL → error."""
    acc, state, spec = deserialize_any(b)
    if not hasattr(acc, "quantile"):
        raise ValueError(f"sketch kind {acc.kind!r} has no quantiles")
    return acc.quantile(state, float(q), spec)


@F.arrow_udf(DoubleType())
def _hll_cardinality(bufs):
    return _per_value(lambda b: _hll.cardinality(*_hll.deserialize(b)), pa.float64(), bufs)


@F.arrow_udf(StringType())
def _sketch_kind(bufs):
    return _per_value(lambda b: deserialize_any(b)[0].kind, pa.string(), bufs)


@F.arrow_udf(LongType())
def _sketch_bytes(bufs):
    return pc.binary_length(bufs).cast(pa.int64()).fill_null(0)


@F.arrow_udf(BinaryType())
def _sketch_merge(a, b):
    """Pairwise merge; a NULL side yields the other side."""
    merged = [x if y is None else y if x is None else merge_serialized([x, y])
              for x, y in zip(a.to_pylist(), b.to_pylist())]
    return pa.array(merged, type=pa.binary())


@F.arrow_udf(DoubleType())
def _sketch_quantile(bufs, qs):
    return _per_value(_quantile, pa.float64(), bufs, qs)


@F.arrow_udf(DoubleType())
def _error_for_precision(p):
    return _per_value(lambda x: _hll.error_for_precision(int(x)), pa.float64(), p)


@F.arrow_udf(IntegerType())
def _precision_for_error(eps):
    return _per_value(lambda x: _hll.precision_for_error(float(x)), pa.int32(), eps)


@F.arrow_udf(LongType())
def _bytes_for_precision(p):
    return _per_value(lambda x: _hll.bytes_for_precision(int(x)), pa.int64(), p)


def register_sql_functions(spark: SparkSession) -> None:
    spark.udf.register("hll_cardinality", _hll_cardinality)
    spark.udf.register("sketch_estimate_sql", sketch_estimate)
    spark.udf.register("sketch_kind", _sketch_kind)
    spark.udf.register("sketch_bytes", _sketch_bytes)
    spark.udf.register("sketch_merge", _sketch_merge)
    spark.udf.register("sketch_quantile", _sketch_quantile)
    spark.udf.register("hll_error_for_precision", _error_for_precision)
    spark.udf.register("hll_precision_for_error", _precision_for_error)
    spark.udf.register("hll_bytes_for_precision", _bytes_for_precision)
