"""SQL-facing sketch functions: register once, then use from
``spark.sql`` — the engine's SQL surface over serialized sketch columns.

    register_sql_functions(spark)
    spark.sql("SELECT lang, hll_cardinality(sketch) FROM sketches")

Functions (vectorized UDFs over the self-describing sketch binary):

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

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import BinaryType, DoubleType, IntegerType, LongType, StringType

from ..core import hll as _hll
from ..core.accumulator import deserialize_any, merge_serialized
from ..operators.sketch import sketch_estimate


@F.pandas_udf(DoubleType())
def _hll_cardinality(bufs: pd.Series) -> pd.Series:
    out = np.full(len(bufs), np.nan)
    for i, b in enumerate(bufs):
        if b is None:
            continue
        regs, p = _hll.deserialize(bytes(b))
        out[i] = _hll.cardinality(regs, p)
    return pd.Series(out)


@F.pandas_udf(StringType())
def _sketch_kind(bufs: pd.Series) -> pd.Series:
    out = []
    for b in bufs:
        if b is None:
            out.append(None)
            continue
        acc, _, _ = deserialize_any(bytes(b))
        out.append(acc.kind)
    return pd.Series(out)


@F.pandas_udf(LongType())
def _sketch_bytes(bufs: pd.Series) -> pd.Series:
    return pd.Series([len(b) if b is not None else 0 for b in bufs], dtype=np.int64)


@F.pandas_udf(BinaryType())
def _sketch_merge(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for x, y in zip(a, b):
        if x is None:
            out.append(bytes(y) if y is not None else None)
            continue
        if y is None:
            out.append(bytes(x))
            continue
        out.append(merge_serialized([bytes(x), bytes(y)]))
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def _sketch_quantile(bufs: pd.Series, qs: pd.Series) -> pd.Series:
    """quantile q of a t-digest/KLL sketch; CMS/Bloom/HLL → error."""
    out = np.full(len(bufs), np.nan)
    for i, (b, q) in enumerate(zip(bufs, qs)):
        if b is None or q is None:
            continue
        acc, state, spec = deserialize_any(bytes(b))
        if not hasattr(acc, "quantile"):
            raise ValueError(f"sketch kind {acc.kind!r} has no quantiles")
        out[i] = acc.quantile(state, float(q), spec)
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def _error_for_precision(p: pd.Series) -> pd.Series:
    return pd.Series([_hll.error_for_precision(int(x)) for x in p])


@F.pandas_udf(IntegerType())
def _precision_for_error(eps: pd.Series) -> pd.Series:
    return pd.Series([_hll.precision_for_error(float(x)) for x in eps], dtype=np.int32)


@F.pandas_udf(LongType())
def _bytes_for_precision(p: pd.Series) -> pd.Series:
    return pd.Series([_hll.bytes_for_precision(int(x)) for x in p], dtype=np.int64)


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
