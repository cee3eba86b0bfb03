"""The one merge fold (``merge_serialized``) behind the merge kernel
(``_merge_runs``, keyed and global) and SQL ``sketch_merge``:
byte-identical to a pairwise deserialize → merge → serialize, and a mix
of sketch kinds raises. The kernel folds each run of equal keys, across
batch boundaries, into one row."""

import numpy as np
import pyarrow as pa
import pytest

from hlld_spark.core.accumulator import HllSpec, accumulator_for, deserialize_any, merge_serialized
from hlld_spark.core.bloom import BloomSpec
from hlld_spark.core.cms import CmsSpec
from hlld_spark.core.kll import KllSpec
from hlld_spark.core.tdigest import TDigestSpec
from hlld_spark.operators.sketch import _merge_runs

SPECS = [HllSpec(12), CmsSpec(), BloomSpec(bits=4096, hashes=3), KllSpec(), TDigestSpec()]


def _sketch(spec, lo, hi) -> bytes:
    acc = accumulator_for(spec)
    values = np.arange(lo, hi, dtype=np.float64) if spec.kind in ("kll", "tdigest") else [f"k{i}" for i in range(lo, hi)]
    return acc.serialize(acc.update(acc.zero(spec), values, spec), spec)


@pytest.mark.parametrize("spec", SPECS, ids=lambda s: s.kind)
def test_fold_matches_pairwise_merge(spec):
    bufs = [_sketch(spec, 300 * i, 300 * i + 500) for i in range(4)]
    acc, state, sp = deserialize_any(bufs[0])
    for b in bufs[1:]:
        state = acc.merge(state, deserialize_any(b)[1], sp)
    assert merge_serialized(bufs) == acc.serialize(state, sp)
    assert merge_serialized(bufs[:1]) == bufs[0]


@pytest.mark.parametrize("change", ["cut_8", "pad_8"])
@pytest.mark.parametrize("spec", SPECS, ids=lambda s: s.kind)
def test_deserialize_rejects_wrong_length(spec, change):
    """A buffer shorter or longer than its header implies is an error, not
    a different sketch."""
    buf = _sketch(spec, 0, 1000)
    bad = buf[:-8] if change == "cut_8" else buf + bytes(8)
    with pytest.raises(ValueError):
        deserialize_any(bad)


@pytest.mark.parametrize(
    "a, b",
    [(HllSpec(12), BloomSpec(bits=4096, hashes=3)), (KllSpec(), TDigestSpec()), (CmsSpec(), HllSpec(12))],
    ids=lambda s: s.kind,
)
def test_fold_rejects_mixed_kinds(a, b):
    bufs = [_sketch(a, 0, 1000), _sketch(b, 0, 1000)]
    with pytest.raises(ValueError, match=f"cannot merge {a.kind} with {b.kind}"):
        merge_serialized(bufs)


def _batch(bufs, ns, langs=None) -> pa.RecordBatch:
    cols = [pa.array(bufs, pa.binary()), pa.array(ns, pa.int64())]
    names = ["sketch", "n_rows"]
    if langs is not None:
        cols, names = [pa.array(langs, pa.string())] + cols, ["lang"] + names
    return pa.RecordBatch.from_arrays(cols, names=names)


def test_keyed_and_global_merge_reject_mixed_kinds():
    bufs = [_sketch(HllSpec(12), 0, 1000), _sketch(BloomSpec(bits=4096, hashes=3), 0, 1000)]
    with pytest.raises(ValueError, match="cannot merge hll with bloom"):
        list(_merge_runs(["lang"])(iter([_batch(bufs, [1000, 1000], ["en", "en"])])))
    with pytest.raises(ValueError, match="cannot merge hll with bloom"):
        list(_merge_runs([])(iter([_batch(bufs, [1000, 1000])])))


def test_global_merge_sums_rows_across_batches():
    spec = HllSpec(12)
    bufs = [_sketch(spec, 0, 700), _sketch(spec, 500, 1500), _sketch(spec, 1200, 2000)]
    batches = [_batch(bufs[:2], [700, 1000]), _batch(bufs[2:], [800])]
    (out,) = list(_merge_runs([])(iter(batches)))
    assert out.column(0).to_pylist() == [merge_serialized(bufs)]
    assert out.column(1).to_pylist() == [2500]
    assert list(_merge_runs([])(iter([]))) == []
    assert list(_merge_runs(["lang"])(iter([]))) == []


def test_keyed_run_spanning_batches_gives_one_row():
    """Sorted input: "en" runs from the first batch into the second, and
    each key comes out once with its whole run folded."""
    spec = HllSpec(12)
    bufs = [_sketch(spec, 100 * i, 100 * i + 300) for i in range(5)]
    batches = [
        _batch(bufs[:3], [1, 2, 3], ["de", "en", "en"]),
        _batch([], [], []),
        _batch(bufs[3:], [4, 5], ["en", "fr"]),
    ]
    rows = [r for rb in _merge_runs(["lang"])(iter(batches)) for r in rb.to_pylist()]
    assert rows == [
        {"lang": "de", "sketch": bufs[0], "n_rows": 1},
        {"lang": "en", "sketch": merge_serialized(bufs[1:4]), "n_rows": 9},
        {"lang": "fr", "sketch": bufs[4], "n_rows": 5},
    ]


@pytest.mark.parametrize("spec", SPECS, ids=lambda s: s.kind)
def test_global_stream_of_one_row_batches_matches_one_fold(spec):
    """The open run collapses to one sketch at every batch boundary; the
    bytes still equal a single ``merge_serialized`` over all partials."""
    bufs = [_sketch(spec, 37 * i, 37 * i + 60) for i in range(200)]
    (out,) = list(_merge_runs([])(_batch([b], [1]) for b in bufs))
    assert out.column(0).to_pylist() == [merge_serialized(bufs)]
    assert out.column(1).to_pylist() == [200]


@pytest.mark.spark
def test_merge_sketches_rejects_mixed_kinds(spark):
    from hlld_spark.operators.sketch import merge_sketches

    rows = [
        ("en", _sketch(HllSpec(12), 0, 1000), 1000),
        ("en", _sketch(BloomSpec(bits=4096, hashes=3), 0, 1000), 1000),
    ]
    df = spark.createDataFrame(rows, "lang string, sketch binary, n_rows long")
    for keys in (["lang"], []):
        with pytest.raises(Exception, match="cannot merge hll with bloom"):
            merge_sketches(df, keys).collect()


def test_null_sketch_estimates_to_nan():
    from hlld_spark.operators.sketch import sketch_estimate

    got = sketch_estimate.func(pa.array([_sketch(HllSpec(12), 0, 1000), None], type=pa.binary())).to_pylist()
    assert abs(got[0] - 1000) < 50
    assert got[1] is None


@pytest.mark.spark
def test_null_sketch_row_estimates_to_null(spark):
    """A null sketch, e.g. from an outer join of sketch tables, gets a
    NaN estimate, which Spark's Arrow conversion reads back as NULL, in
    both ``with_estimate`` and SQL ``sketch_estimate_sql``."""
    from hlld_spark.functions.sketch_sql import register_sql_functions
    from hlld_spark.operators.sketch import with_estimate

    rows = [("en", _sketch(HllSpec(12), 0, 1000)), ("fr", None)]
    df = spark.createDataFrame(rows, "lang string, sketch binary")
    got = {r["lang"]: r["estimate"] for r in with_estimate(df).collect()}
    assert abs(got["en"] - 1000) < 50
    assert got["fr"] is None
    register_sql_functions(spark)
    df.createOrReplaceTempView("null_sketches")
    sql = spark.sql("SELECT lang, sketch_estimate_sql(sketch) AS estimate FROM null_sketches").collect()
    assert {r["lang"]: r["estimate"] for r in sql} == got


@pytest.mark.spark
def test_float_group_keys_match_groupby(spark):
    """NaN is one group key and stays NaN (not NULL), NULL is another, and
    0.0/-0.0 are one group, as in ``groupBy``: for the build and for a
    re-merge to a coarser grain."""
    from hlld_spark.operators.sketch import build_sketches, merge_sketches

    ks = [0.0, -0.0, float("nan"), None, 1.5]
    rows = [(ks[i % 5], "ab"[i // 5 % 2], f"u{i}") for i in range(4000)]
    df = spark.createDataFrame(rows, "k double, s string, v string").repartition(3)

    def key(k):
        return None if k is None else "nan" if k != k else repr(k)

    def groups(out):
        return sorted(((key(r[0]),) + tuple(r[1:]) for r in out.collect()), key=str)

    built = build_sketches(df, ["k", "s"], "v")
    assert groups(built.select("k", "s", "n_rows")) == groups(df.groupBy("k", "s").count())
    merged = merge_sketches(built, ["k"]).select("k", "n_rows")
    assert groups(merged) == groups(df.groupBy("k").count())
