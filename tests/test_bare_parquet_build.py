"""``build_sketches`` over a bare parquet scan reads the files worker-side
(``sources/parquet_scan.bare_parquet_files``); every other input keeps the
``mapInArrow`` path over the JVM scan. The routed build must give what the
JVM path gives on the same frame: HLL, CMS and Bloom bytes and ``n_rows``
equal, KLL and t-digest within rank error."""

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hlld_spark.core.accumulator import HllSpec, deserialize_any
from hlld_spark.core.bloom import BloomSpec
from hlld_spark.core.cms import CmsSpec
from hlld_spark.core.kll import KllSpec
from hlld_spark.core.tdigest import TDigestSpec
from hlld_spark.operators.sketch import _make_build_partials_arrow, _merge_partials, _result_schema, build_sketches
from hlld_spark.sources.parquet_scan import bare_parquet_files
from tests.conftest import assert_plan_runs_no_job

pytestmark = pytest.mark.spark

#: Spark SQL type name -> the Arrow type pyarrow writes for it
TYPES = {
    "string": pa.string(),
    "binary": pa.binary(),
    "boolean": pa.bool_(),
    "tinyint": pa.int8(),
    "smallint": pa.int16(),
    "int": pa.int32(),
    "bigint": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
}
NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")
QUANTILES = (0.1, 0.5, 0.9)
RANK_EPS = 0.03


def _values(kind: str, codes: np.ndarray, rng) -> pa.Array:
    """``codes`` as values of ``kind``; about 1 in 10 is NULL, and float
    columns carry NaN (code 0) and -0.0 next to 0.0 (codes 1 and 2)."""
    codes = codes.astype(np.int64)
    null = rng.random(len(codes)) < 0.1
    if kind == "string":
        vals = [f"s{c}" for c in codes]
    elif kind == "binary":
        vals = [c.tobytes()[: 1 + c % 8] for c in codes]
    elif kind == "boolean":
        vals = [bool(c % 2) for c in codes]
    elif kind in ("float", "double"):
        special = {0: float("nan"), 1: -0.0, 2: 0.0}
        vals = [special.get(int(c), c * 0.25) for c in codes]
    else:
        vals = [int(c) % 100 - 50 if kind == "tinyint" else int(c) - 500 for c in codes]
    return pa.array([None if m else v for v, m in zip(vals, null)], type=TYPES[kind])


def _table(key: str, val: str, n: int, rng, columns=("k", "v")) -> pa.Table:
    cols = {
        "k": _values(key, rng.integers(0, 12, n), rng),
        # NaN and -0.0 only as keys: values start past the special codes
        "v": _values(val, rng.integers(3, 3 * n, n), rng),
    }
    return pa.table({c: cols[c] for c in columns})


def _write(d: str, layout: str, key: str, val: str, n_files: int) -> None:
    """``files``: more files than tasks, with an empty (0-row) file, a
    0-byte file, later files that lack the key or the value column, and
    one whose key column name differs in case.
    ``row_groups``: one file of many row groups, split by row-group range."""
    rng = np.random.default_rng(zlib.crc32(f"{layout}/{key}/{val}".encode()))
    os.makedirs(d)
    if layout == "row_groups":
        pq.write_table(_table(key, val, 3000, rng), f"{d}/part-0.parquet", row_group_size=150)
        return
    for i in range(n_files):
        pq.write_table(_table(key, val, 300, rng), f"{d}/part-{i:02d}.parquet")
    pq.write_table(_table(key, val, 0, rng), f"{d}/part-90-empty.parquet")
    pq.write_table(_table(key, val, 200, rng, columns=("v",)), f"{d}/part-91-no-key.parquet")
    pq.write_table(_table(key, val, 200, rng, columns=("k",)), f"{d}/part-92-no-value.parquet")
    # Spark matches column names without regard to case by default
    pq.write_table(_table(key, val, 200, rng).rename_columns(["K", "v"]), f"{d}/part-94-upper-key.parquet")
    open(f"{d}/part-93-zero-bytes.parquet", "wb").close()


def _jvm_build(df, keys, col, spec):
    """The mapInArrow path over the JVM scan, as build_sketches runs it for
    an input that is not a bare parquet scan."""
    pruned = df.select(*keys, col)
    schema = _result_schema(pruned.schema, keys)
    return _merge_partials(pruned.mapInArrow(_make_build_partials_arrow(keys, col, spec), schema=schema), keys, schema)


def _rows(df, keys) -> list:
    """(key, sketch, n_rows) sorted by key; NaN keys as the string 'nan'."""
    out = []
    for r in df.collect():
        key = tuple("nan" if isinstance(r[k], float) and r[k] != r[k] else r[k] for k in keys)
        out.append((repr(key), bytes(r["sketch"]), r["n_rows"]))
    return sorted(out)


def _rank_range(sorted_vals: np.ndarray, v: float) -> tuple[float, float]:
    n = len(sorted_vals)
    return np.searchsorted(sorted_vals, v, side="left") / n, np.searchsorted(sorted_vals, v, side="right") / n


def _assert_quantiles_in_rank(rows: list, truth: dict) -> None:
    for key, buf, _ in rows:
        acc, state, spec = deserialize_any(buf)
        for q in QUANTILES:
            lo, hi = _rank_range(truth[key], acc.quantile(state, q, spec))
            assert lo - RANK_EPS <= q <= hi + RANK_EPS, (key, q, lo, hi)


def _read(spark, d: str, key: str, val: str):
    # the schema is given so that inference never picks a file lacking a column
    return spark.read.schema(f"k {key}, v {val}").parquet(d)


def _assert_routed_matches_jvm(df, keys, col, specs) -> None:
    assert bare_parquet_files(df.select(*keys, col)) is not None
    for spec in specs:
        routed = build_sketches(df, keys, col, spec)
        assert "FileScan" not in routed._jdf.queryExecution().executedPlan().toString()
        a, b = _rows(routed, keys), _rows(_jvm_build(df, keys, col, spec), keys)
        assert [(k, n) for k, _, n in a] == [(k, n) for k, _, n in b], type(spec).__name__
        if isinstance(spec, (KllSpec, TDigestSpec)):
            truth: dict = {}
            for r in df.select(*keys, col).where(F.col(col).isNotNull()).collect():
                key = repr(tuple("nan" if isinstance(r[k], float) and r[k] != r[k] else r[k] for k in keys))
                truth.setdefault(key, []).append(float(r[col]))
            truth = {k: np.sort(v) for k, v in truth.items()}
            _assert_quantiles_in_rank(a, truth)
            _assert_quantiles_in_rank(b, truth)
        else:
            assert a == b, type(spec).__name__


@pytest.mark.parametrize("layout", ["files", "row_groups"])
@pytest.mark.parametrize("key", list(TYPES))
def test_routed_build_matches_jvm_path_by_key_type(spark, tmp_path, key, layout):
    d = str(tmp_path / "t")
    _write(d, layout, key, "string", spark.sparkContext.defaultParallelism + 2)
    df = _read(spark, d, key, "string")
    _assert_routed_matches_jvm(df, ["k"], "v", [HllSpec(12)])


@pytest.mark.parametrize("val", list(TYPES))
def test_routed_build_matches_jvm_path_by_value_type(spark, tmp_path, val):
    d = str(tmp_path / "t")
    _write(d, "files", "string", val, spark.sparkContext.defaultParallelism + 2)
    df = _read(spark, d, "string", val)
    specs = [HllSpec(10), CmsSpec(width=256, depth=3), BloomSpec(bits=4096, hashes=3)]
    if val in NUMERIC:
        specs += [KllSpec(), TDigestSpec()]
    _assert_routed_matches_jvm(df, ["k"], "v", specs)
    _assert_routed_matches_jvm(df, [], "v", specs[:1])


def test_routed_build_of_inferred_schema_matches_jvm_path(spark, tmp_path):
    """``spark.read.parquet(d)`` with its schema inferred, the keys and the
    value of Spark-written files."""
    d = str(tmp_path / "spark_written")
    spark.range(5000).selectExpr("cast(id % 9 as string) AS lang", "id % 4 = 0 AS flag", "cast(id * 7 as string) AS url").repartition(5).write.parquet(d)
    _assert_routed_matches_jvm(spark.read.parquet(d), ["lang", "flag"], "url", [HllSpec(12), BloomSpec(bits=8192, hashes=4)])


def test_routed_build_plan_runs_no_job(spark, tmp_path):
    d = str(tmp_path / "pq")
    spark.range(20000).selectExpr("cast(id % 7 as string) AS lang", "cast(id as string) AS url").write.parquet(d)
    df = spark.read.parquet(d)
    assert_plan_runs_no_job(spark, lambda: build_sketches(df, ["lang"], "url"), "sketch-plan-routed")


@pytest.fixture(scope="module")
def plain_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fallback") / "plain")
    spark.range(6000).selectExpr(
        "cast(id % 5 as string) AS lang",
        "cast(id * 3 as string) AS url",
        "date_add(DATE'2024-01-01', cast(id % 4 as int)) AS d",
        "timestamp_seconds(id % 6) AS ts",
        "cast(id % 3 as decimal(10, 2)) AS dec",
    ).repartition(3).write.parquet(d)
    return d


def _fallback_inputs(spark, plain_dir, tmp_path):
    part = str(tmp_path / "partitioned")
    spark.read.parquet(plain_dir).write.partitionBy("lang").parquet(part)
    unannotated = str(tmp_path / "unannotated")
    os.makedirs(unannotated)
    pq.write_table(pa.table({"b": pa.array([b"x%d" % (i % 7) for i in range(500)]), "url": [str(i) for i in range(500)]}), f"{unannotated}/f.parquet")
    plain = spark.read.parquet(plain_dir)
    return {
        "filter": lambda: (plain.filter(F.col("lang") != "0"), ["lang"]),
        "derived": lambda: (plain.withColumn("l2", F.upper("lang")), ["l2"]),
        "aliased": lambda: (plain.select(F.col("lang").alias("lg"), "url"), ["lg"]),
        "limit": lambda: (plain.limit(1000), ["lang"]),
        "partitioned": lambda: (spark.read.parquet(part), ["lang"]),
        "partitioned_unused": lambda: (spark.read.parquet(part), []),
        "merge_schema": lambda: (spark.read.option("mergeSchema", "true").parquet(plain_dir), ["lang"]),
        "date": lambda: (plain, ["d"]),
        "timestamp": lambda: (plain, ["ts"]),
        "decimal": lambda: (plain, ["dec"]),
        "binary_as_string": lambda: (spark.read.parquet(unannotated), ["b"]),
    }


def test_streaming_frame_keeps_jvm_path(spark, plain_dir):
    stream = spark.readStream.schema(spark.read.parquet(plain_dir).schema).parquet(plain_dir)
    assert bare_parquet_files(stream.select("lang", "url")) is None


FALLBACKS = [
    "filter", "derived", "aliased", "limit", "partitioned", "partitioned_unused",
    "merge_schema", "date", "timestamp", "decimal", "binary_as_string", "cached",
]  # fmt: skip


@pytest.mark.parametrize("case", FALLBACKS)
def test_non_bare_input_keeps_jvm_path(spark, plain_dir, tmp_path, case):
    """Each input keeps the JVM scan: its executed plan has a
    ``FileSourceScanExec`` and the build equals the mapInArrow path's."""
    cached = None
    if case == "binary_as_string":
        spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        if case == "cached":
            cached = spark.read.parquet(plain_dir).cache()
            df, keys = cached, ["lang"]
        else:
            df, keys = _fallback_inputs(spark, plain_dir, tmp_path)[case]()
        if case == "binary_as_string":
            assert dict(df.dtypes)["b"] == "string"
        assert bare_parquet_files(df.select(*keys, "url")) is None
        built = build_sketches(df, keys, "url", HllSpec(12))
        got = _rows(built, keys)
        assert "FileScan parquet" in built._jdf.queryExecution().executedPlan().toString()
        assert got == _rows(_jvm_build(df, keys, "url", HllSpec(12)), keys)
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
        if cached is not None:
            cached.unpersist()
