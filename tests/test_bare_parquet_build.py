"""A per-batch reduction over a bare parquet scan reads the files
worker-side (``sources/parquet_scan.map_batches``, deciding with
``bare_parquet_scan``), also when a column is ``cast(ts AS date)``; every
other input keeps the ``mapInArrow`` path over the JVM scan. The routed
``build_sketches`` must give what the JVM path gives on the same frame:
HLL, CMS and Bloom bytes and ``n_rows`` equal, KLL and t-digest within
rank error. ``heavy_hitters``, ``frequent_ngrams`` and ``decontaminate``
must give the same final output on both paths."""

import contextlib
import os
import zlib
from unittest import mock

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
from hlld_spark.operators import frequent
from hlld_spark.operators.decontaminate import decontaminate
from hlld_spark.operators.frequent import frequent_ngrams, heavy_hitters
from hlld_spark.operators.sketch import _make_build_partials_arrow, _merge_partials, _result_schema, build_sketches, rollup_sketches
from hlld_spark.sources.parquet_scan import bare_parquet_scan, map_batches
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
    """``codes`` as values of ``kind`` (a ``TYPES`` name, or ``"text"``:
    strings of 0 to 6 tokens from a 5-word vocabulary); about 1 in 10 is
    NULL, and float columns carry NaN (code 0) and -0.0 next to 0.0 (codes
    1 and 2)."""
    codes = codes.astype(np.int64)
    null = rng.random(len(codes)) < 0.1
    if kind == "text":
        vals = [" ".join(f"w{(c + j * c) % 5}" for j in range(c % 7)) for c in codes]
    elif kind == "string":
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
    return pa.array([None if m else v for v, m in zip(vals, null)], type=TYPES.get(kind, pa.string()))


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
    assert bare_parquet_scan(df.select(*keys, col)) is not None
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


def _jvm(build):
    """``build()``'s DataFrame with every ``map_batches`` in it forced onto
    the JVM path (no frame is a bare scan while the plan is built)."""
    with mock.patch("hlld_spark.sources.parquet_scan.bare_parquet_scan", lambda _df: None):
        return build()


def _jvm_rollup(df, keys, col, spec):
    """``rollup_sketches`` with its build forced onto the JVM path."""
    return _jvm(lambda: rollup_sketches(df, keys, col, spec))


def _assert_routed_rollup_matches_jvm(df, keys, col, spec) -> None:
    routed = rollup_sketches(df, keys, col, spec)
    assert "FileScan" not in routed._jdf.queryExecution().executedPlan().toString()
    levels = [*keys, "grouping_level"]
    assert _rows(routed, levels) == _rows(_jvm_rollup(df, keys, col, spec), levels)


@contextlib.contextmanager
def _confs(spark, confs: dict):
    """Session confs set for the block, restored after it."""
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


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


_DAY_US = 86_400_000_000
#: session zones of the day-key tests, as fixed UTC offsets in seconds
ZONES = {"UTC": 0, "+05:30": 19_800, "-08:00": -28_800}
#: ``spark.sql.parquet.outputTimestampType`` of each layout; ``ntz`` writes
#: a ``timestamp_ntz`` column (always INT64 micros)
TS_LAYOUTS = {"INT96": "INT96", "micros": "TIMESTAMP_MICROS", "millis": "TIMESTAMP_MILLIS", "ntz": "TIMESTAMP_MICROS"}


def _instants(rng) -> list:
    """µs instants: 1 µs and 1 ms either side of local midnight in every
    zone of ``ZONES``, on days from year 1 to 9999 (before 1970, the day
    before and after the epoch, 1582-10-15, past the year-2262 end of ns
    timestamps), plus random ones over ±400 years."""
    days = (-719_152, -141_427, -1, 0, 1, 19_700, 106_752, 200_000, 2_932_700)
    out = []
    for day in days:
        for off in ZONES.values():
            mid = day * _DAY_US - off * 1_000_000
            out += [mid - 1000, mid - 1, mid, mid + 1, mid + 1000]
    return out + rng.integers(-400 * 365 * _DAY_US, 400 * 365 * _DAY_US, 600).tolist()


@pytest.fixture(scope="module")
def ts_dirs(spark, tmp_path_factory):
    """One Spark-written table per ``TS_LAYOUTS`` entry over the same
    instants: (lang, url, ts), with NULL timestamps and a NULL url."""
    rng = np.random.default_rng(7)
    us = _instants(rng)
    rows = [(f"l{i % 3}", f"u{i % 500}", v) for i, v in enumerate(us)]
    rows += [(f"l{i % 3}", f"n{i}", None) for i in range(20)] + [("l0", None, 0)]
    base = spark.createDataFrame(rows, "lang string, url string, us long").select(
        "lang", "url", F.timestamp_micros("us").alias("ts")
    )
    root = tmp_path_factory.mktemp("ts")
    out = {}
    for layout, kind in TS_LAYOUTS.items():
        out[layout] = str(root / layout)
        frame = base.withColumn("ts", F.col("ts").cast("timestamp_ntz")) if layout == "ntz" else base
        with _confs(spark, {"spark.sql.parquet.outputTimestampType": kind}):
            frame.repartition(3).write.parquet(out[layout])
    return out


@pytest.mark.parametrize("zone", list(ZONES))
@pytest.mark.parametrize("layout", list(TS_LAYOUTS))
def test_routed_day_key_matches_jvm_path(spark, ts_dirs, layout, zone):
    """A ``to_date(ts)`` key routes for INT96, micros, millis and
    ``timestamp_ntz`` columns in a fixed-offset session zone; the routed
    build and every rollup level equal the JVM path's, on NULL, pre-1970,
    post-2262 and 1-µs-from-midnight timestamps."""
    with _confs(spark, {"spark.sql.session.timeZone": zone}):
        df = spark.read.parquet(ts_dirs[layout]).withColumn("day", F.to_date("ts"))
        assert dict(df.dtypes)["ts"] == ("timestamp_ntz" if layout == "ntz" else "timestamp")
        scan = bare_parquet_scan(df.select("lang", "day", "url"))
        assert scan.outputs == (("lang", "lang", None), ("day", "ts", 0 if layout == "ntz" else ZONES[zone]), ("url", "url", None))
        specs = [HllSpec(10), CmsSpec(width=256, depth=3), BloomSpec(bits=4096, hashes=3)]
        _assert_routed_matches_jvm(df, ["lang", "day"], "url", specs)
        _assert_routed_matches_jvm(df, ["day"], "url", specs[:1])
        _assert_routed_rollup_matches_jvm(df, ["lang", "day"], "url", HllSpec(10))


def test_routed_day_key_may_shadow_its_source(spark, ts_dirs):
    """``withColumn("ts", to_date("ts"))``: the day is read from, and
    named as, the timestamp column."""
    df = spark.read.parquet(ts_dirs["INT96"]).withColumn("ts", F.to_date("ts"))
    assert bare_parquet_scan(df.select("lang", "ts", "url")).outputs[1] == ("ts", "ts", 0)
    _assert_routed_matches_jvm(df, ["lang", "ts"], "url", [HllSpec(10)])
    _assert_routed_rollup_matches_jvm(df, ["lang", "ts"], "url", HllSpec(10))


def test_routed_rollup_plan_has_no_file_scan(spark, tmp_path):
    """A (lang, to_date(ts)) rollup, the shape of perfbench's
    ``frame_build`` rollup, reads its files worker-side and builds its plan
    without a job."""
    d = str(tmp_path / "web")
    spark.range(20000).selectExpr(
        "cast(id % 7 as string) AS lang", "cast(id as string) AS url", "timestamp_seconds(id * 97) AS warc_ts"
    ).write.parquet(d)
    df = spark.read.parquet(d).withColumn("day", F.to_date("warc_ts"))
    rollup = lambda: rollup_sketches(df, ["lang", "day"], "url", HllSpec(12))  # noqa: E731
    assert_plan_runs_no_job(spark, rollup, "rollup-plan-routed")
    assert "FileScan" not in rollup()._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plain_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fallback") / "plain")
    spark.range(6000).selectExpr(
        "cast(id % 5 as string) AS lang",
        "cast(id * 3 as string) AS url",
        "date_add(DATE'2024-01-01', cast(id % 4 as int)) AS d",
        "timestamp_seconds(id % 6) AS ts",
        "cast(id % 3 as decimal(10, 2)) AS dec",
        "cast(date_add(DATE'2024-01-01', cast(id % 4 as int)) as string) AS ds",
    ).repartition(3).write.parquet(d)
    return d


def _fallback_inputs(spark, plain_dir, tmp_path):
    part = str(tmp_path / "partitioned")
    spark.read.parquet(plain_dir).write.partitionBy("lang").parquet(part)
    unannotated = str(tmp_path / "unannotated")
    os.makedirs(unannotated)
    pq.write_table(pa.table({"b": pa.array([b"x%d" % (i % 7) for i in range(500)]), "url": [str(i) for i in range(500)]}), f"{unannotated}/f.parquet")
    plain = spark.read.parquet(plain_dir)

    def legacy_int96():
        d = str(tmp_path / "legacy_int96")
        with _confs(spark, {"spark.sql.parquet.int96RebaseModeInWrite": "LEGACY"}):
            plain.write.parquet(d)
        footers = [pq.read_metadata(f"{d}/{f}").metadata for f in os.listdir(d) if f.endswith(".parquet")]
        assert footers and all(b"org.apache.spark.legacyINT96" in m for m in footers)
        return spark.read.parquet(d).withColumn("day", F.to_date("ts")), ["day"]

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
        "region_zone": lambda: (plain.withColumn("day", F.to_date("ts")), ["day"]),
        "legacy_int96_footer": legacy_int96,
        "date_trunc": lambda: (plain.withColumn("dt", F.date_trunc("day", "ts")), ["dt"]),
        "hour": lambda: (plain.withColumn("h", F.hour("ts")), ["h"]),
        "cast_string_date": lambda: (plain.withColumn("sd", F.col("ds").cast("date")), ["sd"]),
    }


#: session confs a fallback case is built and run under
FALLBACK_CONFS = {
    "binary_as_string": {"spark.sql.parquet.binaryAsString": "true"},
    "region_zone": {"spark.sql.session.timeZone": "America/New_York"},
}


def test_streaming_frame_keeps_jvm_path(spark, plain_dir):
    stream = spark.readStream.schema(spark.read.parquet(plain_dir).schema).parquet(plain_dir)
    assert bare_parquet_scan(stream.select("lang", "url")) is None


FALLBACKS = [
    "filter", "derived", "aliased", "limit", "partitioned", "partitioned_unused",
    "merge_schema", "date", "timestamp", "decimal", "binary_as_string", "cached",
    "region_zone", "legacy_int96_footer", "date_trunc", "hour", "cast_string_date",
]  # fmt: skip


@pytest.mark.parametrize("case", FALLBACKS)
def test_non_bare_input_keeps_jvm_path(spark, plain_dir, tmp_path, case):
    """Each input keeps the JVM scan: its executed plan has a
    ``FileSourceScanExec`` and the build equals the mapInArrow path's."""
    with _confs(spark, FALLBACK_CONFS.get(case, {})), contextlib.ExitStack() as stack:
        if case == "cached":
            df, keys = spark.read.parquet(plain_dir).cache(), ["lang"]
            stack.callback(df.unpersist)
        else:
            df, keys = _fallback_inputs(spark, plain_dir, tmp_path)[case]()
        if case == "binary_as_string":
            assert dict(df.dtypes)["b"] == "string"
        assert bare_parquet_scan(df.select(*keys, "url")) is None
        built = build_sketches(df, keys, "url", HllSpec(12))
        got = _rows(built, keys)
        assert "FileScan parquet" in built._jdf.queryExecution().executedPlan().toString()
        assert got == _rows(_jvm_build(df, keys, "url", HllSpec(12)), keys)


def _routed_passes(build):
    """``build()``'s result, and the executed plan of every frame the
    ``frequent`` passes took from ``map_batches`` while it ran."""
    frames = []

    def spy(*args, **kwargs):
        frames.append(map_batches(*args, **kwargs))
        return frames[-1]

    with mock.patch.object(frequent, "map_batches", spy):
        out = build()
    return out, [f._jdf.queryExecution().executedPlan().toString() for f in frames]


def _sorted_rows(df) -> list:
    """Every row as a tuple, NaN as the string 'nan', sorted by repr."""
    return sorted((tuple("nan" if isinstance(v, float) and v != v else v for v in r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("layout", ["files", "row_groups"])
@pytest.mark.parametrize("kind", ["string", "bigint", "double"])
def test_routed_heavy_hitters_matches_jvm_path(spark, tmp_path, kind, layout):
    """``heavy_hitters``' summarize pass reads a bare scan worker-side and
    its output equals the JVM path's; the double column's NaN (one code of
    twelve) is a heavy item."""
    d = str(tmp_path / "t")
    _write(d, layout, kind, "string", spark.sparkContext.defaultParallelism + 2)
    df = _read(spark, d, kind, "string")
    run = lambda: heavy_hitters(df, "k", phi=0.05)  # noqa: E731
    routed, plans = _routed_passes(run)
    jvm, jvm_plans = _routed_passes(lambda: _jvm(run))
    assert len(plans) == 1 and "FileScan" not in plans[0] and "FileScan parquet" in jvm_plans[0]
    got = _sorted_rows(routed)
    assert got == _sorted_rows(jvm)
    assert len(got) > 5 and (kind != "double" or any(r[0] == "nan" for r in got))


@pytest.mark.parametrize("layout", ["files", "row_groups"])
def test_routed_frequent_ngrams_matches_jvm_path(spark, tmp_path, layout):
    """Both ``frequent_ngrams`` passes read a bare scan worker-side; the
    (ngram, exact_count) output equals the JVM path's."""
    d = str(tmp_path / "t")
    _write(d, layout, "string", "text", spark.sparkContext.defaultParallelism + 2)
    df = spark.read.schema("k string, v string").parquet(d)
    run = lambda: frequent_ngrams(df, "v", n=3, phi=0.01)  # noqa: E731
    routed, plans = _routed_passes(run)
    jvm, jvm_plans = _routed_passes(lambda: _jvm(run))
    assert len(plans) == 2 and not any("FileScan" in p for p in plans)
    assert all("FileScan parquet" in p for p in jvm_plans)
    got = _sorted_rows(routed)
    assert routed.columns == ["ngram", "exact_count"] and len(got) > 5
    assert got == _sorted_rows(jvm)


@pytest.mark.parametrize("layout", ["files", "row_groups"])
@pytest.mark.parametrize(
    "method,unit,max_eval_grams",
    [("exact", "char", 10**6), ("exact", "token", 10**6), ("bloom", "char", 10**6), ("bloom", "token", 10**6), ("exact", "token", 1)],
    ids=["exact-char", "exact-token", "bloom-char", "bloom-token", "overflow_join"],
)
def test_routed_decontaminate_matches_jvm_path(spark, tmp_path, layout, method, unit, max_eval_grams):
    """``decontaminate`` probes a bare scan worker-side, and so does its
    ``EvalGramOverflow`` join (``max_eval_grams=1``); the flags equal the
    JVM path's."""
    d = str(tmp_path / "t")
    _write(d, layout, "bigint", "text", spark.sparkContext.defaultParallelism + 2)
    docs = _read(spark, d, "bigint", "string")
    ev = spark.createDataFrame([("w1 w2 w3 w4",), ("w0 w0 w0",)], "text string")
    run = lambda: decontaminate(docs, ev, "k", "v", "text", n=3, method=method, unit=unit, max_eval_grams=max_eval_grams)  # noqa: E731
    routed, jvm = run(), _jvm(run)
    assert "FileScan" not in routed._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in jvm._jdf.queryExecution().executedPlan().toString()
    got = _sorted_rows(routed)
    assert len(got) > 5
    assert got == _sorted_rows(jvm)


@pytest.mark.parametrize("case", ["filter", "cached"])
def test_non_bare_heavy_hitters_keeps_jvm_path(spark, plain_dir, tmp_path, case):
    """``heavy_hitters`` over a filtered or a cached frame keeps the JVM
    scan in its summarize pass, with the JVM path's output."""
    with contextlib.ExitStack() as stack:
        if case == "cached":
            df = spark.read.parquet(plain_dir).cache()
            stack.callback(df.unpersist)
        else:
            df = _fallback_inputs(spark, plain_dir, tmp_path)[case]()[0]
        run = lambda: heavy_hitters(df, "lang", phi=0.1)  # noqa: E731
        routed, plans = _routed_passes(run)
        assert len(plans) == 1 and "FileScan parquet" in plans[0]
        got = _sorted_rows(routed)
        assert len(got) >= 4 and got == _sorted_rows(_jvm(run))


def test_map_batches_plan_runs_no_job(spark, tmp_path):
    d = str(tmp_path / "pq")
    spark.range(2000).selectExpr("cast(id % 7 as string) AS lang", "cast(id as string) AS url").write.parquet(d)
    df = spark.read.parquet(d)
    assert_plan_runs_no_job(spark, lambda: map_batches(df, lambda batches: batches, df.schema), "map-batches-plan")


def test_map_batches_identity_matches_map_in_arrow(spark, ts_dirs):
    """An identity ``fn`` over a bare scan with a ``to_date(ts)`` column
    reads worker-side and returns the rows ``mapInArrow`` returns."""
    with _confs(spark, {"spark.sql.session.timeZone": "+05:30"}):
        df = spark.read.parquet(ts_dirs["micros"]).select("lang", F.to_date("ts").alias("day"), "url")
        routed = map_batches(df, lambda batches: batches, df.schema)
        assert "FileScan" not in routed._jdf.queryExecution().executedPlan().toString()
        got = _sorted_rows(routed)
        assert len(got) > 100 and got == _sorted_rows(df.mapInArrow(lambda batches: batches, df.schema))


def test_map_batches_over_non_bare_frame_keeps_file_scan(spark, plain_dir):
    df = spark.read.parquet(plain_dir).filter(F.col("lang") != "0").select("lang", "url")
    out = map_batches(df, lambda batches: batches, df.schema)
    assert "FileScan parquet" in out._jdf.queryExecution().executedPlan().toString()
    assert _sorted_rows(out) == _sorted_rows(df)
