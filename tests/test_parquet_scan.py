"""Generic worker-side parquet scan primitive (sources/parquet_scan)."""

import datetime
import decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hlld_spark.operators.sketch import build_sketches, build_sketches_parquet
from hlld_spark.sources.parquet_scan import list_parquet_files, map_parquet_batches, parquet_schema, plan_parquet_splits
from tests.conftest import assert_plan_runs_no_job

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def web_dir(spark, tmp_path_factory):
    from hlld_spark.sources.webpages import generate_web_pages

    d = str(tmp_path_factory.mktemp("ps") / "web")
    generate_web_pages(spark, 30000, partitions=6).write.parquet(d)
    return d


def test_identity_matches_dataframe_read(spark, web_dir):
    def ident(batches):
        yield from batches

    got = map_parquet_batches(spark, web_dir, ident, "url string, lang string", ["url", "lang"])
    a = sorted((r["url"], r["lang"]) for r in got.collect())
    b = sorted((r["url"], r["lang"]) for r in spark.read.parquet(web_dir).select("url", "lang").collect())
    assert a == b


def test_listing_drops_empty_files(spark, web_dir, tmp_path):
    """A 0-byte file in a table directory is skipped, as Spark's parquet
    scan skips it: the worker-side build equals the build over
    ``spark.read.parquet`` of the same directory."""
    import shutil

    d = tmp_path / "with_empty"
    shutil.copytree(web_dir, d)
    (d / "part-99999-empty.parquet").write_bytes(b"")
    good = list_parquet_files(web_dir)
    assert [f.rsplit("/", 1)[1] for f in list_parquet_files(str(d))] == [f.rsplit("/", 1)[1] for f in good]
    assert len(list_parquet_files(str(d / "*.parquet"))) == len(good)
    got = sorted(tuple(r) for r in build_sketches_parquet(spark, str(d), ["lang"], "url").collect())
    want = sorted(tuple(r) for r in build_sketches(spark.read.parquet(str(d)), ["lang"], "url").collect())
    assert got == want and len(got) > 1


def test_filter_pushdown_both_forms(spark, web_dir):
    import pyarrow.dataset as ds

    def count_rows(batches):
        import pyarrow as pa

        n = 0
        for rb in batches:
            n += rb.num_rows
        yield pa.RecordBatch.from_arrays([pa.array([n], pa.int64())], names=["n"])

    expect = spark.read.parquet(web_dir).filter(F.col("lang") == "en").count()
    for filt in ([("lang", "=", "en")], ds.field("lang") == "en"):
        got = map_parquet_batches(spark, web_dir, count_rows, "n long", ["lang"], filter=filt)
        assert sum(r["n"] for r in got.collect()) == expect


def test_malformed_filter_raises_on_driver(spark, web_dir):
    """A filter that is neither an Expression nor a list of (column, op,
    value) tuples raises while the plan is built, before any job starts,
    also from an operator that runs a job of its own before its scan."""
    from hlld_spark.operators.decontaminate import decontaminate_parquet

    def ident(batches):
        yield from batches

    bad = ("url", ">", 300)  # one tuple, not a list of tuples
    ev = spark.createDataFrame([("a b c d e f g h i j k l m n",)], "text string")
    sc = spark.sparkContext
    sc.setJobGroup("bad-filter", "plan with a malformed filter")
    try:
        with pytest.raises(TypeError):
            map_parquet_batches(spark, web_dir, ident, "url string", ["url"], filter=bad)
        with pytest.raises(TypeError):
            decontaminate_parquet(spark, web_dir, ev, "url", "text", filter=bad)
        assert sc.statusTracker().getJobIdsForGroup("bad-filter") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_lang_id_rides_worker_side_scan(spark, web_dir):
    """Any Arrow-batch operator composes with the scan primitive: lang-id
    per-lang counts computed entirely worker-side equal the DataFrame-UDF
    path."""
    from hlld_spark.operators.text import _lang_id_batch, with_lang_id

    def lang_counts(batches):
        import pandas as pd
        import pyarrow as pa

        counts: dict = {}
        for rb in batches:
            texts = pd.Series(rb.column(0).to_pylist())
            for v in _lang_id_batch(texts).to_pylist():
                counts[v] = counts.get(v, 0) + 1
        if counts:
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(counts.keys()), pa.string()), pa.array(list(counts.values()), pa.int64())],
                names=["lang_id", "n"],
            )

    got = (
        map_parquet_batches(spark, web_dir, lang_counts, "lang_id string, n long", ["text"])
        .groupBy("lang_id")
        .agg(F.sum("n").alias("n"))
    )
    a = {r["lang_id"]: r["n"] for r in got.collect()}
    b = {
        r["lang_id"]: r["n"]
        for r in with_lang_id(spark.read.parquet(web_dir), "text")
        .groupBy("lang_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert a == b


def test_giant_file_rowgroup_split_planning(spark, web_dir, tmp_path):
    from hlld_spark.sources.webpages import generate_web_pages

    one = str(tmp_path / "one")
    generate_web_pages(spark, 20000, partitions=4).coalesce(1).write.option(
        "parquet.block.size", 64 * 1024
    ).parquet(one)
    splits, n_tasks = plan_parquet_splits(spark, one)
    assert len(splits) > 1 and all(lo >= 0 for _, lo, _ in splits)

    def ident(batches):
        yield from batches

    got = map_parquet_batches(spark, one, ident, "url string", ["url"]).count()
    assert got == 20000


def test_parquet_schema_matches_spark_read_spark_written(spark, tmp_path):
    """A file Spark wrote (row metadata present, INT96 timestamps) types
    exactly as ``spark.read.parquet`` does."""
    d = str(tmp_path / "spark_typed")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.sql(
            """SELECT 'a' AS s, CAST(1 AS TINYINT) AS b, CAST(2 AS SMALLINT) AS sh, 3 AS i,
                      CAST(4 AS BIGINT) AS l, DATE'2024-01-02' AS d,
                      TIMESTAMP'2024-01-02 03:04:05' AS ts, TIMESTAMP_NTZ'2024-01-02 03:04:05' AS tsn,
                      CAST(1.5 AS DECIMAL(10, 2)) AS dec, true AS bo, 2.5D AS db, X'0102' AS bin"""
        ).coalesce(1).write.parquet(d)
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    f = next(str(p) for p in (tmp_path / "spark_typed").glob("*.parquet"))
    leaves = pq.ParquetFile(f).schema
    assert any(leaves.column(i).physical_type == "INT96" for i in range(len(leaves)))
    cols = ["s", "b", "sh", "i", "l", "d", "ts", "tsn", "dec", "bo", "db", "bin"]
    assert parquet_schema(f, cols) == spark.read.parquet(f).select(cols).schema
    assert parquet_schema(d, ["bin", "s"]) == spark.read.parquet(d).select("bin", "s").schema


def _pyarrow_typed_table(n: int = 4) -> pa.Table:
    ts = [datetime.datetime(2024, 1, 2, 3, 4, i) for i in range(n)]
    return pa.table(
        {
            "s": pa.array([f"s{i}" for i in range(n)], pa.string()),
            "ls": pa.array([f"l{i}" for i in range(n)], pa.large_string()),
            "i8": pa.array(range(n), pa.int8()),
            "i16": pa.array(range(n), pa.int16()),
            "i32": pa.array(range(n), pa.int32()),
            "i64": pa.array(range(n), pa.int64()),
            "d": pa.array([datetime.date(2024, 1, i + 1) for i in range(n)], pa.date32()),
            "tsz": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "tsn": pa.array(ts, pa.timestamp("us")),
            "dec": pa.array([decimal.Decimal(f"{i}.25") for i in range(n)], pa.decimal128(10, 2)),
            "bo": pa.array([i % 2 == 0 for i in range(n)]),
            "f": pa.array([i + 0.5 for i in range(n)], pa.float32()),
            "db": pa.array([i + 0.5 for i in range(n)], pa.float64()),
            "bin": pa.array([bytes([i]) for i in range(n)], pa.binary()),
            "dict": pa.array([f"k{i % 2}" for i in range(n)]).dictionary_encode(),
        }
    )


def test_parquet_schema_matches_spark_read_pyarrow_written(spark, tmp_path):
    """A file pyarrow wrote (no Spark metadata) types from its Arrow
    schema exactly as ``spark.read.parquet`` infers it."""
    f = str(tmp_path / "arrow_typed.parquet")
    tbl = _pyarrow_typed_table()
    pq.write_table(tbl, f)
    cols = tbl.column_names
    assert parquet_schema(f, cols) == spark.read.parquet(f).select(cols).schema


@pytest.mark.parametrize("col", ["u8", "u16", "u32", "u64", "ts96"])
def test_unmapped_key_types_fail_at_plan_time(spark, tmp_path, col):
    """Unsigned ints, and INT96 in a file Spark did not write, have no
    Spark type the worker-side read can hand back: the build raises at
    plan time, naming the column, instead of failing in the tasks."""
    f = str(tmp_path / "unmapped.parquet")
    n = 6
    tbl = pa.table(
        {
            "url": pa.array([f"u{i}" for i in range(n)]),
            "u8": pa.array(range(n), pa.uint8()),
            "u16": pa.array(range(n), pa.uint16()),
            "u32": pa.array(range(n), pa.uint32()),
            "u64": pa.array(range(n), pa.uint64()),
            "ts96": pa.array([datetime.datetime(2024, 1, 2, 0, 0, i) for i in range(n)], pa.timestamp("us")),
        }
    )
    pq.write_table(tbl, f, use_deprecated_int96_timestamps=True)
    with pytest.raises(ValueError, match=col):
        parquet_schema(f, ["url", col])
    with pytest.raises(ValueError, match=col):
        build_sketches_parquet(spark, f, [col], "url")
    # as the hashed value column the same types still build
    (row,) = build_sketches_parquet(spark, f, [], col).collect()
    assert row["n_rows"] == n


def test_missing_column_fails_at_plan_time(spark, web_dir):
    with pytest.raises(ValueError, match="nope"):
        build_sketches_parquet(spark, web_dir, ["nope"], "url")
    with pytest.raises(ValueError, match="nope"):
        build_sketches_parquet(spark, web_dir, ["lang"], "nope")


def test_keyed_build_uses_no_explicit_broadcast(spark, web_dir, monkeypatch):
    """The split table rides the task closure: a keyed parquet build runs
    end to end with ``SparkContext.broadcast`` unavailable."""
    from pyspark import SparkContext

    def no_broadcast(self, value):
        raise AssertionError("explicit broadcast")

    monkeypatch.setattr(SparkContext, "broadcast", no_broadcast)
    rows = build_sketches_parquet(spark, web_dir, ["lang"], "url").collect()
    assert sum(r["n_rows"] for r in rows) == 30000


@pytest.mark.parametrize("op", ["lang_id_profiles", "multimodal_features"])
def test_parquet_operator_plan_runs_no_job(spark, web_dir, tmp_path, op):
    """Planning a worker-side-scan operator reads only parquet footers:
    no Spark job runs until the action."""
    from hlld_spark.operators.lang_profiles import lang_id_profiles_parquet
    from hlld_spark.operators.multimodal import multimodal_features_parquet

    assets = str(tmp_path / "assets.parquet")
    pq.write_table(pa.table({"asset_id": pa.array([1, 2], pa.int64()), "payload": pa.array([b"x", b"y"])}), assets)
    build = {
        "lang_id_profiles": lambda: lang_id_profiles_parquet(spark, web_dir, "text", carry_cols=["url"]),
        "multimodal_features": lambda: multimodal_features_parquet(spark, assets),
    }[op]
    assert_plan_runs_no_job(spark, build, f"parquet-plan-{op}")
