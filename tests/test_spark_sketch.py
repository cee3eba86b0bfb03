"""Spark-layer sketch aggregation: correctness vs exact, shard invariance,
re-aggregation, and the web_pages corpus invariants."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from hlld_spark.core import hll
from hlld_spark.core.accumulator import HllSpec
from hlld_spark.core.hashing import hll_hash
from hlld_spark.operators.sketch import (
    build_sketches,
    distinct_count,
    merge_sketches,
    rollup_sketches,
    with_estimate,
)
from hlld_spark.sources.webpages import extract_text, generate_web_pages

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def wp(spark):
    return generate_web_pages(spark, 20000, partitions=16).cache()


def test_distinct_count_within_bound(spark, docs):
    est = {r["lang"]: r["estimate"] for r in distinct_count(docs, ["lang"], "doc_id", HllSpec(14)).collect()}
    exact = {r["lang"]: r["d"] for r in docs.groupBy("lang").agg(F.countDistinct("doc_id").alias("d")).collect()}
    assert set(est) == set(exact)
    for lang, d in exact.items():
        assert abs(est[lang] - d) / d <= 3 * hll.error_for_precision(14)


def test_global_sketch_no_keys(spark, docs):
    row = with_estimate(build_sketches(docs, [], "doc_id", HllSpec(14))).first()
    exact = docs.select("doc_id").distinct().count()
    assert abs(row["estimate"] - exact) / exact <= 3 * hll.error_for_precision(14)
    assert row["n_rows"] == docs.filter(F.col("doc_id").isNotNull()).count()


def test_sketch_matches_local_build(spark, docs):
    """Distributed build == single-threaded numpy build, byte-identical."""
    spec = HllSpec(12)
    rows = build_sketches(docs, ["lang"], "doc_id", spec).collect()
    local = docs.select("lang", "doc_id").toPandas()
    for r in rows:
        grp = local[local["lang"] == r["lang"]]
        regs = hll.new_registers(12)
        hll.add_hashes(regs, hll_hash(grp["doc_id"].astype(str)), 12)
        got, p = hll.deserialize(bytes(r["sketch"]))
        assert p == 12
        assert np.array_equal(got, regs), f"lang={r['lang']}"


@pytest.mark.parametrize("parts", [1, 3, 32])
def test_shard_invariance_across_partitionings(spark, docs, parts):
    spec = HllSpec(12)
    base = {r["lang"]: bytes(r["sketch"]) for r in build_sketches(docs, ["lang"], "doc_id", spec).collect()}
    rep = {
        r["lang"]: bytes(r["sketch"])
        for r in build_sketches(docs.repartition(parts), ["lang"], "doc_id", spec).collect()
    }
    assert base == rep


def test_merge_sketches_reaggregation(spark, docs):
    """per-(lang, source) sketches merged up to per-lang == direct per-lang
    build, byte-identical (sketch re-aggregability)."""
    spec = HllSpec(12)
    fine = build_sketches(docs, ["lang", "source"], "doc_id", spec)
    up = {r["lang"]: bytes(r["sketch"]) for r in merge_sketches(fine, ["lang"]).collect()}
    direct = {r["lang"]: bytes(r["sketch"]) for r in build_sketches(docs, ["lang"], "doc_id", spec).collect()}
    assert up == direct
    # and all the way to global
    g = merge_sketches(fine, []).collect()[0]
    dg = build_sketches(docs, [], "doc_id", spec).collect()[0]
    assert bytes(g["sketch"]) == bytes(dg["sketch"])


def test_nulls_dropped(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", None), ("b", "y"), ("b", "y")], ["k", "v"]
    )
    rows = {r["k"]: r for r in distinct_count(df, ["k"], "v", HllSpec(14)).collect()}
    assert rows["a"]["n_rows"] == 1 and rows["b"]["n_rows"] == 2
    assert rows["a"]["estimate"] == pytest.approx(1, abs=0.01)
    assert rows["b"]["estimate"] == pytest.approx(1, abs=0.01)


def test_empty_input(spark):
    df = spark.createDataFrame([], "k string, v string")
    assert distinct_count(df, ["k"], "v").count() == 0
    assert build_sketches(df, [], "v").count() == 0


def test_timestamp_group_key(spark, wp):
    spec = HllSpec(12)
    by_day = distinct_count(wp.withColumn("day", F.to_date("warc_ts")), ["day"], "url", spec)
    exact = wp.withColumn("day", F.to_date("warc_ts")).groupBy("day").agg(
        F.countDistinct("url").alias("d")
    )
    j = by_day.join(exact, "day").collect()
    assert len(j) == 14
    for r in j:
        assert abs(r["estimate"] - r["d"]) / r["d"] <= 3 * hll.error_for_precision(12)


# --- web_pages corpus invariants (FIXTURES.md F1) ---------------------------


def test_webpages_deterministic(spark):
    a = generate_web_pages(spark, 2000, partitions=4)
    b = generate_web_pages(spark, 2000, partitions=7)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_webpages_extraction_invariant(spark, wp):
    assert extract_text(wp).filter(F.col("extracted_text") != F.col("text")).count() == 0


def test_webpages_duplicate_urls_share_bytes(spark, wp):
    """Duplicate urls must carry byte-identical html/text (per-url invariant)."""
    dup = (
        wp.groupBy("url")
        .agg(F.countDistinct("text").alias("nt"), F.countDistinct(F.md5(F.base64("html"))).alias("nh"), F.count("*").alias("n"))
        .filter((F.col("nt") > 1) | (F.col("nh") > 1))
        .count()
    )
    assert dup == 0
    assert wp.select("url").distinct().count() < wp.count()  # dups exist


def test_webpages_lang_skew(spark, wp):
    counts = {r["lang"]: r["count"] for r in wp.groupBy("lang").count().collect()}
    assert max(counts, key=counts.get) == "en"
    assert counts["en"] / sum(counts.values()) > 0.4


def test_sanity_vs_spark_native_hllpp(spark, docs):
    """Our HLL and Spark's approx_count_distinct (HLL++ — same family,
    different constants) must agree within their combined error bounds."""
    ours = {r["lang"]: r["estimate"] for r in distinct_count(docs, ["lang"], "doc_id", HllSpec(14)).collect()}
    theirs = {
        r["lang"]: r["a"]
        for r in docs.groupBy("lang").agg(F.approx_count_distinct("doc_id", 0.01).alias("a")).collect()
    }
    for lang in ours:
        bound = 3 * (hll.error_for_precision(14) + 0.01)
        assert abs(ours[lang] - theirs[lang]) / theirs[lang] <= bound


def test_many_groups_sparse_builder(spark, wp):
    """High-cardinality grouping (per-host, ~1000 groups x 16 partitions)
    exercises the sparse-until-dense builder: results must be
    byte-identical across partitionings and correct vs exact."""
    hosted = wp.withColumn("host", F.regexp_extract("url", r"https://([^/]+)/", 1))
    spec = HllSpec(12)
    a = {r["host"]: bytes(r["sketch"]) for r in build_sketches(hosted, ["host"], "url", spec).collect()}
    b = {
        r["host"]: bytes(r["sketch"])
        for r in build_sketches(hosted.repartition(5), ["host"], "url", spec).collect()
    }
    assert a == b
    assert len(a) > 500  # actually many groups
    exact = {
        r["host"]: r["d"]
        for r in hosted.groupBy("host").agg(F.countDistinct("url").alias("d")).collect()
    }
    import numpy as np
    for host in list(exact)[:50]:
        regs, p = hll.deserialize(a[host])
        est = hll.cardinality(regs, p)
        assert abs(est - exact[host]) / exact[host] <= max(3 * hll.error_for_precision(12), 0.05)


def test_parquet_direct_build_matches_dataframe_path(spark, wp, tmp_path):
    """build_sketches_parquet (worker-side scan) is byte-identical to the
    generic DataFrame path, for grouped and global builds."""
    from hlld_spark.operators.sketch import build_sketches_parquet

    d = str(tmp_path / "wp")
    wp.write.parquet(d)
    spec = HllSpec(12)
    a = {r["lang"]: bytes(r["sketch"]) for r in build_sketches_parquet(spark, d, ["lang"], "url", spec).collect()}
    b = {r["lang"]: bytes(r["sketch"]) for r in build_sketches(spark.read.parquet(d), ["lang"], "url", spec).collect()}
    assert a == b
    ga = build_sketches_parquet(spark, d, [], "url", spec).collect()[0]
    gb = build_sketches(spark.read.parquet(d), [], "url", spec).collect()[0]
    assert bytes(ga["sketch"]) == bytes(gb["sketch"]) and ga["n_rows"] == gb["n_rows"]


def test_parquet_direct_filter_pushdown(spark, wp, tmp_path):
    """pyarrow-side filters prune rows before hashing."""
    from hlld_spark.operators.sketch import build_sketches_parquet

    d = str(tmp_path / "wpf")
    wp.write.parquet(d)
    spec = HllSpec(12)
    import pyarrow.dataset as ds

    b = build_sketches(spark.read.parquet(d).filter(F.col("lang") == "en"), [], "url", spec).collect()[0]
    for filt in ([("lang", "=", "en")], ds.field("lang") == "en"):
        a = build_sketches_parquet(spark, d, [], "url", spec, filter=filt).collect()[0]
        assert bytes(a["sketch"]) == bytes(b["sketch"])
        assert a["n_rows"] == b["n_rows"]


def test_null_group_keys_preserved(spark):
    """SQL GROUP BY keeps the null group; so do we (arrow dictionary
    null-code path)."""
    df = spark.createDataFrame(
        [("a", "x"), (None, "y"), (None, "z"), ("a", "y")], ["k", "v"]
    )
    rows = {r["k"]: r["n_rows"] for r in build_sketches(df, ["k"], "v", HllSpec(12)).collect()}
    assert rows == {"a": 2, None: 2}


def test_three_key_grouping(spark, wp):
    """3+ group keys exercise the re-encoded code-combination path."""
    df = wp.withColumn("day", F.to_date("warc_ts")).withColumn(
        "host", F.regexp_extract("url", r"https://([^/]+)/", 1)
    )
    got = {
        (r["lang"], str(r["day"]), r["host"]): r["n_rows"]
        for r in build_sketches(df, ["lang", "day", "host"], "url", HllSpec(10)).collect()
    }
    exact = {
        (r["lang"], str(r["day"]), r["host"]): r["n"]
        for r in df.groupBy("lang", "day", "host").agg(F.count("url").alias("n")).collect()
    }
    assert got == exact


def test_parquet_direct_single_giant_file_rowgroup_splits(spark, wp, tmp_path):
    """One big file must still parallelize (row-group range splits) and
    produce byte-identical sketches."""
    from hlld_spark.operators.sketch import build_sketches_parquet

    d = str(tmp_path / "one")
    # single file with several row groups
    wp.coalesce(1).write.option("parquet.block.size", 64 * 1024).parquet(d)
    import glob as g
    import pyarrow.parquet as pq

    f = g.glob(f"{d}/*.parquet")[0]
    assert pq.ParquetFile(f).metadata.num_row_groups > 1
    spec = HllSpec(12)
    a = {r["lang"]: bytes(r["sketch"]) for r in build_sketches_parquet(spark, d, ["lang"], "url", spec).collect()}
    b = {r["lang"]: bytes(r["sketch"]) for r in build_sketches(wp, ["lang"], "url", spec).collect()}
    assert a == b
    # filters still verified on the row-group path — BOTH contract forms
    # (tuple list and ds.Expression; ADVICE fix)
    import pyarrow.dataset as ds

    fb = build_sketches(wp.filter(F.col("lang") == "en"), [], "url", spec).collect()[0]
    for filt in ([("lang", "=", "en")], ds.field("lang") == "en"):
        fa = build_sketches_parquet(spark, d, [], "url", spec, filter=filt).collect()[0]
        assert bytes(fa["sketch"]) == bytes(fb["sketch"]) and fa["n_rows"] == fb["n_rows"]


def test_global_merge_build_stays_parallel(spark, docs):
    """VERDICT r2 #2 (sharpened): coalesce(1) before the global merge was
    a NARROW dependency — it collapsed the whole upstream stage into the
    single merge task, serializing the partial builds themselves (probed:
    16 partitions, one taskAttemptId). The global merge uses a real exchange,
    so the builds must now run under distinct task attempts."""
    import glob
    import os
    import tempfile
    import uuid

    from pyspark import TaskContext

    marker = tempfile.mkdtemp(prefix="hlld_global_tasks_")

    def passthrough(batches):
        tc = TaskContext.get()
        open(os.path.join(marker, f"{tc.taskAttemptId()}_{uuid.uuid4().hex}"), "w").close()
        yield from batches

    df = docs.select("doc_id").repartition(16)
    wrapped = df.mapInArrow(passthrough, schema=df.schema)
    build_sketches(wrapped, [], "doc_id", HllSpec(12)).collect()
    names = [os.path.basename(p) for p in glob.glob(os.path.join(marker, "*"))]
    tasks = {n.split("_")[0] for n in names}
    assert len(names) == 16  # every partition built
    assert len(tasks) == 16, f"builds serialized into {len(tasks)} task(s)"


def test_global_tree_merge_byte_identical(spark, docs):
    """A global merge is one flat fold at any fan-in; HLL merge is
    associative+commutative, so 128 partials give the bytes 4 give."""
    spec = HllSpec(12)
    flat = build_sketches(docs.repartition(4), [], "doc_id", spec).collect()[0]
    wide = build_sketches(docs.repartition(128), [], "doc_id", spec).collect()[0]
    assert bytes(wide["sketch"]) == bytes(flat["sketch"])
    assert wide["n_rows"] == flat["n_rows"]


def test_global_tree_merge_byte_identical_cms_bloom(spark, docs):
    from hlld_spark.core.bloom import BloomSpec
    from hlld_spark.core.cms import CmsSpec

    for spec in (CmsSpec(), BloomSpec(bits=1 << 20)):
        flat = build_sketches(docs.repartition(3), [], "doc_id", spec).collect()[0]
        wide = build_sketches(docs.repartition(73), [], "doc_id", spec).collect()[0]
        assert bytes(wide["sketch"]) == bytes(flat["sketch"]), type(spec).__name__
        assert wide["n_rows"] == flat["n_rows"]


@pytest.mark.parametrize("plan", ["rollup", "keyed_then_global", "global"])
def test_building_a_sketch_plan_runs_no_job(spark, plan):
    """Building a sketch DataFrame launches no Spark job: nothing probes
    the upstream (under AQE, reading its partition count would run every
    shuffle stage on the driver, and the action would run them again)."""
    df = spark.range(20000).selectExpr(
        "cast(id % 7 as string) AS lang", "cast(id % 3 as string) AS day", "cast(id as string) AS url"
    )
    build = {
        "rollup": lambda: rollup_sketches(df, ["lang", "day"], "url"),
        "keyed_then_global": lambda: merge_sketches(build_sketches(df, ["lang"], "url"), []),
        "global": lambda: build_sketches(df.repartition(16), [], "url"),
    }[plan]
    sc = spark.sparkContext
    group = f"sketch-plan-{plan}"
    sc.setJobGroup(group, "build a sketch plan")
    try:
        out = build()
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert out.count() > 0
        assert sc.statusTracker().getJobIdsForGroup(group)  # the probe sees the action's jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_rollup_plan_is_one_build_and_one_level_merge(spark):
    """A rollup plans one build, one finest merge and one merge of every
    level: 3 MapInArrow nodes and 2 shuffle exchanges on an input with no
    shuffle of its own."""
    from hlld_spark.plans.explain_tools import executed_plan

    df = spark.range(20000).selectExpr("cast(id % 7 as string) AS a", "cast(id % 3 as string) AS b", "cast(id as string) AS u")
    plan = executed_plan(rollup_sketches(df, ["a", "b"], "u"))
    assert plan.count("MapInArrow ") == 3, plan
    assert len(re.findall(r"(?<!Reused)Exchange ", plan)) == 2, plan
