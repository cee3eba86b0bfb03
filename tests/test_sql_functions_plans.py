"""SQL-registered sketch functions + plan-inspection assertions (the
PLANS.md claims, executable)."""

import pytest
from pyspark.sql import functions as F

from hlld_spark.core.accumulator import HllSpec
from hlld_spark.functions.sketch_sql import register_sql_functions
from hlld_spark.operators.sketch import build_sketches
from hlld_spark.plans.explain_tools import read_columns, scan_info

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_sql_functions(spark)


def test_sql_cardinality_and_kind(spark, docs):
    build_sketches(docs, ["lang"], "doc_id", HllSpec(14)).createOrReplaceTempView("sk")
    rows = spark.sql(
        "SELECT lang, hll_cardinality(sketch) AS est, sketch_kind(sketch) AS kind, "
        "sketch_bytes(sketch) AS sz FROM sk ORDER BY lang"
    ).collect()
    exact = {r["lang"]: r["d"] for r in docs.groupBy("lang").agg(F.countDistinct("doc_id").alias("d")).collect()}
    for r in rows:
        assert r["kind"] == "hll"
        assert r["sz"] == 6 + 13108  # header + p14 packed bytes
        assert abs(r["est"] - exact[r["lang"]]) / exact[r["lang"]] < 0.05


def test_sql_merge(spark, docs):
    build_sketches(docs, ["lang"], "doc_id", HllSpec(12)).createOrReplaceTempView("sk2")
    # pairwise-merge all langs via aggregation of sketch_merge over a self-join
    row = spark.sql(
        """
        SELECT hll_cardinality(sketch_merge(a.sketch, b.sketch)) AS est
        FROM sk2 a JOIN sk2 b ON a.lang = 'en' AND b.lang = 'de'
        """
    ).first()
    exact = docs.filter(F.col("lang").isin("en", "de")).select("doc_id").distinct().count()
    assert abs(row["est"] - exact) / exact < 0.05


def test_sql_scalar_laws(spark):
    r = spark.sql(
        "SELECT hll_error_for_precision(12) AS e, hll_precision_for_error(0.01) AS p, "
        "hll_bytes_for_precision(10) AS b"
    ).first()
    assert r["e"] == pytest.approx(0.01625)
    assert r["p"] == 14
    assert r["b"] == 820


def test_plan_column_pruning(spark, sf_dir):
    # uncached scan: pruning must reach the parquet reader (a .cache()'d
    # input — or the cache manager substituting an identical cached plan
    # — would materialize every column into the cache instead)
    spark.catalog.clearCache()
    fresh = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # a bare scan is read worker-side (only the key and value columns): no JVM scan
    routed = build_sketches(fresh, ["lang"], "doc_id", HllSpec(12))
    assert read_columns(routed) == [] and scan_info(routed)["has_python_map_in_arrow"]
    # any other input keeps the JVM scan, pruned to the columns the build uses
    sk = build_sketches(fresh.where(F.col("doc_id").isNotNull()), ["lang"], "doc_id", HllSpec(12))
    cols = read_columns(sk)
    assert set(cols) == {"lang", "doc_id"}  # text/source/n_chars not read
    assert scan_info(sk)["has_python_map_in_arrow"]


def test_plan_filter_pushdown(spark, sf_dir):
    spark.catalog.clearCache()
    fresh = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sk = build_sketches(fresh.filter(F.col("lang") == "en"), [], "doc_id", HllSpec(12))
    info = scan_info(sk)
    assert info["pushed_filters"] and "EqualTo(lang,en)" in info["pushed_filters"]


def test_plan_shuffle_carries_sketches_only(spark, docs):
    """The only exchange in the build plan is the tiny partial-sketch
    shuffle (plus AQE reads) — no row-level exchange exists."""
    sk = build_sketches(docs, ["lang"], "doc_id", HllSpec(12))
    plan = sk._jdf.queryExecution().executedPlan().toString()
    # the exchange must sit ABOVE the PythonMapInArrow partial build
    assert plan.index("Exchange") < plan.index("MapInArrow") or "AdaptiveSparkPlan" in plan


def test_sql_quantile(spark, sf_dir):
    """sketch_quantile over t-digest and KLL sketch tables from SQL."""
    from hlld_spark.core.kll import KllSpec
    from hlld_spark.core.tdigest import TDigestSpec

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = sorted(r["value"] for r in ev.select("value").collect())

    def exact_q(q):
        return exact[int(q * (len(exact) - 1))]

    for spec, name in ((TDigestSpec(compression=200), "td"), (KllSpec(k=256), "kll")):
        build_sketches(ev, [], "value", spec).createOrReplaceTempView(f"sk_{name}")
        row = spark.sql(
            f"SELECT sketch_quantile(sketch, 0.5) AS med, sketch_quantile(sketch, 0.9) AS p90 FROM sk_{name}"
        ).first()
        # rank error within 2%
        for got, q in ((row["med"], 0.5), (row["p90"], 0.9)):
            rank = sum(1 for v in exact if v <= got) / len(exact)
            assert abs(rank - q) <= 0.02, (name, q, rank)
    # non-quantile sketches raise
    import pytest as _pt

    build_sketches(ev, [], "user_id", HllSpec(12)).createOrReplaceTempView("sk_h")
    with _pt.raises(Exception, match="no quantiles|PythonException"):
        spark.sql("SELECT sketch_quantile(sketch, 0.5) FROM sk_h").collect()


def test_text_sql_functions(spark):
    """SQL surface over the text layer: lang_id, lang_id_profiles,
    ngram_jaccard usable from plain spark.sql."""
    from hlld_spark.functions.text_sql import register_text_functions

    register_text_functions(spark)
    spark.createDataFrame(
        [
            ("the of and to in is that it the and", "El tiempo estaba frío esta mañana."),
            ("abcde", "abcdx"),
        ],
        "a string, b string",
    ).createOrReplaceTempView("t_textfn")
    rows = spark.sql(
        "SELECT lang_id(a) AS m, lang_id_profiles(b) AS p, "
        "ROUND(ngram_jaccard(a, b, 3), 4) AS j FROM t_textfn"
    ).collect()
    assert rows[0]["m"] == "en" and rows[0]["p"] == "es"
    # 'abcde' vs 'abcdx': 3-grams {abc,bcd,cde} vs {abc,bcd,cdx} -> 2/4
    assert rows[1]["j"] == 0.5


def test_ngram_jaccard_column_n(spark):
    """ADVICE r3: a per-row COLUMN n must score each row with ITS n,
    not the batch's first value."""
    from pyspark.sql import functions as F

    from hlld_spark.functions.text_sql import register_text_functions

    register_text_functions(spark)
    df = spark.createDataFrame(
        [("abcdef", "abcdef", 3), ("abcdef", "abcdef", 5), ("abcdXf", "abcdef", 2)],
        "a string, b string, n int",
    ).coalesce(1)
    rows = df.selectExpr("ngram_jaccard(a, b, n) AS j").collect()
    assert rows[0]["j"] == 1.0 and rows[1]["j"] == 1.0
    # row 3: 2-grams of abcdXf vs abcdef -> {ab,bc,cd,dX,Xf} vs
    # {ab,bc,cd,de,ef}: 3 shared of 7 distinct
    assert abs(rows[2]["j"] - 3 / 7) < 1e-12


def test_registry_tolerates_corrupt_config_dir(tmp_path):
    """ADVICE r3: one malformed hlld.<name>/config.ini must not prevent
    the whole registry from constructing — the bad dir is skipped, the
    good ones are discovered."""
    import os

    from hlld_spark.registry import SketchRegistry

    root = str(tmp_path / "data")
    reg = SketchRegistry(root)
    reg.create("good", precision=12)
    reg.flush("good")
    # corrupt dir: section present but no default_precision key
    bad = os.path.join(root, "hlld.bad")
    os.makedirs(bad)
    with open(os.path.join(bad, "config.ini"), "w") as f:
        f.write("[hlld]\ndefault_eps = 0.02\n")
    # and one with no section at all
    bad2 = os.path.join(root, "hlld.bad2")
    os.makedirs(bad2)
    with open(os.path.join(bad2, "config.ini"), "w") as f:
        f.write("default_precision = 12\n")
    import warnings as _warnings

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        reg2 = SketchRegistry(root)
    assert "good" in reg2._sets and "bad" not in reg2._sets and "bad2" not in reg2._sets
    # ADVICE r4: each skipped dir leaves a trace naming the directory
    msgs = [str(w.message) for w in caught if "skipping sketch set" in str(w.message)]
    assert any("'bad'" in m for m in msgs) and any("'bad2'" in m for m in msgs), msgs
