"""URL operators (r6): parsing, canonicalization rules, registrable
domains — pure-Catalyst column algebra with hand-checked expectations
(the driver gate cross-checks the same rules against an independent
DuckDB SQL reimplementation)."""

import pytest

from hlld_spark.operators.urls import (
    canonicalize_urls,
    with_registrable_domain,
    write_urls_fixture,
)

CASES = [
    # raw -> canonical
    ("HTTPS://Example.COM:443/a?utm_source=x&b=2&a=1#frag",
     "https://example.com/a?a=1&b=2"),
    ("http://user:pw@Example.com:80/", "http://example.com/"),
    ("http://example.com", "http://example.com/"),
    ("https://example.com:8443/x?gclid=1", "https://example.com:8443/x"),
    ("https://news.example.co.uk/story?id=7&utm_medium=m",
     "https://news.example.co.uk/story?id=7"),
    ("http://192.168.10.20:8080/p?z=1&a=2", "http://192.168.10.20:8080/p?a=2&z=1"),
    ("mailto:someone@example.com", "mailto:someone@example.com"),  # passthrough
    ("ftp://files.example.com/pub", "ftp://files.example.com/pub"),  # passthrough
]

DOMAIN_CASES = [
    ("https://news.example.co.uk/x", "example.co.uk"),
    ("https://shop.example.co.uk/y", "example.co.uk"),
    ("https://a.b.site.com.au/", "site.com.au"),
    ("https://www.mirror.org/", "mirror.org"),
    ("https://sub.deep.nested.io/", "nested.io"),
    ("http://192.168.10.20/", "192.168.10.20"),
    ("http://localhost/", "localhost"),
    ("https://example.com/", "example.com"),
]


@pytest.mark.spark
def test_canonicalization_rules(spark):
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(CASES)], "i long, url string")
    got = {r["i"]: r["canonical_url"] for r in canonicalize_urls(df).collect()}
    for i, (_, want) in enumerate(CASES):
        assert got[i] == want, CASES[i]


@pytest.mark.spark
def test_registrable_domain_heuristic(spark):
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(DOMAIN_CASES)], "i long, url string"
    )
    got = {r["i"]: r["domain"] for r in with_registrable_domain(df).collect()}
    for i, (_, want) in enumerate(DOMAIN_CASES):
        assert got[i] == want, DOMAIN_CASES[i]


@pytest.mark.spark
def test_canonical_collapses_dup_family_and_plan_is_pure_catalyst(spark):
    """The point of the operator: one page fetched four ways becomes ONE
    dedup key — and the plan contains no Python evaluation node."""
    from pyspark.sql import functions as F

    fam = [
        "https://example.com/page",
        "HTTPS://EXAMPLE.com:443/page#top",
        "https://example.com/page?utm_source=tw",
        "https://user@example.com/page?fbclid=abc#sec2",
    ]
    df = spark.createDataFrame([(u,) for u in fam], "url string")
    out = canonicalize_urls(df)
    assert out.select(F.countDistinct("canonical_url")).collect()[0][0] == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "MapInPandas" not in plan


def test_fixture_deterministic(tmp_path):
    a = write_urls_fixture(str(tmp_path / "a.parquet"), 100)
    import pyarrow.parquet as pq

    t = pq.read_table(a)
    assert t.num_rows == 100
    urls = t.column("raw_url").to_pylist()
    assert urls == pq.read_table(write_urls_fixture(str(tmp_path / "b.parquet"), 100)).column("raw_url").to_pylist()
    # messy features are all present
    assert any("utm_source" in u for u in urls)
    assert any("#" in u for u in urls)
    assert any(":443" in u for u in urls)
    assert any("@" in u for u in urls)


@pytest.mark.spark
def test_latest_fetch_per_url(spark):
    rows = [
        ("https://ex.com/a?utm_source=x", "2024-01-01", "old"),
        ("https://EX.com:443/a", "2024-03-01", "new"),
        ("https://ex.com/a#frag", "2024-02-01", "mid"),
        ("https://ex.com/b", "2024-01-15", "only"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts string, tag string")
    from hlld_spark.operators.urls import latest_fetch_per_url

    kept = {r["tag"] for r in latest_fetch_per_url(df, "url", "warc_ts").collect()}
    assert kept == {"new", "only"}
    # without canonicalization every raw url is its own key
    kept_raw = {
        r["tag"]
        for r in latest_fetch_per_url(df, "url", "warc_ts", canonicalize=False).collect()
    }
    assert kept_raw == {"old", "new", "mid", "only"}


@pytest.mark.spark
def test_latest_fetch_tie_break_deterministic(spark):
    rows = [
        ("https://ex.com/a?utm_source=x", "2024-01-01"),
        ("https://ex.com/a#f", "2024-01-01"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts string")
    from hlld_spark.operators.urls import latest_fetch_per_url

    out = [r["url"] for r in latest_fetch_per_url(df, "url", "warc_ts").collect()]
    # equal timestamps: raw-url-desc tie break → the utm variant wins
    assert out == ["https://ex.com/a?utm_source=x"]
