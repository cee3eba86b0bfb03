"""URL operators for web-crawl pipelines — parsing, canonicalization,
registrable-domain extraction. PURE CATALYST: every transformation is
built-in-function column algebra (regexp_extract / split / filter /
array_sort / concat_ws), so it rides whole-stage codegen with zero
Python in the hot path and pushes down like any other projection.

Why these exist: URL keys drive crawl dedup (the same page is fetched
as ``http://X``, ``https://x/?utm_source=...``, ``https://x/#frag``…),
per-site aggregation (host vs REGISTRABLE domain — news.example.co.uk
and shop.example.co.uk are one site), and politeness/sampling buckets.
Canonicalizing before hashing collapses those families; at 10^12 pages
the difference between host-level and domain-level grouping is the
difference between 10^8 and 10^7 groups.

Canonicalization rules (deterministic, documented, mirrored by the SQL
oracle in ``__spark_entry__``): lower-case scheme and host, strip
userinfo, strip default ports (http:80 / https:443), drop the
fragment, drop tracking query parameters (utm_*, gclid, fbclid, …),
sort the surviving parameters, normalize an empty path to ``/``.
Non-http(s) strings pass through unchanged.

Registrable domain is a HEURISTIC public-suffix cut: a built-in set of
common multi-part suffixes (co.uk, com.au, …) plus a last-two-labels
fallback — NOT the full Mozilla PSL (thousands of entries; wiring a
full list in as a broadcast join is a one-liner on a real deployment).

Reference parity note: the reference (hlld) keys sets by caller-chosen
strings; these operators produce those keys from raw crawl URLs —
brief-mandated pipeline companions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: query parameters that never identify content (tracking/session noise)
TRACKING_PARAM_RE = (
    r"^(utm_[a-z]+|gclid|dclid|fbclid|msclkid|mc_eid|mc_cid|igshid|"
    r"ref_src|ref_url|yclid|_ga|_gl|spm|si)="
)

#: common multi-part public suffixes (heuristic subset; see module doc)
MULTIPART_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "com.ar", "com.tr", "com.sg", "com.hk", "com.tw",
    "co.in", "co.kr", "co.za", "co.nz", "co.id", "co.il", "co.th",
)

_URL_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://"


def _scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))


def _authority(url: Column) -> Column:
    auth = F.regexp_extract(url, _URL_RE + r"([^/?#]+)", 1)
    # strip userinfo (everything up to the last '@')
    return F.regexp_replace(auth, r"^.*@", "")


def _host(url: Column) -> Column:
    return F.lower(F.regexp_extract(_authority(url), r"^([^:]*)", 1))


def _port(url: Column) -> Column:
    p = F.regexp_extract(_authority(url), r":(\d+)$", 1)
    return F.when(p != "", p.cast("int"))


def _path(url: Column) -> Column:
    p = F.regexp_extract(url, _URL_RE + r"[^/?#]+([^?#]*)", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def _query(url: Column) -> Column:
    return F.regexp_extract(url, r"\?([^#]*)", 1)


def canonical_url_col(url: Column) -> Column:
    """The canonicalization rules of the module docstring as a single
    column expression (composable inside any projection)."""
    scheme = _scheme(url)
    host = _host(url)
    port = _port(url)
    default = (scheme == "http") & (port == 80) | (scheme == "https") & (port == 443)
    port_part = F.when(
        port.isNotNull() & ~default, F.concat(F.lit(":"), port.cast("string"))
    ).otherwise(F.lit(""))
    params = F.filter(
        F.split(_query(url), "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    q = F.array_join(F.array_sort(params), "&")
    q_part = F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit(""))
    canon = F.concat(scheme, F.lit("://"), host, port_part, _path(url), q_part)
    # non-http(s) (mailto:, data:, relative) passes through unchanged
    return F.when(scheme.isin("http", "https"), canon).otherwise(url)


def canonicalize_urls(
    df: DataFrame, url_col: str = "url", out: str = "canonical_url"
) -> DataFrame:
    """Canonical form for dedup keys / exact-dup grouping."""
    return df.withColumn(out, canonical_url_col(F.col(url_col)))


def registrable_domain_col(host: Column) -> Column:
    """Heuristic registrable domain of a HOST column: last two labels,
    or last three when the last two form a known multi-part suffix.
    Bare/short hosts (localhost, IPv4 is left as-is) pass through."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    last3 = F.concat_ws(
        ".", F.element_at(labels, -3), F.element_at(labels, -2), F.element_at(labels, -1)
    )
    is_ip = host.rlike(r"^\d+\.\d+\.\d+\.\d+$")
    return (
        F.when(is_ip | (n <= 2), host)
        .when(last2.isin(*MULTIPART_SUFFIXES) & (n >= 3), last3)
        .otherwise(last2)
    )


def with_registrable_domain(
    df: DataFrame, url_col: str = "url", out: str = "domain", from_host: bool = False
) -> DataFrame:
    """Registrable-domain column from a URL (or directly from a host
    column with ``from_host=True``)."""
    host = F.col(url_col) if from_host else _host(F.col(url_col))
    return df.withColumn(out, registrable_domain_col(host))


def write_urls_fixture(path: str, n: int = 400) -> str:
    """Deterministic messy-URL fixture for the driver gate: tracking
    params, unsorted params, fragments, default and explicit ports,
    userinfo, upper-case schemes/hosts, multi-part suffixes, IPs and
    non-http schemes — every rule has rows that exercise it. Index
    arithmetic only; byte-stable."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    hosts = [
        "Example.com", "news.example.co.uk", "shop.example.co.uk",
        "a.b.site.com.au", "www.mirror.org", "sub.deep.nested.io",
        "192.168.10.20", "single-label",
    ]
    urls = []
    for i in range(n):
        h = hosts[i % len(hosts)]
        scheme = ("http", "https", "HTTPS", "ftp")[i % 4]
        port = ("", ":80", ":443", ":8080")[(i // 4) % 4]
        user = "user:pw@" if i % 7 == 0 else ""
        upath = ("", "/", f"/p/{i % 13}", "/a/b.html")[(i // 2) % 4]
        qparts = []
        if i % 3 == 0:
            qparts.append(f"utm_source=feed{i % 5}")
        if i % 3 != 2:
            qparts.append(f"id={i % 17}")
        if i % 5 == 0:
            qparts.append("b=2")
            qparts.append("a=1")
        if i % 11 == 0:
            qparts.append("gclid=xyz")
        q = "&".join(qparts)
        frag = f"#sec{i % 3}" if i % 2 else ""
        urls.append(f"{scheme}://{user}{h}{port}{upath}" + (f"?{q}" if q else "") + frag)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(
        pa.table({"url_id": list(range(n)), "raw_url": urls}), tmp
    )
    os.replace(tmp, path)
    return path


def latest_fetch_per_url(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    canonicalize: bool = True,
    tie_break: str | None = None,
) -> DataFrame:
    """Crawl-recency dedup: keep the LATEST fetch of each (canonical)
    URL — the Common-Crawl-index convention for collapsing refetches
    across crawls. With ``canonicalize`` the key is
    :func:`canonical_url_col` (tracking params / fragments / default
    ports collapse first), so the whole refetch FAMILY keeps one row.

    Spark shape: one window rank over the canonical key (ONE exchange,
    keyed by canonical url; rows carry their payload exactly once —
    versus a groupBy-max + self-join, which would shuffle twice).
    ``tie_break`` (a column name, e.g. the record offset) makes equal
    timestamps deterministic; defaults to the raw url string.
    """
    from pyspark.sql import Window

    key = canonical_url_col(F.col(url_col)) if canonicalize else F.col(url_col)
    tb = F.col(tie_break) if tie_break else F.col(url_col)
    w = Window.partitionBy(F.col("__canon")).orderBy(
        F.col(ts_col).desc(), tb.desc()
    )
    return (
        df.withColumn("__canon", key)
        .withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") == 1)
        .drop("__canon", "__rank")
    )
