"""Round-7 optimization sidecar bench (guide §1.4): NOT the frozen
driver bench. Builds the same 18 query DataFrames as bench.py, then
either

  --plans DIR   write .explain("formatted") for every query to DIR
  --time        time each query with the same action bench.py uses
                (collect/count on aggregates — the real shapes are all
                aggregate-to-few-rows, so the sink cost is nil; queries
                that RETURN rows are forced with the noop sink instead)
  --only q12,…  restrict to a comma-separated subset

Timing methodology matches bench.py (best-of-N wall clock, same session
settings via get_spark) so numbers are comparable, but this file is free
to evolve; bench.py stays frozen for the driver.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
WEB_ROWS = int(os.environ.get("BENCH_WEB_ROWS", "4000000"))


def write_fixtures(spark, web_dir: str, hosts_dir: str, paras_dir: str) -> None:
    """Write each web, hosts and paragraph parquet fixture that has no
    ``_SUCCESS`` marker, with the same generation bench.py uses, so the
    queries here run on a machine where bench.py never ran."""
    from pyspark.sql import functions as F

    from hlld_spark.sources.webpages import generate_web_pages

    if not os.path.exists(os.path.join(web_dir, "_SUCCESS")):
        generate_web_pages(spark, WEB_ROWS, partitions=2 * CPUS).write.mode("overwrite").parquet(web_dir)
    web = spark.read.parquet(web_dir)
    if not os.path.exists(os.path.join(hosts_dir, "_SUCCESS")):
        web.select(F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host")).write.mode(
            "overwrite"
        ).parquet(hosts_dir)
    if not os.path.exists(os.path.join(paras_dir, "_SUCCESS")):
        web.filter(F.pmod(F.xxhash64("url"), F.lit(max(WEB_ROWS // 500000, 1))) == 0).select(
            "url",
            F.regexp_replace("text", r"((?:\S+\s+){8})", "$1\n").alias("text"),
        ).write.mode("overwrite").parquet(paras_dir)


def build_queries(spark):
    """name -> (make_df_fn, action) mirroring bench.py's 18 queries.
    action 'collect'/'count' mirrors bench.py exactly; 'noop' forces
    full materialization for row-returning shapes."""
    from pyspark.sql import functions as F

    from hlld_spark.core.accumulator import HllSpec
    from hlld_spark.core.tdigest import TDigestSpec
    from hlld_spark.operators.decontaminate import decontaminate_parquet
    from hlld_spark.operators.dedup import (
        dedup_exact_keys,
        dedup_paragraphs,
        ngram_jaccard_pairs,
    )
    from hlld_spark.operators.encoding import with_encoding_repair
    from hlld_spark.operators.frequent import heavy_hitters
    from hlld_spark.operators.lang_profiles import lang_id_profiles_parquet
    from hlld_spark.operators.normalize import with_unicode_normalization
    from hlld_spark.operators.pack import pack_sequences
    from hlld_spark.operators.pii import redact_pii
    from hlld_spark.operators.sketch import (
        build_sketches,
        build_sketches_parquet,
        distinct_count,
        with_estimate,
    )
    from hlld_spark.operators.text import with_lang_id

    web_dir = os.path.join(tempfile.gettempdir(), f"hlld_bench_web_{WEB_ROWS}")
    hosts_dir = os.path.join(tempfile.gettempdir(), f"hlld_bench_hosts_{WEB_ROWS}")
    paras_dir = os.path.join(tempfile.gettempdir(), f"hlld_bench_paras_{WEB_ROWS}")
    write_fixtures(spark, web_dir, hosts_dir, paras_dir)
    web = spark.read.parquet(web_dir)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    hosts = spark.read.parquet(hosts_dir)
    paras = spark.read.parquet(paras_dir)
    sample = web.select("text").filter(F.pmod(F.xxhash64("text"), F.lit(4)) == 0)
    ev = web.filter(F.pmod(F.xxhash64("url"), F.lit(2048)) == 0).select("text")
    vp = web.select(
        F.col("text").alias("ta"),
        F.concat(F.col("text"), F.lit(" trailing variant tokens")).alias("tb"),
    ).filter(F.pmod(F.xxhash64("ta"), F.lit(max(WEB_ROWS // 200000, 1))) == 0)
    pw = web.select(F.xxhash64("url").alias("doc_id"), "text")

    def _fixers(d):
        return with_unicode_normalization(
            with_encoding_repair(d, "text", out_col="t2"), "t2", "NFC", "t3"
        )

    return {
        "q0_hll_parquet_direct": (
            lambda: build_sketches_parquet(spark, web_dir, ["lang"], "url", HllSpec(12)),
            "collect",
        ),
        "q1_hll_urls_by_lang": (
            lambda: distinct_count(web, ["lang"], "url", HllSpec(12)),
            "collect",
        ),
        "q2_hll_urls_by_lang_day": (
            lambda: build_sketches(
                web.withColumn("day", F.to_date("warc_ts")), ["lang", "day"], "url", HllSpec(12)
            ),
            "collect",
        ),
        "q3_hll_global_orderkey": (
            lambda: with_estimate(build_sketches(li, [], "l_orderkey", HllSpec(14))),
            "collect",
        ),
        "q4_exact_distinct_urls_by_lang": (
            lambda: web.groupBy("lang").agg(F.countDistinct("url")),
            "collect",
        ),
        "q5_pricing_summary": (
            lambda: li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity"), F.sum("l_extendedprice"), F.count("*")),
            "collect",
        ),
        "q6_dedup_exact_urls": (
            lambda: dedup_exact_keys(web, "url", ["text"]),
            "count",
        ),
        "q7_tdigest_prices": (
            lambda: with_estimate(build_sketches(li, ["l_returnflag"], "l_extendedprice", TDigestSpec())),
            "collect",
        ),
        "q8_lang_id_web": (
            lambda: with_lang_id(sample, "text")
            .groupBy("lang_id")
            .agg(F.count("*").alias("n"))
            .agg(F.sum("n")),
            "collect",
        ),
        "q9_heavy_hitters_hosts": (
            lambda: heavy_hitters(hosts, "host", phi=0.001),
            "collect",
        ),
        "q10_jaccard_verify_pairs": (
            lambda: ngram_jaccard_pairs(vp, "ta", "tb", n=5).agg(F.sum("jaccard")),
            "collect",
        ),
        "q11_lang_profiles_parquet": (
            lambda: lang_id_profiles_parquet(spark, web_dir, "text")
            .groupBy("lang_id")
            .agg(F.count("*").alias("n"))
            .agg(F.sum("n")),
            "collect",
        ),
        "q12_decontaminate_web": (
            lambda: decontaminate_parquet(spark, web_dir, ev, "url", "text", n=13, unit="char"),
            "count",
        ),
        "q13_decontaminate_web_tokens": (
            lambda: decontaminate_parquet(spark, web_dir, ev, "url", "text", n=13),
            "count",
        ),
        "q14_pii_redact_web": (
            lambda: redact_pii(web.select("text"), "text").agg(F.sum(F.length("text"))),
            "collect",
        ),
        "q15_pack_offsets_web": (
            lambda: pack_sequences(pw, "doc_id", 2048, text_col="text", bucket_span=1 << 48).agg(
                F.max("last_chunk"), F.sum("n_tokens")
            ),
            "collect",
        ),
        "q16_paragraph_dedup_web": (
            lambda: dedup_paragraphs(paras, "url", "text").agg(F.sum(F.length("text"))),
            "collect",
        ),
        "q17_encoding_nfc_web": (
            lambda: _fixers(web.select("text")).agg(F.sum(F.length("t3"))),
            "collect",
        ),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", default=None, help="dir to write explain(formatted) files")
    ap.add_argument("--suffix", default="", help="filename suffix for plan files, e.g. _before")
    ap.add_argument("--time", action="store_true")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    from hlld_spark.session import get_spark

    spark = get_spark(app_name="hlld-spark-bench-extra", cpus=CPUS)
    qs = build_queries(spark)
    if args.only:
        keep = {x if x in qs else next(k for k in qs if k.startswith(x)) for x in args.only.split(",")}
        qs = {k: v for k, v in qs.items() if k in keep}

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for name, (make, _action) in qs.items():
            df = make()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out = os.path.join(args.plans, f"{name}{args.suffix}.txt")
            with open(out, "w") as f:
                f.write(plan)
            print(f"wrote {out}")

    if args.time:
        timings = {}
        all_times = {}
        for name, (make, action) in qs.items():
            spark.sparkContext.setJobDescription(name)
            times = []
            for _ in range(args.repeats):
                t0 = time.time()
                df = make()
                if action == "count":
                    df.count()
                elif action == "noop":
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.collect()
                times.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            timings[name] = min(times)
            all_times[name] = times
            print(f"{name:34s} best {min(times):7.3f}  all {times}")
        print(json.dumps({"total_best": round(sum(timings.values()), 3), "queries": timings,
                          "samples": all_times, "loadavg": open('/proc/loadavg').read().split()[:3]}))
    spark.stop()


if __name__ == "__main__":
    main()
