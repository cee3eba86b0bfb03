"""Wall time and output identity of the three LSH dedup operators.

Run: python3 scripts/lsh_bench.py [--docs 20000] [--cpus 4] [--cases all]

Generates ``--docs`` web pages (``generate_web_pages``, unique ``doc_id``
ids) plus a deterministic near-duplicate vector column, writes them to a
temporary parquet directory, and times ``collect()`` of each case over
the read-back table. Each case prints one JSON line: the wall time, the
output row count and the SHA-256 of the sorted output rows (floats as
their shortest round-trip ``repr``), so two source trees compare on speed
and on bit-identical output.

Cases (``--cases`` takes a comma-separated list of names, or ``all``):

* ``minhash_char_k5_cap256`` / ``_cap8`` and ``minhash_token_k4_cap256``
  / ``_cap8``: ``minhash_match_pairs`` pairs;
* ``simhash_cap512`` / ``simhash_cap4``: ``simhash_dedup`` labels;
* ``cosine_cap256``: ``embedding_cosine_dedup`` labels.

The default is one case per operator at its default cap.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_CASES = "minhash_char_k5_cap256,simhash_cap512,cosine_cap256"
VEC_DIM = 32


def _cases():
    from hlld_spark.operators.dedup import embedding_cosine_dedup, minhash_match_pairs, simhash_dedup

    def minhash(unit, k, cap):
        return lambda df: minhash_match_pairs(
            df, "doc_id", "text", shingle_k=k, shingle_unit=unit, max_bucket_pairwise=cap
        )

    return {
        "minhash_char_k5_cap256": minhash("char", 5, 256),
        "minhash_char_k5_cap8": minhash("char", 5, 8),
        "minhash_token_k4_cap256": minhash("token", 4, 256),
        "minhash_token_k4_cap8": minhash("token", 4, 8),
        "simhash_cap512": lambda df: simhash_dedup(df, "doc_id", "text", max_bucket_pairwise=512),
        "simhash_cap4": lambda df: simhash_dedup(df, "doc_id", "text", max_bucket_pairwise=4),
        "cosine_cap256": lambda df: embedding_cosine_dedup(df, "doc_id", "vec", max_bucket_pairwise=256),
    }


def _corpus(spark, n_docs: int):
    """(doc_id, text, vec) with unique ids. Each page's text gets one of
    13 tail tokens, so pages that share a text become near-duplicates
    whose Jaccard is not always 1. Docs in groups of three share a base
    vector and differ by a small per-doc offset, so their cosine is near
    1."""
    from pyspark.sql import functions as F

    from hlld_spark.sources.webpages import generate_web_pages

    pages = generate_web_pages(spark, n_docs).select("text").withColumn("doc_id", F.monotonically_increasing_id())
    pages = pages.withColumn("text", F.concat("text", F.lit(" tail"), (F.col("doc_id") % 13).cast("string")))
    group = F.floor(F.col("doc_id") / 3)
    vec = F.array(
        *(
            (F.hash(group, F.lit(j)) % 1000) / F.lit(1000.0) + (F.hash(F.col("doc_id"), F.lit(j)) % 1000) / F.lit(1e5)
            for j in range(VEC_DIM)
        )
    )
    return pages.select("doc_id", "text", vec.alias("vec"))


def _digest(rows) -> str:
    lines = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--docs", type=int, default=20000)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--cases", default=DEFAULT_CASES)
    args = ap.parse_args()

    from hlld_spark.session import get_spark

    cases = _cases()
    names = list(cases) if args.cases == "all" else args.cases.split(",")
    unknown = [n for n in names if n not in cases]
    if unknown:
        raise SystemExit(f"unknown cases {unknown}; known: {sorted(cases)}")
    spark = get_spark(app_name="lsh-bench", cpus=args.cpus, extra_conf={"spark.driver.memory": "4g"})
    data_dir = tempfile.mkdtemp(prefix="lsh_bench_")
    try:
        path = os.path.join(data_dir, "docs")
        _corpus(spark, args.docs).write.parquet(path)
        df = spark.read.parquet(path)
        for name in names:
            t0 = time.perf_counter()
            rows = cases[name](df).collect()
            wall = time.perf_counter() - t0
            record = {"case": name, "docs": args.docs, "wall_s": round(wall, 3), "rows": len(rows)}
            print(json.dumps({**record, "sha256": _digest(rows)}), flush=True)
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
