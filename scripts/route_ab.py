"""A/B of the worker-side read against the JVM scan for one frame.

Run: python3 scripts/route_ab.py [--rows 1000000] [--files 16] [--repeats 9] [--cpus 4] [--path DIR]

Times ``build_sketches`` and ``rollup_sketches`` of HLL(url) at p=12 by
(lang, day) over ``spark.read.parquet(path).withColumn("day",
to_date("warc_ts"))``, the shape of perfbench's ``frame_build`` rollup,
on two sides:

* ``routed``: the build as ``build_sketches`` plans it, a worker-side read
  of the parquet files (``sources/parquet_scan.map_batches``);
* ``jvm``: the same call with ``sources/parquet_scan.bare_parquet_scan``
  stubbed to None while the plan is built, so the rows stream from the
  JVM scan through ``mapInArrow``, as for any input that does not route.

The corpus is ``--rows`` web pages (``generate_web_pages``) written as
``--files`` parquet files with (url, lang, warc_ts), or the table at
``--path``. Each side of each case runs once untimed, then ``--repeats``
times, the two sides interleaved and their order alternated per repeat.
Each case prints one JSON line per side: the median and the quartile
distance (IQR) of the ``collect()`` wall times, every wall time, the
output row count and the SHA-256 of the sorted output rows, so the two
sides compare on speed and on byte-identical output.
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
from unittest import mock

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

KEYS = ["lang", "day"]


def _digest(rows) -> str:
    lines = sorted(repr(tuple(bytes(v) if isinstance(v, (bytearray, memoryview)) else v for v in r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _plan(side: str, build):
    """``build()``'s DataFrame, planned as ``side`` plans it."""
    if side == "routed":
        return build()
    with mock.patch("hlld_spark.sources.parquet_scan.bare_parquet_scan", lambda _df: None):
        return build()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--files", type=int, default=16)
    ap.add_argument("--repeats", type=int, default=9)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--path", help="an existing parquet table with url, lang and warc_ts columns")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from hlld_spark.core.accumulator import HllSpec
    from hlld_spark.operators.sketch import build_sketches, rollup_sketches
    from hlld_spark.session import get_spark
    from hlld_spark.sources.webpages import generate_web_pages

    spark = get_spark(app_name="route-ab", cpus=args.cpus, extra_conf={"spark.driver.memory": "4g"})
    data_dir = tempfile.mkdtemp(prefix="route_ab_")
    try:
        path = args.path
        if path is None:
            path = os.path.join(data_dir, "web")
            pages = generate_web_pages(spark, args.rows, seed=1, partitions=args.files)
            pages.select("url", "lang", "warc_ts").write.parquet(path)
        frame = spark.read.parquet(path).withColumn("day", F.to_date("warc_ts"))
        cases = {
            "build_sketches": lambda: build_sketches(frame, KEYS, "url", HllSpec(12)),
            "rollup_sketches": lambda: rollup_sketches(frame, KEYS, "url", HllSpec(12)),
        }
        for name, build in cases.items():
            walls: dict[str, list[float]] = {"routed": [], "jvm": []}
            digests, n_rows = {}, {}
            for side in walls:  # untimed first run: codegen, worker warm-up
                rows = _plan(side, build).collect()
                digests[side], n_rows[side] = _digest(rows), len(rows)
            for r in range(args.repeats):
                for side in ("routed", "jvm") if r % 2 == 0 else ("jvm", "routed"):
                    df = _plan(side, build)
                    t0 = time.perf_counter()
                    df.collect()
                    walls[side].append(time.perf_counter() - t0)
            for side, w in walls.items():
                q25, q50, q75 = np.percentile(w, [25, 50, 75])
                record = {
                    "case": name,
                    "side": side,
                    "median_s": round(float(q50), 3),
                    "iqr_s": round(float(q75 - q25), 3),
                    "walls_s": [round(x, 3) for x in w],
                    "rows": n_rows[side],
                    "sha256": digests[side],
                    "identical": digests[side] == digests["routed"],
                }
                print(json.dumps(record), flush=True)
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
