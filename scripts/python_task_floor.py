"""The fixed cost of a Python task wave, measured on a local[N] session.

Run: python3 scripts/python_task_floor.py [--cpus 4] [--jobs 20]

Prints, then one JSON line:

* the median wall time of a trivial N-task ``mapInArrow`` job, first on
  workers that never imported ``hlld_spark``, then after every worker
  has imported it;
* the median wall time of a JVM-only N-task job;
* the median worker-side time of one ``importlib.invalidate_caches()``
  (the call ``pyspark.worker_util.setup_spark_files`` makes before every
  task), measured in each task before and after ``import hlld_spark``.

The gap between the first and the JVM-only job is the per-wave Python
floor; the invalidate time shows how much of it is the zip-directory
re-read that ``hlld_spark/__init__.py`` guards on Python < 3.12.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _identity(batches):
    yield from batches


def _invalidate_times(batches):
    """Per task: one invalidate_caches() before and one after importing
    hlld_spark. The first call after the import records each archive's
    signature (one re-read), so the timed call is the one after it."""
    import importlib
    import sys
    import time

    import pyarrow as pa

    def timed():
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        return time.perf_counter() - t0

    fresh = "hlld_spark" not in sys.modules
    before = timed()
    import hlld_spark  # noqa: F401

    timed()
    after = timed()
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict(
        {"fresh": [fresh], "before_s": [before], "after_s": [after]}
    )


def _median_wall(action, jobs: int) -> float:
    times = []
    for _ in range(jobs):
        t0 = time.perf_counter()
        action()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--jobs", type=int, default=20, help="timed jobs per median")
    args = ap.parse_args()
    n = args.cpus

    sys.path.insert(0, REPO)
    from pyspark.sql import SparkSession

    from hlld_spark.session import ship_package

    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("python-task-floor")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    df = spark.range(0, n, 1, n)

    def python_job():
        df.mapInArrow(_identity, "id long").collect()

    def jvm_job():
        df.selectExpr("id + 1 AS id").collect()

    for _ in range(3):  # start the workers and compile both plans
        python_job()
        jvm_job()
    python_plain = _median_wall(python_job, args.jobs)
    jvm = _median_wall(jvm_job, args.jobs)

    rows = df.mapInArrow(_invalidate_times, "fresh boolean, before_s double, after_s double").collect()
    fresh = [r for r in rows if r["fresh"]]
    before = statistics.median(r["before_s"] for r in fresh) if fresh else float("nan")
    after = statistics.median(r["after_s"] for r in fresh) if fresh else float("nan")

    for _ in range(3):  # every idle worker has now imported hlld_spark
        df.mapInArrow(_invalidate_times, "fresh boolean, before_s double, after_s double").collect()
        python_job()
    python_imported = _median_wall(python_job, args.jobs)
    spark.stop()

    out = {
        "cpus": n,
        "jobs": args.jobs,
        "python_job_s_p50": round(python_plain, 4),
        "python_job_after_import_s_p50": round(python_imported, 4),
        "jvm_job_s_p50": round(jvm, 4),
        "worker_invalidate_caches_s_before_import": round(before, 5),
        "worker_invalidate_caches_s_after_import": round(after, 5),
        "tasks_measured": len(fresh),
    }
    print(f"trivial {n}-task mapInArrow job, median of {args.jobs}:  {python_plain:.3f} s")
    print(f"  same, after every worker imported hlld_spark: {python_imported:.3f} s")
    print(f"JVM-only {n}-task job, median of {args.jobs}:            {jvm:.3f} s")
    print(
        f"worker importlib.invalidate_caches(), median of {len(fresh)} tasks: "
        f"{before * 1e3:.2f} ms before import hlld_spark, {after * 1e3:.2f} ms after"
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
