"""SparkSession builder with the engine's standard tuning.

Local-mode defaults sized for the sandbox (local[32], 128 GiB); on a real
cluster the same settings apply minus master/driver-memory, which
spark-submit owns. AQE stays on so skewed shuffles re-plan at runtime.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> str:
    """Zip hlld_spark and addPyFile it so executors can import the
    package — the programmatic twin of ``spark-submit --py-files``.

    No-op when a hlld_spark.zip is already registered (the spark-submit
    --py-files case): Spark rejects re-adding the same filename with
    different bytes, and the submitted zip already serves the purpose.
    """
    existing = []
    try:
        existing += list(getattr(spark.sparkContext, "_python_includes", None) or [])
    except Exception:
        pass
    try:
        existing += [str(f) for f in spark.sparkContext._jsc.sc().listFiles()]
    except Exception:
        pass
    if any(str(f).endswith("hlld_spark.zip") for f in existing):
        return "already-shipped"
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zdir = tempfile.mkdtemp(prefix="hlld_spark_py")
    # the driver imports from Spark's own copy of the zip, so ours is
    # only needed while this interpreter serves it to executors
    atexit.register(shutil.rmtree, zdir, ignore_errors=True)
    zpath = os.path.join(zdir, "hlld_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith((".py", ".npz")):
                    full = os.path.join(root, f)
                    rel = os.path.join("hlld_spark", os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    return zpath


def get_spark(
    app_name: str = "hlld-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("HLLD_SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.locality.wait", "0s")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
