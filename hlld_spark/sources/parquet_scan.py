"""Worker-side parquet scanning as a reusable primitive.

The engine's signature scale path (proven by `build_sketches_parquet`,
operators/sketch.py): the driver plans file / row-group splits and the
output schema from parquet metadata alone — no Spark job runs while the
plan is built — and each Spark python task reads its splits directly
with pyarrow — column-pruned, filters pushed into the reader — then
streams the Arrow batches through a caller-supplied transform. Row data
NEVER crosses the JVM↔Python Arrow IPC channel, which on this class of
deployment saturates at a fixed total rate regardless of cores
(measured ~5.4M rows/s here; BENCH/BASELINE.md). On a real cluster this
is the Spark 4 Python Data Source / pyiceberg plan_files pattern:
object store → worker, scan next to the compute.

``map_parquet_batches(spark, path, fn, schema, columns)`` is the
generic form and ``parquet_schema(path, columns)`` gives the Spark types
of the columns it reads; `build_sketches_parquet` is their oldest
client, and any Arrow-batch operator (language ID, tokenization,
fingerprinting) can ride the same splits.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
#: rows per Arrow batch handed to ``map_parquet_batches``' transform; q11
#: measured no difference between 2k and 32k (DEVNOTES r5)
_BATCH_ROWS = 32768


def list_parquet_files(path: str) -> list[str]:
    """Plan the file splits for a parquet table path or glob.

    Uses pyarrow.dataset discovery (works for local paths AND object
    stores like s3://, and skips `_SUCCESS`-style non-data files via the
    default '_'/'.' ignore prefixes); falls back to glob for patterns.
    """
    import glob as _glob
    import os as _os

    import pyarrow.dataset as _ds

    if "*" in path or "?" in path:
        files = sorted(_glob.glob(path))
    else:
        try:
            files = sorted(_ds.dataset(path, format="parquet").files)
        except Exception:
            if _os.path.isdir(path):
                files = sorted(_glob.glob(_os.path.join(path, "*.parquet")))
            else:
                files = sorted(_glob.glob(path))
    if not files:
        raise ValueError(f"no parquet files under {path!r}")
    return files


def parquet_schema(path: str, columns: list[str]) -> StructType:
    """The Spark ``StructType`` of ``columns`` as ``spark.read.parquet``
    would type them, read with pyarrow from the first file's footer: no
    Spark job runs.

    Types come from Spark's own row metadata when the file has it (Spark
    wrote it), else from the Arrow schema (``from_arrow_type``, naive
    timestamps as TIMESTAMP_NTZ, as Spark infers them). Raises
    ``ValueError`` naming every requested column that is missing or that
    neither source maps to the type the worker-side read produces:
    unsigned integers, and INT96 timestamps without Spark metadata
    (pyarrow reads those as naive nanoseconds, Spark as TIMESTAMP)."""
    import pyarrow.parquet as pq
    from pyspark.errors import PySparkTypeError
    from pyspark.sql.pandas.types import from_arrow_type

    pf = pq.ParquetFile(list_parquet_files(path)[0])
    arrow = pf.schema_arrow
    meta = pf.metadata.metadata or {}
    spark_fields = {}
    if _SPARK_ROW_METADATA in meta:
        spark_fields = {f.name: f.dataType for f in StructType.fromJson(json.loads(meta[_SPARK_ROW_METADATA]))}
    leaves = pf.schema
    int96 = {leaves.column(i).path.split(".")[0] for i in range(len(leaves)) if leaves.column(i).physical_type == "INT96"}
    fields, bad = [], []
    for c in columns:
        t = spark_fields.get(c)
        if t is None and c in arrow.names and c not in int96:
            try:
                t = from_arrow_type(arrow.field(c).type, prefer_timestamp_ntz=True)
            except PySparkTypeError:
                pass
        if t is None:
            bad.append(f"{c} ({arrow.field(c).type})" if c in arrow.names else f"{c} (missing)")
        else:
            fields.append(StructField(c, t, True))
    if bad:
        raise ValueError(f"parquet columns with no Spark type under {path!r}: {', '.join(bad)}")
    return StructType(fields)


def _pq_filter_to_expr(filters):
    """Convert read_table-style [(col, op, val), ...] filters to a
    pyarrow.dataset expression (for the row-group read path)."""
    import pyarrow.dataset as ds

    expr = None
    for col, op, val in filters:
        f = ds.field(col)
        if op in ("=", "=="):
            e = f == val
        elif op == "!=":
            e = f != val
        elif op == "<":
            e = f < val
        elif op == "<=":
            e = f <= val
        elif op == ">":
            e = f > val
        elif op == ">=":
            e = f >= val
        elif op == "in":
            e = f.isin(val)
        else:
            raise ValueError(f"unsupported filter op {op!r}")
        expr = e if expr is None else (expr & e)
    return expr


def plan_parquet_splits(spark: SparkSession, path: str, waves: int = 2) -> tuple[list[tuple[str, int, int]], int]:
    """(splits, n_tasks): file-level splits normally; row-group-range
    splits when there are fewer files than task slots (one giant file
    still parallelizes). A split is (file, rg_lo, rg_hi) with lo=-1
    meaning the whole file.

    ``waves``: at every file count the task count is
    ``min(len(splits), waves·parallelism)``. 2 (default) leaves a second
    wave, so a core whose task ends early takes another while a slow one
    finishes. 1 is one task per core: every Python task paid a fixed cost
    (mostly the zip-directory re-read ``hlld_spark/__init__.py`` now
    skips), so the uniform, scan-dominated sketch build measured faster
    with half the tasks (r7 A/B in OPTIMIZATION_r07.md), but with no
    second wave a straggler (a slow core, a larger file) sets the makespan."""
    files = list_parquet_files(path)
    par = spark.sparkContext.defaultParallelism
    splits: list[tuple[str, int, int]]
    if len(files) < par:
        import pyarrow.parquet as _pq

        splits = []
        per_file_tasks = max(1, (waves * par) // len(files))
        for f in files:
            n_rg = _pq.ParquetFile(f).metadata.num_row_groups
            step = max(1, (n_rg + per_file_tasks - 1) // per_file_tasks)
            for lo in range(0, n_rg, step):
                splits.append((f, lo, min(lo + step, n_rg)))
        n_tasks = min(len(splits), waves * par)
    else:
        splits = [(f, -1, -1) for f in files]
        # `waves` full-width task waves: balanced (uniform files)
        # without ragged-last-wave makespan loss
        n_tasks = min(len(splits), waves * par)
    return splits, n_tasks


def read_split_table(fp: str, lo: int, hi: int, columns: list[str], filter=None):
    """One split → pyarrow Table, column-pruned + filter-pushed on both
    the whole-file and row-group paths; `filter` may be a
    read_table-style tuple list or a pyarrow.dataset Expression."""
    import pyarrow.dataset as pds
    import pyarrow.parquet as pq

    if lo < 0:
        return pq.read_table(fp, columns=columns, filters=filter, use_threads=False)
    frag = next(iter(pds.dataset(fp, format="parquet").get_fragments()))
    sub = frag.subset(row_group_ids=list(range(lo, hi)))
    expr = None
    if filter is not None:
        expr = filter if isinstance(filter, pds.Expression) else _pq_filter_to_expr(filter)
    return sub.to_table(columns=columns, filter=expr, use_threads=False)


def map_parquet_batches(
    spark: SparkSession,
    path: str,
    fn,
    schema,
    columns: list[str],
    filter=None,
    waves: int = 2,
) -> DataFrame:
    """Apply ``fn(Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]``
    to worker-side parquet reads of ``columns`` and return a DataFrame
    with ``schema``. ``fn`` sees one continuous batch stream per task
    (all of the task's splits), so per-task state (partial aggregates,
    summaries) amortizes across splits. ``waves``: see
    :func:`plan_parquet_splits`."""
    splits, n_tasks = plan_parquet_splits(spark, path, waves)
    fcols = list(columns)
    ffilter = filter
    # r7: the task list rides a JVM-native Range (one task-id row per
    # partition), NOT a parallelize()d Python RDD — the latter put a
    # second Python round trip in front of EVERY task (measured +0.5 s on
    # a 64-task job, §OPTIMIZATION_r07.md).
    # The split table travels in the task closure; PySpark broadcasts a
    # pickled command over 1 MB itself, so a huge table still ships once.
    # Splits are assigned by striding (tid::n_tasks), which balances like
    # the old contiguous chunking; split order never affects results (all
    # consumers aggregate or sort).

    def task(meta_batches):
        def gen():
            for rb in meta_batches:
                for tid in rb.column(0).to_pylist():
                    for fp, lo, hi in splits[tid::n_tasks]:
                        tbl = read_split_table(fp, lo, hi, fcols, ffilter)
                        yield from tbl.to_batches(_BATCH_ROWS)

        yield from fn(gen())

    ids_df = spark.range(0, n_tasks, 1, n_tasks)
    return ids_df.mapInArrow(task, schema=schema)
