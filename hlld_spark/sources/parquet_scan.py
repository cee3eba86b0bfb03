"""Worker-side parquet scanning as a reusable primitive.

The engine's signature scale path: the driver plans file / row-group
splits and the output schema from parquet metadata alone — no Spark job
runs while the plan is built — and each Spark python task reads its
splits directly with pyarrow — column-pruned, filters pushed into the
reader — then streams the Arrow batches through a caller-supplied
transform. Row data NEVER crosses the JVM↔Python Arrow IPC channel, which
on this class of deployment saturates at a fixed total rate regardless
of cores (measured ~5.4M rows/s here; BENCH/BASELINE.md). On a real
cluster this is the Spark 4 Python Data Source / pyiceberg plan_files
pattern: object store → worker, scan next to the compute.

``map_parquet_batches(spark, files, fn, schema, columns)`` is the
generic form and ``parquet_schema(files, columns)`` gives the Spark types
of the columns it reads. Both take a table path (listed once with
:func:`list_parquet_files`) or the file list itself. Sketch builds are
their main client: ``build_sketches_parquet`` reads a path this way, and
``build_sketches`` takes the same worker-side read whenever its pruned
input is a bare parquet file scan (:func:`bare_parquet_files`); any
Arrow-batch operator (language ID, tokenization, fingerprinting) can
ride the same splits.
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


def _as_files(files: str | list[str]) -> list[str]:
    return list_parquet_files(files) if isinstance(files, str) else files


def parquet_schema(files: str | list[str], columns: list[str]) -> StructType:
    """The Spark ``StructType`` of ``columns`` as ``spark.read.parquet``
    would type them, read with pyarrow from the first file's footer: no
    Spark job runs. ``files`` is a table path or its file list.

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

    first = _as_files(files)[0]
    pf = pq.ParquetFile(first)
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
        raise ValueError(f"parquet columns with no Spark type in {first!r}: {', '.join(bad)}")
    return StructType(fields)


#: Spark types whose Arrow form the worker-side read hands the kernel
#: unchanged; dates, timestamps and decimals depend on rebase modes and
#: precision rules a pyarrow read does not apply
_BARE_TYPES = ("string", "binary", "boolean", "byte", "short", "integer", "long", "float", "double")
_LOGICAL_RELATION = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_HADOOP_FS_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
_PARQUET_FORMAT = "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat"
#: read options (session conf as the default) under which a Spark read
#: differs from a plain pyarrow read of the same files
_READ_FLAGS = (
    ("mergeSchema", "spark.sql.parquet.mergeSchema"),
    ("ignoreCorruptFiles", "spark.sql.files.ignoreCorruptFiles"),
    ("ignoreMissingFiles", "spark.sql.files.ignoreMissingFiles"),
)


def bare_parquet_files(df: DataFrame) -> list[str] | None:
    """The local files of ``df`` when it is a bare parquet file scan, else
    None. Decided from the optimized logical plan: no Spark job runs.

    Bare means: the plan is plain column references over one non-streaming
    ``LogicalRelation`` of a ``HadoopFsRelation`` in ``ParquetFileFormat``,
    with no partition columns, no bucketing, and none of ``mergeSchema``,
    ``ignoreCorruptFiles`` or ``ignoreMissingFiles`` on (as a read option
    or in the session conf); no parquet field-id matching; every file URI
    is ``file:``; and every column's Spark type is one of
    ``_BARE_TYPES``, equals :func:`parquet_schema`'s type from the first
    file's footer, and is read by pyarrow as the Arrow type Spark would
    send to Python. A worker-side read of the returned files then gives
    the rows the JVM scan would give. The list is Spark's own file listing
    (``df.inputFiles()``) with empty files dropped, as Spark's scan drops
    them."""
    import os
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    if df.isStreaming:  # a streaming plan cannot be optimized as a batch one
        return None
    spark = df.sparkSession
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "Project":
        exprs = plan.projectList().iterator()
        while exprs.hasNext():
            if exprs.next().getClass().getSimpleName() != "AttributeReference":
                return None
        plan = plan.child()
    if plan.getClass().getName() != _LOGICAL_RELATION:
        return None
    rel = plan.relation()
    if rel.getClass().getName() != _HADOOP_FS_RELATION or rel.fileFormat().getClass().getName() != _PARQUET_FORMAT:
        return None
    if not rel.partitionSchema().isEmpty() or rel.bucketSpec().isDefined():
        return None
    options = rel.options()
    for option, conf in _READ_FLAGS:
        value = options.get(option)
        if (value.get() if value.isDefined() else spark.conf.get(conf)).lower() == "true":
            return None
    if spark.conf.get("spark.sql.parquet.fieldId.read.enabled").lower() == "true":
        return None
    uris = [urlparse(u) for u in df.inputFiles()]
    if not uris or any(u.scheme != "file" for u in uris):
        return None
    files = sorted(f for f in (unquote(u.path) for u in uris) if os.path.getsize(f) > 0)
    schema = df.schema
    if not files or any(f.dataType.typeName() not in _BARE_TYPES for f in schema):
        return None
    try:
        footer = parquet_schema(files, schema.names)
    except ValueError:
        return None
    arrow = pq.read_schema(files[0])
    large = spark.conf.get("spark.sql.execution.arrow.useLargeVarTypes").lower() == "true"
    for f, ff in zip(schema, footer):
        if f.dataType != ff.dataType or arrow.field(f.name).type != to_arrow_type(f.dataType, prefers_large_types=large):
            return None
    return files


def plan_parquet_splits(spark: SparkSession, files: str | list[str], waves: int = 2) -> tuple[list[tuple[str, int, int]], int]:
    """(splits, n_tasks) over ``files`` (a table path or its file list):
    file-level splits normally; row-group-range splits when there are
    fewer files than task slots (one giant file still parallelizes). A
    split is (file, rg_lo, rg_hi) with lo=-1 meaning the whole file.

    ``waves``: at every file count the task count is
    ``min(len(splits), waves·parallelism)``. 2 (default) leaves a second
    wave, so a core whose task ends early takes another while a slow one
    finishes. 1 is one task per core: every Python task paid a fixed cost
    (mostly the zip-directory re-read ``hlld_spark/__init__.py`` now
    skips), so the uniform, scan-dominated sketch build measured faster
    with half the tasks (r7 A/B in OPTIMIZATION_r07.md), but with no
    second wave a straggler (a slow core, a larger file) sets the makespan."""
    files = _as_files(files)
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


def _split_scanner(fp: str, lo: int, hi: int, schema, filter=None, case_sensitive: bool = False):
    """One split's pyarrow scanner over the columns of ``schema`` (an Arrow
    schema), resolved as Spark's parquet reader resolves them: by name
    (ignoring case unless ``case_sensitive``; more than one match raises),
    cast to the schema's type, and all NULL where the file lacks the
    column. ``filter`` (a read_table-style tuple list or a
    pyarrow.dataset Expression) prunes row groups and rows in the reader."""
    import pyarrow as pa
    import pyarrow.dataset as pds
    import pyarrow.parquet as pq

    frag = next(iter(pds.dataset(fp, format="parquet").get_fragments()))
    if lo >= 0:
        frag = frag.subset(row_group_ids=list(range(lo, hi)))
    names = frag.physical_schema.names
    columns = {}
    for f in schema:
        src = [n for n in names if n == f.name or (not case_sensitive and n.lower() == f.name.lower())]
        if len(src) > 1:
            raise ValueError(f"column {f.name!r} matches {src} in {fp!r}")
        columns[f.name] = pds.field(src[0]).cast(f.type) if src else pds.scalar(pa.scalar(None, f.type))
    expr = None if filter is None else pq.filters_to_expression(filter)
    return frag.scanner(columns=columns, filter=expr, batch_size=_BATCH_ROWS, use_threads=False)


def _read_schema(files: list[str], columns: list[str]):
    """The Arrow schema of ``columns`` in the first file, which every
    split's read is cast to; a column missing there raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    first = pq.read_schema(files[0])
    missing = [c for c in columns if c not in first.names]
    if missing:
        raise ValueError(f"parquet columns {missing} missing in {files[0]!r}")
    return pa.schema([first.field(c) for c in dict.fromkeys(columns)])


def read_split_table(fp: str, lo: int, hi: int, columns: list[str], filter=None):
    """One split → pyarrow Table of ``columns`` as typed in ``fp``,
    column-pruned + filter-pushed; ``filter`` may be a read_table-style
    tuple list or a pyarrow.dataset Expression."""
    return _split_scanner(fp, lo, hi, _read_schema([fp], columns), filter).to_table()


def map_parquet_batches(
    spark: SparkSession,
    files: str | list[str],
    fn,
    schema,
    columns: list[str],
    filter=None,
    waves: int = 2,
) -> DataFrame:
    """Apply ``fn(Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]``
    to worker-side parquet reads of ``columns`` from ``files`` (a table
    path or its file list) and return a DataFrame with ``schema``. ``fn``
    sees one continuous batch stream per task (all of the task's splits),
    so per-task state (partial aggregates, summaries) amortizes across
    splits. Every batch has the first file's Arrow types; a later file
    that lacks a column reads it as NULLs, as ``spark.read.parquet`` does.
    ``waves``: see :func:`plan_parquet_splits`."""
    files = _as_files(files)
    read_schema = _read_schema(files, columns)
    case_sensitive = spark.conf.get("spark.sql.caseSensitive").lower() == "true"
    splits, n_tasks = plan_parquet_splits(spark, files, waves)
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
                        yield from _split_scanner(fp, lo, hi, read_schema, ffilter, case_sensitive).to_batches()

        yield from fn(gen())

    ids_df = spark.range(0, n_tasks, 1, n_tasks)
    return ids_df.mapInArrow(task, schema=schema)
