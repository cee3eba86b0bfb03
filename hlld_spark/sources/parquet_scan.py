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
:func:`list_parquet_files`) or the file list itself; the ``*_parquet``
entry points (``build_sketches_parquet``, ``decontaminate_parquet``, …)
call them directly.

``map_batches(df, fn, schema)`` is the one batch source for a per-batch
reduction over a DataFrame (sketch builds, the Misra–Gries passes of
``heavy_hitters`` and ``frequent_ngrams``, ``decontaminate``'s probe): it
reads the frame's files worker-side when :func:`bare_parquet_scan`
accepts the frame — its columns as read, or cast from a timestamp to a
date — and streams the frame's rows through ``mapInArrow`` otherwise.
Both sources hand ``fn`` the same columns with the same Arrow types.
"""

from __future__ import annotations

import json
from typing import NamedTuple

import numpy as np
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
    Empty (0-byte) files are dropped, as Spark's parquet scan drops them.
    """
    import glob as _glob
    import os as _os

    import pyarrow.dataset as _ds
    import pyarrow.fs as _fs

    fs = _fs.LocalFileSystem()
    if "*" in path or "?" in path:
        files = _glob.glob(path)
    else:
        try:
            d = _ds.dataset(path, format="parquet")
            files, fs = d.files, d.filesystem
        except Exception:
            if _os.path.isdir(path):
                files = _glob.glob(_os.path.join(path, "*.parquet"))
            else:
                files = _glob.glob(path)
    files = sorted(f for f, info in zip(files, fs.get_file_info(files)) if info.size)
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
#: source types of a derived ``cast(ts AS date)`` column
_DAY_SOURCES = ("timestamp", "timestamp_ntz")
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
#: read options (session conf as the default) that must be CORRECTED for
#: Spark to read a timestamp's stored value without a calendar rebase
_REBASE_MODES = (
    ("datetimeRebaseMode", "spark.sql.parquet.datetimeRebaseModeInRead"),
    ("int96RebaseMode", "spark.sql.parquet.int96RebaseModeInRead"),
)
#: footer keys that make Spark rebase a file's timestamps whatever the mode
_LEGACY_FOOTER_KEYS = (b"org.apache.spark.legacyINT96", b"org.apache.spark.legacyDateTime")
_SPARK_VERSION = b"org.apache.spark.version"


class BareScan(NamedTuple):
    """A parquet scan that a worker-side read reproduces: ``files``, and
    per output column, in order, ``(name, source, offset_s)``. ``source``
    is the file column read for it; ``offset_s`` is None for the column as
    read, or the fixed UTC offset in seconds at which the output is
    ``cast(source AS date)``."""

    files: list[str]
    outputs: tuple[tuple[str, str, int | None], ...]

    @property
    def sources(self) -> list[str]:
        return list(dict.fromkeys(src for _, src, _ in self.outputs))


def _days(ts, offset_s: int):
    """``cast(ts AS date)`` of a µs timestamp array at UTC+``offset_s``, as
    date32. Floor division, as Spark's ``microsToDays``: ``pc.divide``
    would truncate a pre-1970 instant toward zero, onto the next day.
    Dividing to seconds first keeps the sum inside int64. NULL stays NULL."""
    import pyarrow as pa

    us = ts.cast(pa.int64())
    days = (us.fill_null(0).to_numpy() // 1_000_000 + offset_s) // 86_400
    mask = us.is_null().to_numpy(zero_copy_only=False) if us.null_count else None
    return pa.array(days.astype(np.int32), mask=mask).cast(pa.date32())


def _project_batches(batches, outputs):
    """A :class:`BareScan`'s output columns from batches of its sources."""
    import pyarrow as pa

    names = [name for name, _, _ in outputs]
    for rb in batches:
        cols = [rb.column(rb.schema.get_field_index(src)) for _, src, _ in outputs]
        cols = [c if off is None else _days(c, off) for c, (_, _, off) in zip(cols, outputs)]
        yield pa.RecordBatch.from_arrays(cols, names=names)


def _option(spark, options, option: str, conf: str) -> str:
    """A relation's read option, or the session conf when it is unset."""
    value = options.get(option)
    return value.get() if value.isDefined() else spark.conf.get(conf)


def _scan_column(spark, expr) -> tuple[str, str, str, int | None] | None:
    """``(name, source, source type, offset_s)`` of one projected column:
    a plain column reference, or ``Alias(Cast(ts AS date))`` over a
    ``timestamp`` column in a fixed-offset zone or a ``timestamp_ntz``
    column (offset 0: its cast ignores the zone); None for anything else."""
    kind = expr.getClass().getSimpleName()
    if kind == "AttributeReference":
        return expr.name(), expr.name(), expr.dataType().typeName(), None
    if kind != "Alias" or expr.child().getClass().getSimpleName() != "Cast":
        return None
    cast = expr.child()
    src = cast.child()
    if src.getClass().getSimpleName() != "AttributeReference" or cast.dataType().typeName() != "date":
        return None
    src_type = src.dataType().typeName()
    if src_type not in _DAY_SOURCES:
        return None
    offset = 0
    if src_type == "timestamp":
        tz = cast.timeZoneId()
        if not tz.isDefined():
            return None
        jvm = spark._jvm
        # the zone as Cast resolves it (short ids, "+5:30")
        rules = jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(tz.get()).getRules()
        if not rules.isFixedOffset():
            return None
        offset = rules.getOffset(jvm.java.time.Instant.EPOCH).getTotalSeconds()
    return expr.name(), src.name(), src_type, offset


def _footers_read_corrected(files: list[str]) -> bool:
    """No footer makes Spark rebase timestamps: none has a legacy key, and
    none comes from a Spark writer before 3.1 (Spark rebases INT96 from
    those; its own check is this string compare)."""
    import pyarrow.parquet as pq

    for f in files:
        meta = pq.read_metadata(f).metadata or {}
        version = meta.get(_SPARK_VERSION)
        if any(k in meta for k in _LEGACY_FOOTER_KEYS) or (version is not None and version.decode() < "3.1.0"):
            return False
    return True


def bare_parquet_scan(df: DataFrame) -> BareScan | None:
    """The :class:`BareScan` of ``df`` when a worker-side read of its files
    gives the rows Spark's scan would give, else None. Decided from the
    optimized logical plan and the parquet footers: no Spark job runs.

    That holds when the plan is column references, and ``cast(ts AS
    date)`` of columns, over one non-streaming ``LogicalRelation`` of a
    ``HadoopFsRelation`` in ``ParquetFileFormat``, with no partition
    columns, no bucketing, and none of ``mergeSchema``,
    ``ignoreCorruptFiles`` or ``ignoreMissingFiles`` on (as a read option
    or in the session conf); no parquet field-id matching; every file URI
    is ``file:``; and every column read has the Spark type that
    :func:`parquet_schema` gives from the first file's footer. A column
    read as is must be one of ``_BARE_TYPES`` and be read by pyarrow as
    the Arrow type Spark would send to Python. A ``cast(ts AS date)``
    needs ``ts`` to be a ``timestamp`` (its cast in a fixed-offset zone)
    or ``timestamp_ntz`` stored in ms or µs (or INT96); both rebase modes
    CORRECTED; ``int96TimestampConversion`` off; and no footer that makes
    Spark rebase (:func:`_footers_read_corrected`). The file list is
    Spark's own (``df.inputFiles()``) with empty files dropped, as
    Spark's scan drops them."""
    import os
    from urllib.parse import unquote, urlparse

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if df.isStreaming:  # a streaming plan cannot be optimized as a batch one
        return None
    spark = df.sparkSession
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "Project":
        columns = []
        exprs = plan.projectList().iterator()
        while exprs.hasNext():
            column = _scan_column(spark, exprs.next())
            if column is None:
                return None
            columns.append(column)
        plan = plan.child()
    else:
        columns = [(f.name, f.name, f.dataType.typeName(), None) for f in df.schema]
    if plan.getClass().getName() != _LOGICAL_RELATION:
        return None
    rel = plan.relation()
    if rel.getClass().getName() != _HADOOP_FS_RELATION or rel.fileFormat().getClass().getName() != _PARQUET_FORMAT:
        return None
    if not rel.partitionSchema().isEmpty() or rel.bucketSpec().isDefined():
        return None
    options = rel.options()
    if any(_option(spark, options, *flag).lower() == "true" for flag in _READ_FLAGS):
        return None
    if spark.conf.get("spark.sql.parquet.fieldId.read.enabled").lower() == "true":
        return None
    outputs = tuple(dict.fromkeys((name, src, off) for name, src, _, off in columns))
    if len({name for name, _, _ in outputs}) < len(outputs):
        return None
    uris = [urlparse(u) for u in df.inputFiles()]
    if not uris or any(u.scheme != "file" for u in uris):
        return None
    files = sorted(f for f in (unquote(u.path) for u in uris) if os.path.getsize(f) > 0)
    sources = {src: src_type for _, src, src_type, _ in columns}
    if not files or any(t not in _BARE_TYPES for _, _, t, off in columns if off is None):
        return None
    try:
        footer = parquet_schema(files, list(sources))
        arrow = _read_schema(files, list(sources))
    except ValueError:
        return None
    large = spark.conf.get("spark.sql.execution.arrow.useLargeVarTypes").lower() == "true"
    for f, af in zip(footer, arrow):
        if f.dataType.typeName() != sources[f.name]:
            return None
        if sources[f.name] in _DAY_SOURCES:
            if not (pa.types.is_timestamp(af.type) and af.type.unit == "us"):
                return None
        elif af.type != to_arrow_type(f.dataType, prefers_large_types=large):
            return None
    if any(off is not None for _, _, off in outputs) and not (
        all(_option(spark, options, *mode).upper() == "CORRECTED" for mode in _REBASE_MODES)
        and spark.conf.get("spark.sql.parquet.int96TimestampConversion").lower() != "true"
        and _footers_read_corrected(files)
    ):
        return None
    return BareScan(files, outputs)


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


def parquet_filter(filter):
    """``filter`` (a read_table-style tuple list, or a pyarrow.dataset
    Expression) as an Expression, or None. A malformed filter raises here,
    on the driver, not in every task."""
    import pyarrow.parquet as pq

    return None if filter is None else pq.filters_to_expression(filter)


def _split_scanner(fp: str, lo: int, hi: int, schema, filter=None, case_sensitive: bool = False):
    """One split's pyarrow scanner over the columns of ``schema`` (an Arrow
    schema), resolved as Spark's parquet reader resolves them: by name
    (ignoring case unless ``case_sensitive``; more than one match raises),
    cast to the schema's type, and all NULL where the file lacks the
    column. INT96 reads in µs, as ``_read_schema`` types it. ``filter`` (a
    pyarrow.dataset Expression) prunes row groups and rows in the reader."""
    import pyarrow as pa
    import pyarrow.dataset as pds

    fmt = pds.ParquetFileFormat(read_options=pds.ParquetReadOptions(coerce_int96_timestamp_unit="us"))
    frag = next(iter(pds.dataset(fp, format=fmt).get_fragments()))
    if lo >= 0:
        frag = frag.subset(row_group_ids=list(range(lo, hi)))
    names = frag.physical_schema.names
    columns = {}
    for f in schema:
        src = [n for n in names if n == f.name or (not case_sensitive and n.lower() == f.name.lower())]
        if len(src) > 1:
            raise ValueError(f"column {f.name!r} matches {src} in {fp!r}")
        columns[f.name] = pds.field(src[0]).cast(f.type) if src else pds.scalar(pa.scalar(None, f.type))
    return frag.scanner(columns=columns, filter=filter, batch_size=_BATCH_ROWS, use_threads=False)


def _read_schema(files: list[str], columns: list[str]):
    """The Arrow schema of ``columns`` in the first file, which every
    split's read is cast to; a column missing there raises. Timestamps
    read in µs, as Spark reads them: INT96 through pyarrow's
    ``coerce_int96_timestamp_unit`` (in ns, a year outside 1677-2262
    would wrap), seconds and milliseconds widened; ns stays ns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    first = pq.ParquetFile(files[0], coerce_int96_timestamp_unit="us").schema_arrow
    missing = [c for c in columns if c not in first.names]
    if missing:
        raise ValueError(f"parquet columns {missing} missing in {files[0]!r}")
    fields = [first.field(c) for c in dict.fromkeys(columns)]
    return pa.schema(
        f.with_type(pa.timestamp("us", f.type.tz)) if pa.types.is_timestamp(f.type) and f.type.unit in ("s", "ms") else f
        for f in fields
    )


def read_split_table(fp: str, lo: int, hi: int, columns: list[str], filter=None):
    """One split → pyarrow Table of ``columns`` as typed in ``fp``,
    column-pruned + filter-pushed; ``filter`` may be a read_table-style
    tuple list or a pyarrow.dataset Expression."""
    return _split_scanner(fp, lo, hi, _read_schema([fp], columns), parquet_filter(filter)).to_table()


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
    that lacks a column reads it as NULLs, as ``spark.read.parquet`` does,
    and every timestamp reads in µs. ``filter`` (see :func:`parquet_filter`)
    is checked here, so a malformed one raises before any job runs.
    ``waves``: see :func:`plan_parquet_splits`."""
    files = _as_files(files)
    read_schema = _read_schema(files, columns)
    case_sensitive = spark.conf.get("spark.sql.caseSensitive").lower() == "true"
    splits, n_tasks = plan_parquet_splits(spark, files, waves)
    expr = parquet_filter(filter)
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
                        yield from _split_scanner(fp, lo, hi, read_schema, expr, case_sensitive).to_batches()

        yield from fn(gen())

    ids_df = spark.range(0, n_tasks, 1, n_tasks)
    return ids_df.mapInArrow(task, schema=schema)


def map_batches(df: DataFrame, fn, schema, waves: int = 2) -> DataFrame:
    """``df.mapInArrow(fn, schema)``, read worker-side when it can be: when
    :func:`bare_parquet_scan` accepts ``df``, each Python task reads its
    splits of ``df``'s files (:func:`map_parquet_batches`, ``waves`` as
    there) and ``fn`` gets the frame's columns, a ``cast(ts AS date)``
    derived per batch; any other frame streams its rows from the JVM scan
    through ``mapInArrow``. Both give ``fn`` the same columns as the same
    Arrow types, so a reduction that does not depend on how rows split
    into tasks gives the same output on either. Building the plan runs no
    Spark job."""
    scan = bare_parquet_scan(df)
    if scan is None:
        return df.mapInArrow(fn, schema)
    outputs = scan.outputs
    return map_parquet_batches(
        df.sparkSession, scan.files, lambda batches: fn(_project_batches(batches, outputs)), schema, scan.sources, waves=waves
    )
