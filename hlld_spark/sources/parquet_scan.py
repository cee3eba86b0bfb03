"""Worker-side parquet scanning as a reusable primitive.

The engine's signature scale path (proven by `build_sketches_parquet`,
operators/sketch.py): the driver plans file / row-group splits from
parquet metadata, and each Spark python task reads its splits directly
with pyarrow — column-pruned, filters pushed into the reader — then
streams the Arrow batches through a caller-supplied transform. Row data
NEVER crosses the JVM↔Python Arrow IPC channel, which on this class of
deployment saturates at a fixed total rate regardless of cores
(measured ~5.4M rows/s here; BENCH/BASELINE.md). On a real cluster this
is the Spark 4 Python Data Source / pyiceberg plan_files pattern:
object store → worker, scan next to the compute.

``map_parquet_batches(spark, path, fn, schema, columns)`` is the
generic form; `build_sketches_parquet` is its oldest client, and any
Arrow-batch operator (language ID, tokenization, fingerprinting) can
ride the same splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def plan_parquet_splits(
    spark: SparkSession, path: str, files_per_task: int | None = None, waves: int = 2
) -> tuple[list[tuple[str, int, int]], int]:
    """(splits, n_tasks): file-level splits normally; row-group-range
    splits when there are fewer files than task slots (one giant file
    still parallelizes). A split is (file, rg_lo, rg_hi) with lo=-1
    meaning the whole file.

    ``waves``: at every file count the task count is
    ``min(len(splits), waves·parallelism)``. 2 (default) leaves a second
    wave, so a core whose task ends early takes another while a slow one
    finishes. 1 is one task per core: every Python task costs ~5-10 ms of
    serialized handshake, so the uniform, scan-dominated sketch build
    measured faster with half the tasks (r7 A/B in OPTIMIZATION_r07.md),
    but with no second wave a straggler (a slow core, a larger file) sets
    the makespan."""
    from ..operators.sketch import list_parquet_files

    files = list_parquet_files(path)
    par = spark.sparkContext.defaultParallelism
    splits: list[tuple[str, int, int]]
    if len(files) < par and files_per_task is None:
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
        if files_per_task is None:
            # `waves` full-width task waves: balanced (uniform files)
            # without ragged-last-wave makespan loss
            n_tasks = min(len(splits), waves * par)
        else:
            n_tasks = (len(splits) + files_per_task - 1) // files_per_task
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
        from ..operators.sketch import _pq_filter_to_expr

        expr = filter if isinstance(filter, pds.Expression) else _pq_filter_to_expr(filter)
    return sub.to_table(columns=columns, filter=expr, use_threads=False)


def map_parquet_batches(
    spark: SparkSession,
    path: str,
    fn,
    schema,
    columns: list[str],
    filter=None,
    batch_rows: int = 32768,
    files_per_task: int | None = None,
    waves: int = 2,
) -> DataFrame:
    """Apply ``fn(Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]``
    to worker-side parquet reads of ``columns`` and return a DataFrame
    with ``schema``. ``fn`` sees one continuous batch stream per task
    (all of the task's splits), so per-task state (partial aggregates,
    summaries) amortizes across splits. ``waves``: see
    :func:`plan_parquet_splits`."""
    splits, n_tasks = plan_parquet_splits(spark, path, files_per_task, waves)
    fcols = list(columns)
    ffilter = filter
    fbatch = batch_rows
    # r7: the task list rides a JVM-native Range (one task-id row per
    # partition) + a broadcast of the split table, NOT a parallelize()d
    # Python RDD — the latter put a second Python round trip in front of
    # EVERY task (measured ~0.5 s of serialized per-task overhead on a
    # 64-task job, §OPTIMIZATION_r07.md). Splits are assigned by
    # striding (tid::n_tasks), which balances like the old contiguous
    # chunking; split order never affects results (all consumers
    # aggregate or sort).
    bsplits = spark.sparkContext.broadcast(splits)

    def task(meta_batches):
        def gen():
            for rb in meta_batches:
                for tid in rb.column(0).to_pylist():
                    for fp, lo, hi in bsplits.value[tid::n_tasks]:
                        tbl = read_split_table(fp, lo, hi, fcols, ffilter)
                        yield from tbl.to_batches(fbatch)

        yield from fn(gen())

    ids_df = spark.range(0, n_tasks, 1, n_tasks)
    return ids_df.mapInArrow(task, schema=schema)
