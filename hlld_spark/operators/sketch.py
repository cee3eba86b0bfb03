"""Distributed sketch aggregation: the Spark restatement of hlld's write path.

The reference's hot loop is ``bulk name k1 k2 ...`` — per-thread register
updates into a shared array (/root/reference/src/conn_handler.c:166-217,
src/set.c:267-289). Its distributed shape here:

    stage 1  mapInArrow    — partition-local build: hash + rho + scatter-max
                             over Arrow batches, one partial sketch per
                             (partition, group). This is Catalyst's
                             partial-aggregate phase, hand-rolled because
                             Python UDAFs can't partial-agg natively.
    stage 2  mapInArrow    — register-wise max (HLL) / counter-sum (CMS) /
                             bitwise-OR (Bloom) merge: partials are
                             repartitioned and sorted by key (or sent to
                             one partition for a global build), and each
                             run of equal keys folds with
                             ``merge_serialized``.

Scale properties (designed for 10^12 rows / 1000 executors):

* the shuffle moves **sketches, not rows**: ≤ groups × partitions rows of
  a few KB each, independent of input cardinality. A 100 TB scan with 10
  groups shuffles ~10 × n_partitions × sketch_bytes — megabytes.
* row-level key skew is irrelevant: a partition with 10^9 rows of one
  lang still emits exactly one partial per group. No salting is needed
  for sketch builds (the partial agg *is* the salt).
* input scan prunes to ``keys + [col]`` before entering Python, so
  parquet reads only the needed columns (check .explain ReadSchema).

Where the rows come from: ``build_sketches_parquet`` plans file splits on
the driver and reads them in the Python tasks with pyarrow
(``sources/parquet_scan.py``). ``build_sketches`` does the same when its
pruned input is a bare parquet file scan — e.g. ``spark.read.parquet(p)``
with only columns selected — so no row crosses the JVM scan or the
JVM→Python Arrow channel; any other input streams its rows into stage 1
through ``mapInArrow``. Both feed the same partial kernel and
``_merge_partials``.
"""

from __future__ import annotations

import itertools
import math

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, DoubleType, LongType, StructField, StructType

from ..core.accumulator import HllSpec, accumulator_for, deserialize_any, merge_serialized
from ..sources.parquet_scan import bare_parquet_files, list_parquet_files, map_parquet_batches, parquet_schema

_SKETCH_FIELD = "sketch"
_NROWS_FIELD = "n_rows"


def _result_schema(schema: StructType, keys: list[str]) -> StructType:
    fields = [schema[k] for k in keys]
    fields.append(StructField(_SKETCH_FIELD, BinaryType(), False))
    fields.append(StructField(_NROWS_FIELD, LongType(), False))
    return StructType(fields)


def _make_build_partials_arrow(keys: list[str], col: str, spec):
    """Arrow-native partial build (mapInArrow): one partial sketch per
    group of the task's batches, with no pandas conversion and no
    per-row Python objects.

    Rows with a null value are dropped, the value column is prepared
    (hashed, or cast to float64) once per batch, and a keyed batch is
    grouped by one Arrow hash ``group_by`` whose ``list`` aggregate hands
    back each group's row indices. With ``use_threads=False`` those come
    in ascending row order, so each builder sees its rows in input order.
    A group's key is the tuple of its ``to_pylist()`` values (Arrow
    groups that compare equal there, -0.0 and 0.0, share one builder),
    and the output key columns keep the batch schema's types."""
    acc_kind = spec.kind

    def build_partials(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..core.accumulator import _ACCUMULATORS, new_builder

        acc = _ACCUMULATORS[acc_kind]
        states: dict[tuple, object] = {}  # group key -> builder
        counts: dict[tuple, int] = {}
        for rb in batches:
            if rb.num_rows == 0:
                continue
            schema = rb.schema
            vcol = rb.column(schema.get_field_index(col))
            if vcol.null_count:
                rb = rb.filter(pc.is_valid(vcol))
                if rb.num_rows == 0:
                    continue
                vcol = rb.column(schema.get_field_index(col))
            prepared = acc.prepare_batch(vcol, spec)
            rows = np.arange(rb.num_rows)
            if keys:
                # dictionary keys: on plain columns, Arrow 16's SIMD
                # grouper splits a multi-key group that is null in some
                # key columns but not all; dictionary keys group exactly
                key_cols = [pc.dictionary_encode(rb.column(schema.get_field_index(k))) for k in keys]
                grouped = (
                    pa.table([*key_cols, rows], names=[*keys, "__row"])
                    .group_by(keys, use_threads=False)
                    .aggregate([("__row", "list")])
                )
                lists = grouped.column("__row_list").combine_chunks()
                gkeys = zip(*(grouped.column(k).to_pylist() for k in keys))
                groups = zip(gkeys, np.split(lists.values.to_numpy(), lists.offsets.to_numpy()[1:-1]))
            else:
                groups = [((), rows)]  # Arrow has no ``list`` aggregate without keys
            for gkey, idx in groups:
                b = states.get(gkey)
                if b is None:
                    b = states[gkey] = new_builder(acc, spec)
                    counts[gkey] = 0
                b.add_prepared(prepared, idx)
                counts[gkey] += len(idx)
        if not states:
            return
        arrays = [pa.array([g[i] for g in states], type=schema.field(k).type) for i, k in enumerate(keys)]
        arrays.append(pa.array([acc.serialize(b.finish(), spec) for b in states.values()], type=pa.binary()))
        arrays.append(pa.array(list(counts.values()), type=pa.int64()))
        yield pa.RecordBatch.from_arrays(arrays, names=[*keys, _SKETCH_FIELD, _NROWS_FIELD])

    return build_partials


def _group_key(vals: tuple) -> tuple:
    """A row's key as ``groupBy`` sees it: every NaN is the one ``math.nan``
    (equal to itself in a tuple compare) and -0.0 is 0.0."""
    return tuple((math.nan if v != v else v + 0.0) if isinstance(v, float) else v for v in vals)


def _merge_runs(keys: list[str]):
    """The one merge kernel (mapInArrow): its input arrives sorted by
    ``keys``, so each group is a run of equal keys, folded with
    ``merge_serialized``; with no keys the whole stream is one run.

    At each batch boundary the open run collapses to one serialized
    sketch, so a task holds one batch plus one sketch at any fan-in; the
    round trip is exact for every kind, so the bytes equal one fold's.
    A global merge is one task whatever the fan-in: a partial costs ~56 µs
    deserialize + ~3 µs merge at HLL p12 and ~0.4 ms deserialize + merge
    as a 1.2 MB Bloom filter, so even 1024 partials fold in 0.06 s /
    0.4 s, and a √n merge tree measured no faster there: its extra stage
    cost a Python task wave (+0.5 s at 4 partials, mostly the per-task
    zip re-read ``hlld_spark/__init__.py`` now skips; ~0.06 s since)."""

    def merge(batches):
        import pyarrow as pa

        closed: list[tuple] = []  # finished runs as output rows: (*key, sketch, n_rows)
        run_key, bufs, n_rows = None, [], 0
        for rb in batches:
            key_rows = zip(*(rb.column(k).to_pylist() for k in keys)) if keys else itertools.repeat(())
            for vals, buf, n in zip(
                key_rows, rb.column(_SKETCH_FIELD).to_pylist(), rb.column(_NROWS_FIELD).to_pylist()
            ):
                key = _group_key(vals)
                if bufs and key == run_key:
                    bufs.append(buf)
                    n_rows += n
                    continue
                if bufs:
                    closed.append((*run_key, merge_serialized(bufs), n_rows))
                run_key, bufs, n_rows = key, [buf], n
            if len(bufs) > 1:
                bufs = [merge_serialized(bufs)]
            if closed:
                yield pa.RecordBatch.from_arrays(list(zip(*closed)), schema=rb.schema)
                closed = []
        if bufs:
            closed.append((*run_key, merge_serialized(bufs), n_rows))
            yield pa.RecordBatch.from_arrays(list(zip(*closed)), schema=rb.schema)

    return merge


def _merge_partials(partials: DataFrame, keys: list[str], schema) -> DataFrame:
    """The finishing step of every build and re-merge: one row per key
    group, or one global row, from one ``_merge_runs`` task per shuffle
    partition. The exchange is a real shuffle of a few KB per partial; a
    ``coalesce(1)`` instead would be a narrow dependency that runs every
    upstream build in the single merge task. Building the plan runs no
    Spark job."""
    merge = _merge_runs(keys)
    if not keys:
        return partials.repartition(1).mapInArrow(merge, schema=schema)
    return partials.repartition(*keys).sortWithinPartitions(*keys).mapInArrow(merge, schema=schema)


def build_sketches(
    df: DataFrame,
    keys: list[str] | None,
    col: str,
    spec=None,
) -> DataFrame:
    """``groupBy(keys).agg(sketch(col))`` → DataFrame(keys..., sketch, n_rows).

    ``spec`` defaults to reference-default HLL (p=12, eps≈2%
    — /root/reference/src/config.c:26-27).

    The input is pruned to ``keys + [col]``. When that pruned frame is a
    bare parquet file scan (:func:`~hlld_spark.sources.parquet_scan.bare_parquet_files`,
    decided from the optimized plan without running a job), the build
    reads its files worker-side as :func:`build_sketches_parquet` does, so
    no row crosses the JVM scan or the JVM→Python Arrow channel. It
    takes the ``mapInArrow`` path over the frame's rows instead when the
    pruned plan holds anything but column references over one parquet
    relation (a filter, a derived or aliased column, a limit, a join, a
    cached or streaming frame, a non-file source); when the relation is
    partitioned or bucketed, or reads with ``mergeSchema``,
    ``ignoreCorruptFiles``, ``ignoreMissingFiles`` or field ids; when a
    file is not a ``file:`` URI; or when a column's Spark type is not
    string, binary, boolean or a byte/short/int/long/float/double number,
    differs from the type in the first file's footer, or reaches Python
    as another Arrow type than pyarrow reads (e.g. ``binaryAsString``
    over unannotated binary, a dictionary-encoded column, large var
    types). Both paths give byte-identical HLL, CMS and Bloom sketches and
    equal ``n_rows``; KLL and t-digest fold in a different order, so they
    agree within rank error.
    """
    spec = spec if spec is not None else HllSpec()
    keys = list(keys or [])
    accumulator_for(spec)  # validate early, on the driver
    pruned = df.select(*keys, col)
    schema = _result_schema(pruned.schema, keys)
    files = bare_parquet_files(pruned)
    if files is not None:
        return _build_from_files(pruned.sparkSession, files, keys, col, spec, schema)
    partials = pruned.mapInArrow(_make_build_partials_arrow(keys, col, spec), schema=schema)
    return _merge_partials(partials, keys, schema)


def _build_from_files(spark, files: list[str], keys: list[str], col: str, spec, schema, filter=None) -> DataFrame:
    """The worker-side-read build: each Python task reads its splits of
    ``files`` with pyarrow and feeds one continuous batch stream to the
    partial kernel, so the task emits one partial per group whatever its
    split count; ``_merge_partials`` finishes it."""
    partials = map_parquet_batches(
        spark,
        files,
        _make_build_partials_arrow(keys, col, spec),
        schema,
        keys + [col],
        filter=filter,
        # r7: ONE wave of full-width tasks — the sketch build is uniform
        # scan+hash work, and each Python task paid a fixed cost (mostly
        # the zip-directory re-read hlld_spark/__init__.py now skips), so
        # one wave measured faster (A/B: best 0.67 s vs 1.05 s at bench
        # scale); compute-heavy consumers keep waves=2
        waves=1,
    )
    return _merge_partials(partials, keys, schema)


def build_sketches_parquet(
    spark,
    path: str,
    keys: list[str] | None,
    col: str,
    spec=None,
    filter=None,
) -> DataFrame:
    """Sketch build with **worker-side parquet reads**: file splits are
    planned on the driver and each Spark python task reads its splits
    directly with pyarrow (column-pruned, optional pushed-down filter),
    so no row data crosses the JVM↔Python Arrow IPC channel.
    ``build_sketches`` takes the same path for a bare parquet scan.

    Why this exists: profiled on local[N], the generic DataFrame path
    saturates at ~5.4M rows/s on the shared JVM-side Arrow IPC/allocator
    regardless of cores, while direct pyarrow reads scale linearly
    (0.87 efficiency 2→8 procs, ~2.5× absolute). On a real cluster this
    is the standard python-native-engine pattern (Spark 4 Python Data
    Source / pyiceberg plan_files read data files the same way): the
    scan happens where the compute is, object store → worker.

    ``filter`` accepts EITHER a read_table-style ``[(col, op, val), ...]``
    tuple list OR a ``pyarrow.dataset`` Expression; both forms are
    evaluated in the parquet reader (row-group pruning + late
    materialization) on both the whole-file and row-group-split paths.

    The key types come from the first file's footer
    (:func:`~hlld_spark.sources.parquet_scan.parquet_schema`), so
    building the plan runs no Spark job. Precondition: no key column is
    an unsigned integer or, in a file Spark did not write, an INT96
    timestamp — their Arrow read has no Spark type to hand back, so the
    build raises ``ValueError`` here instead of failing in the tasks. A
    key or value column missing from the first file also raises here.
    """
    spec = spec if spec is not None else HllSpec()
    keys = list(keys or [])
    accumulator_for(spec)
    files = list_parquet_files(path)
    schema = _result_schema(parquet_schema(files, keys), keys)
    return _build_from_files(spark, files, keys, col, spec, schema, filter)


def merge_sketches(sketch_df: DataFrame, keys: list[str] | None) -> DataFrame:
    """Re-aggregate an existing sketch table to a coarser grain.

    Sketches are re-aggregable: per-(lang, day) sketches merge up to
    per-lang, per-day, or global without touching the raw rows — the
    grouping-sets strategy from SURVEY.md §2.2.
    """
    keys = list(keys or [])
    base = sketch_df.select(*keys, _SKETCH_FIELD, _NROWS_FIELD)
    return _merge_partials(base, keys, _result_schema(base.schema, keys))


def rollup_sketches(df: DataFrame, keys: list[str], col: str, spec=None) -> DataFrame:
    """SQL ROLLUP over sketches from one scan: keys (null = aggregated-out)
    + sketch + n_rows + grouping_level (0 = finest … len(keys) = total).

    One build at the finest grain; each merged finest row is exploded in
    the JVM into one row per level (level g nulls ``keys[len(keys)-g:]``)
    and one merge keyed on ``keys + [grouping_level]`` folds every level,
    so an aggregated-out NULL never meets a real NULL group. Level g ≡
    ``merge_sketches(finest, keys[:len(keys)-g])``: byte for byte for
    HLL/CMS/Bloom, within rank error for KLL/t-digest (fold order). The
    merged rows are exploded, not the build's partials, which would save
    an exchange but send partitions × groups partials to the grand-total
    task. Building the plan runs no Spark job.
    """
    n = len(keys)
    finest = build_sketches(df, keys, col, spec)
    level = F.col("grouping_level")
    levels = finest.withColumn("grouping_level", F.explode(F.sequence(F.lit(0), F.lit(n)))).select(
        *(F.when(level < n - j, F.col(k)).alias(k) for j, k in enumerate(keys)), level, _SKETCH_FIELD, _NROWS_FIELD
    )
    merge_keys = [*keys, "grouping_level"]
    merged = _merge_partials(levels, merge_keys, _result_schema(levels.schema, merge_keys))
    return merged.select(*keys, _SKETCH_FIELD, _NROWS_FIELD, "grouping_level")


@F.arrow_udf(DoubleType())
def sketch_estimate(bufs):
    """Primary estimate per serialized sketch (HLL → cardinality,
    CMS/Bloom/t-digest/KLL → their scalar default); a null sketch, e.g.
    from an outer join of sketch tables, and a NaN estimate both read
    back as NULL."""
    import pyarrow as pa

    out = np.full(len(bufs), np.nan)
    for i, b in enumerate(bufs.to_pylist()):
        if b is not None:
            acc, state, spec = deserialize_any(b)
            out[i] = acc.estimate(state, spec)
    return pa.array(out, from_pandas=True)


def with_estimate(sketch_df: DataFrame, out: str = "estimate") -> DataFrame:
    return sketch_df.withColumn(out, sketch_estimate(F.col(_SKETCH_FIELD)))


def distinct_count(
    df: DataFrame, keys: list[str] | None, col: str, spec=None, out: str = "estimate"
) -> DataFrame:
    """End-to-end approximate COUNT(DISTINCT col) GROUP BY keys."""
    keys = list(keys or [])
    sk = build_sketches(df, keys, col, spec)
    return with_estimate(sk, out).select(*keys, out, _NROWS_FIELD)
