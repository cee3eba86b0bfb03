"""Frequent-items (heavy hitters) over arbitrary-cardinality columns.

The training-data-pipeline companion to the sketch suite: find every
item whose frequency is ≥ φ·N (hot urls, boilerplate n-grams, dominant
hosts) with EXACT final counts, without ever shuffling row-level data.

Both operators run one Misra–Gries pipeline, two input scans:

    pass 1  map_batches  — :func:`_summarize` keeps one Misra–Gries
                           summary of capacity c per partition, fed by
                           an ``items_of(batch)`` kernel that returns the
                           batch's distinct items and counts (the MG
                           decrement runs on the ≤(c + batch-distinct)
                           dict, never per row). It emits ≤ c candidate
                           items PLUS one sentinel row (item NULL)
                           carrying the partition's exact item total —
                           so the global N for the φ·N threshold costs
                           no extra scan. The sentinel is emitted
                           UNCONDITIONALLY, even when the MG dict ends
                           empty (an all-singletons partition can
                           decrement every counter away; its items still
                           count toward N). The same closure merges the
                           summaries to ≤ ``summary_fan_in`` partitions
                           before the driver collect.
    pass 2  recount      — exact counts of the candidates only, then the
                           ``ceil(φ·N)`` filter. An empty candidate union
                           returns at once, without this scan.

Each scan of the input that runs in Python (both passes of
``frequent_ngrams``, pass 1 of ``heavy_hitters``) takes its batches from
``sources/parquet_scan.map_batches``: a bare parquet file scan is read in
the Python workers, any other frame streams through ``mapInArrow``. The
summaries then depend on how rows split into tasks; the exact recount
keeps the output the same either way.

``heavy_hitters`` summarizes the column's values (``pc.value_counts``)
and recounts them with a broadcast semi-join + groupBy count: the big
side never shuffles. ``frequent_ngrams`` summarizes 64-bit token-gram
hashes (``dedup._grams``, the one gram stream every n-gram consumer
reads) and recounts in the workers: the sorted candidate hashes ride in
the task closure, ``np.isin`` finds each batch's hit slots, and only
those slots are rendered as gram strings (``" ".join`` of ``str.split()``
tokens) and counted by string. A hash collision can add a false
candidate but never merge two n-grams or drop a heavy one, so the
output strings and counts are exact.

Guarantee (pigeonhole over the partition counts): any item with global
count ≥ φ·N has local share ≥ φ·N_p in at least one partition, and a
capacity-c Misra–Gries summary retains every item with local count >
N_p/(c+1) — so with c ≥ ceil(1/φ) the candidate set is a SUPERSET of
the true φ-heavy set (no false negatives). The exact recount then
removes all false positives, making the final answer exact. The proof
holds for gram hashes too: a hash's count is at least that of any gram
mapped to it.

Reference context: hlld has no frequent-items command; this implements
the standard mergeable-summary pattern (same two-phase shape as
operators/sketch.py) cited from the public Misra–Gries / SpaceSaving
literature.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..sources.parquet_scan import map_batches
from .dedup import _grams, _text_array
from .skew import rebalance


def _mg_update(counters: dict, items: np.ndarray, counts: np.ndarray, capacity: int) -> None:
    """Merge batch (item, count) pairs into a Misra–Gries dict of size
    ≤ capacity. Vectorized per batch: the only Python-level loop is over
    the batch's DISTINCT items (np.unique output), not rows. Every NaN
    item counts under the one ``math.nan`` key, as ``groupBy`` does:
    each batch's ``to_pylist()`` makes a new NaN object, and NaN ≠ NaN
    would open a separate key per batch."""
    for it, ct in zip(items.tolist(), counts.tolist()):
        if it != it:
            it = math.nan
        counters[it] = counters.get(it, 0) + int(ct)
    excess = len(counters) - capacity
    if excess > 0:
        # decrement all by the excess-th smallest count (batch MG step:
        # equivalent to `excess` unit decrement rounds)
        vals = np.fromiter(counters.values(), dtype=np.int64, count=len(counters))
        kth = np.partition(vals, excess - 1)[excess - 1]
        for it in list(counters):
            c = counters[it] - int(kth)
            if c <= 0:
                del counters[it]
            else:
                counters[it] = c


def _summarize(items_of, cap: int, schema: StructType):
    """The one Misra–Gries summarize closure (an Arrow batch function).
    ``items_of(batch)`` returns the batch's (distinct items, counts,
    item total); the closure folds them into one capacity-``cap``
    summary and emits it as ``schema`` rows (item, MG count, 0) plus the
    NULL-item sentinel row (NULL, 0, total)."""
    item_type = to_arrow_type(schema.fields[0].dataType)
    names = schema.fieldNames()

    def summarize(batches):
        counters: dict = {}
        total = 0
        for rb in batches:
            items, counts, n = items_of(rb)
            total += n
            if len(items):
                _mg_update(counters, items, counts, cap)
        ks = list(counters)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ks + [None], type=item_type),
                pa.array([counters[k] for k in ks] + [0], type=pa.int64()),
                pa.array([0] * len(ks) + [total], type=pa.int64()),
            ],
            names=names,
        )

    return summarize


def _summary_rows(rb: pa.RecordBatch):
    """``items_of`` of a summary batch: its (item, MG count) rows, and
    the sum of its sentinel totals (item rows carry total 0)."""
    item = rb.column(0)
    held = item.is_valid()
    return (
        np.asarray(item.filter(held).to_pylist(), dtype=object),
        rb.column(1).filter(held).to_numpy(),
        pc.sum(rb.column(2)).as_py() or 0,
    )


def _value_counts(rb: pa.RecordBatch):
    """``heavy_hitters``' ``items_of``: the batch's distinct non-null
    values, their counts, and the non-null total."""
    v = rb.column(0).drop_null()
    vc = pc.value_counts(v)
    return np.asarray(vc.field("values").to_pylist(), dtype=object), vc.field("counts").to_numpy(), len(v)


def _ngram_counts(texts, n: int):
    """``frequent_ngrams``' pass-1 kernel: the batch's distinct token
    n-gram hashes (int64), their counts, and the n-gram total."""
    h = _grams(texts, n, "token")[0].view(np.int64)
    u, c = np.unique(h, return_counts=True)
    return u, c, len(h)


def _ngram_hits(texts, n: int, cands: np.ndarray) -> Counter:
    """``frequent_ngrams``' pass-2 kernel: ``{ngram: count}`` of the
    batch's token n-grams whose hash is in the sorted int64 ``cands``.
    Only hit slots are rendered: slot ``offsets[d] + i`` is doc d's gram
    at token i, read back as ``" ".join`` of its ``str.split()`` tokens,
    so the counts are by string and exact whatever the hashes collide."""
    h, offsets = _grams(texts, n, "token")
    slots = np.flatnonzero(np.isin(h.view(np.int64), cands))
    docs, first = np.unique(np.searchsorted(offsets, slots, side="right") - 1, return_index=True)
    bounds = np.append(first, len(slots)).tolist()
    hits: Counter = Counter()
    for d, lo, hi, text in zip(docs.tolist(), bounds, bounds[1:], _text_array(texts).take(docs).to_pylist()):
        toks = text.split()
        hits.update(" ".join(toks[i : i + n]) for i in (slots[lo:hi] - offsets[d]).tolist())
    return hits


def _frequent(items: DataFrame, item_type, items_of, phi: float, capacity, fan_in: int, name: str, out_count: str, recount):
    """The pipeline both operators share. Pass 1 summarizes the
    one-column ``items`` frame with ``items_of`` (through
    :func:`~hlld_spark.sources.parquet_scan.map_batches`) and merges the
    summaries to ≤ ``fan_in`` partitions before the driver collect (at
    10^5–10^6 input tasks the driver would otherwise hold
    partitions×(cap+1) rows). MG summaries are mergeable [Agarwal et al.
    2012]: adding counter sets then batch-decrementing back to capacity
    under-counts any item by ≤ N/(cap+1) cumulatively, so the φ-heavy
    superset guarantee survives the extra level (cap ≥ 1/φ ⇒ φ·N >
    N/(cap+1)); sentinel totals sum through. The merge always runs (a
    probe of the upstream's partition count to skip it ran the upstream
    shuffle stages once more under AQE), and AQE merges its small
    partitions: a plain ``repartition(64)`` ran 64 Python tasks, +0.86 s
    on a 16-partition input at ``local[4]``. With AQE off it is a plain
    ``repartition(fan_in)`` (see :func:`.skew.rebalance`).

    ``recount(candidates)`` is pass 2: a frame of (``name``,
    ``out_count``) exact counts, filtered here to ``ceil(φ·N)``."""
    if not (0 < phi < 1):
        raise ValueError("phi must be in (0, 1)")
    cap = capacity or int(np.ceil(2.0 / phi))  # 2× the ceil(1/φ) bound: slack for near-threshold items
    schema = StructType(
        [
            StructField(items.columns[0], item_type, True),  # null = sentinel total row
            StructField("__mg_count", LongType(), False),
            StructField("__total", LongType(), False),
        ]
    )
    summaries = map_batches(items, _summarize(items_of, cap, schema), schema)
    rows = rebalance(summaries, fan_in).mapInArrow(_summarize(_summary_rows, cap, schema), schema).collect()
    cands = list({r[0] for r in rows if r[0] is not None})
    if not cands:
        # MG superset guarantee: empty candidate union ⇒ no φ-heavy item
        return items.limit(0).select(F.col(items.columns[0]).alias(name), F.lit(0).cast("long").alias(out_count))
    threshold = int(np.ceil(phi * sum(r[2] for r in rows)))
    return recount(cands).filter(F.col(out_count) >= threshold)


def heavy_hitters(
    df: DataFrame,
    col: str,
    phi: float = 0.01,
    capacity: int | None = None,
    out_count: str = "exact_count",
    summary_fan_in: int = 64,
) -> DataFrame:
    """All items of ``col`` with frequency ≥ φ·N, with exact counts.

    ``capacity`` defaults to ceil(2/φ) (2× the guarantee bound, so
    near-threshold items survive partition-local decrements with slack).
    Returns (col, exact_count), exact by construction: Misra–Gries
    candidates (superset guarantee) → broadcast recount (exact) →
    threshold filter.

    Exactly TWO scans of the input: the summarize pass also carries the
    per-partition exact total (null-item sentinel rows), so N never
    needs its own ``count()`` job; the bounded summaries are tree-
    reduced to ≤ ``summary_fan_in`` partitions (r4 — the driver collect
    is ≤ fan_in × (capacity+1) rows however many input tasks ran), then
    the recount is the second and final scan.
    """
    items = df.select(col)
    in_type = df.schema[col].dataType

    def recount(cands):
        cand_df = df.sparkSession.createDataFrame(
            [(c,) for c in cands], schema=StructType([StructField(col, in_type, True)])
        )
        # candidates broadcast into the semi-join: the big side never
        # shuffles rows; only the ≤|candidates| survivor partial counts
        # cross an exchange, whatever autoBroadcastJoinThreshold says
        return (
            items.join(F.broadcast(cand_df), col, "left_semi")
            .groupBy(col)
            .agg(F.count("*").alias(out_count))
        )

    return _frequent(items, in_type, _value_counts, phi, capacity, summary_fan_in, col, out_count, recount)


def frequent_ngrams(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    phi: float = 0.001,
    capacity: int | None = None,
    out_count: str = "exact_count",
    summary_fan_in: int = 64,
) -> DataFrame:
    """Token n-grams (``str.split()`` words) occurring ≥ φ·(total
    n-grams) — exact counts, for boilerplate/template detection in web
    corpora. Returns (ngram, exact_count).

    Never explodes n-grams into rows (a 100 TB corpus would multiply by
    ~doc_tokens): both passes read each Arrow batch's gram hashes from
    ``dedup._grams`` inside the worker. Pass 1 runs the
    :func:`heavy_hitters` Misra–Gries summaries over the 64-bit gram
    hashes, with the exact n-gram total in the sentinel rows. Pass 2
    ships the sorted candidate hashes in the task closure (PySpark
    broadcasts a pickled command over 1 MB itself), finds the hit slots
    with ``np.isin``, renders only those as gram strings and counts them
    by string, so a hash collision can neither merge two n-grams nor
    drop a heavy one; the bounded per-partition partials are summed.
    With no candidates it returns without the second scan.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    docs = df.select(text_col)

    def recount(cands):
        cand = np.unique(np.asarray(cands, dtype=np.int64))
        schema = StructType([StructField("ngram", StringType(), False), StructField(out_count, LongType(), False)])

        def count_hits(batches):
            counts: Counter = Counter()
            for rb in batches:
                counts.update(_ngram_hits(rb.column(0), n, cand))
            if counts:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(list(counts), type=pa.string()), pa.array(list(counts.values()), type=pa.int64())],
                    names=["ngram", out_count],
                )

        return map_batches(docs, count_hits, schema).groupBy("ngram").agg(F.sum(out_count).alias(out_count))

    return _frequent(
        docs, LongType(), lambda rb: _ngram_counts(rb.column(0), n), phi, capacity, summary_fan_in, "ngram", out_count, recount
    )
