"""Benchmark decontamination — flag training documents that share any
n-gram with an evaluation/benchmark set.

The standard LLM-training hygiene step (the GPT-3 appendix / Llama
"13-gram overlap" rule): any training document containing an n-gram that
also appears in a held-out benchmark is flagged (and usually dropped) so
eval scores aren't contaminated by memorization. The published rule's
unit is 13 TOKENS, and ``unit="token"`` (whitespace tokens) is the
default (VERDICT r3 #1); ``unit="char"`` (character n-grams, ~2.5
English words at n=13 — a much more aggressive sub-word screen) remains
available.

Spark-first shape, designed for the 100-TB corpus / small-eval-set
asymmetry:

* the EVAL side is small (benchmarks are ~10^4..10^7 grams): its
  distinct n-gram hashes are computed distributively, collected ONCE to
  the driver (bounded by ``max_eval_grams`` — same bounded-collect
  pattern as the IVF centroid sample), sorted, and broadcast.
* the CORPUS side never materializes an n-gram row: each Arrow batch's
  text column is read by the same gram stream minhash and span dedup
  use (``dedup._grams``: one code-point kernel per unit for any script
  mix or NULLs, docs shorter than n owning no gram) and probed against
  the broadcast table — a 2^24-slot byte-mask prefilter resolves ~97%
  of probes with one vectorized load, searchsorted runs only on
  survivors. Only ``(id, n_matched)`` leaves the worker: no corpus
  shuffle at all (plan-asserted in tests).
* ``method="bloom"`` swaps the sorted array for this engine's own Bloom
  filter (``core.bloom``) built over the eval hashes: ~10x smaller
  broadcast at a documented false-positive rate. Bloom errors only
  OVER-flag (drop a clean doc), never under-flag — the safe direction
  for decontamination.
* the corpus batches come from the worker-side pyarrow scan
  (``sources.parquet_scan.map_parquet_batches``) for
  :func:`decontaminate_parquet`, and from ``sources.parquet_scan.map_batches``
  for :func:`decontaminate`: a bare parquet file scan is read the same
  worker-side way, any other frame streams through ``mapInArrow``. The
  worker-side read dodges the measured ~5.4M rows/s JVM→Python
  Arrow-IPC ceiling exactly like ``build_sketches_parquet`` does. The
  overflow join's corpus gram stream comes from the same source.

Hash-match vs string-match: grams are compared by 64-bit splitmix-
finalized poly hashes, so a collision could over-flag a document
(P ≈ pairs/2^64 — negligible and, like the minhash gates, deterministic).

Reference parity note: the reference (hlld) has no decontamination; this
is a brief-mandated training-data-pipeline companion operator built on
the same shingle kernel as the dedup family.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..sources.parquet_scan import map_batches
from .dedup import _grams, _splitmix
from .skew import rebalance

# second hash for the Bloom double-hashing scheme — any odd constant
# xor + splitmix gives an independent-enough h2 from the gram hash
_BLOOM_H2_SALT = np.uint64(0x9E3779B97F4A7C15)


def _bloom_pair(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return h, _splitmix(h ^ _BLOOM_H2_SALT)


def _gram_hashes_df(df: DataFrame, text_col: str, n: int, unit: str) -> DataFrame:
    """Distinct n-gram hashes of a text column as a 1-column DataFrame
    (docs shorter than n units contribute nothing — no n-gram exists)."""
    schema = StructType([StructField("gram_hash", LongType(), False)])

    def extract(batches):
        for rb in batches:
            h, _ = _grams(rb.column(text_col), n, unit)
            yield pa.RecordBatch.from_arrays([pa.array(np.unique(h).view(np.int64))], names=["gram_hash"])

    # Rebalance the (tiny, post-filter) eval projection before the
    # Python stage — the gram extraction otherwise inherits the SCAN's
    # task count (e.g. 32-64 tasks for ~2k surviving docs), and each
    # Python task pays a fixed cost. At most one task wave, with AQE on
    # or off; AQE also merges small partitions by
    # advisoryPartitionSizeInBytes. Row placement only; the distinct
    # gram set is unchanged.
    par = df.sparkSession.sparkContext.defaultParallelism
    return rebalance(df.select(text_col), par).mapInArrow(extract, schema).distinct()


class EvalGramOverflow(ValueError):
    """Eval set has more distinct n-grams than ``max_eval_grams`` — the
    broadcast-probe path is off the table; callers fall back to the
    distributed gram equi-join. A dedicated type (ADVICE r5): catching
    bare ValueError silently rerouted UNRELATED errors onto the
    expensive full-corpus-shuffle path."""


def eval_gram_table(
    eval_df: DataFrame,
    text_col: str,
    n: int = 13,
    max_eval_grams: int = 20_000_000,
    unit: str = "token",
) -> np.ndarray:
    """Sorted uint64 array of the eval set's distinct n-gram hashes.

    Collected to the driver deliberately: benchmarks are small by
    definition, and a sorted array broadcast once beats re-shuffling a
    100-TB corpus against it. ``max_eval_grams`` (default 2e7 ≈ 160 MB
    as a numpy array) guards against mis-pointing this at a corpus-sized
    table. Collection rides Arrow (``toArrow``), not row-object
    ``collect()`` — py4j Row objects cost ~100 bytes each, which at the
    default cap would be multi-GB of driver heap (ADVICE r3)."""
    # limit(cap+1) bounds driver memory in ONE scan; overflow raises
    limited = _gram_hashes_df(eval_df, text_col, n, unit).limit(max_eval_grams + 1)
    try:
        col = limited.toArrow().column("gram_hash").to_numpy(zero_copy_only=False)
    except AttributeError:  # Spark < 4 fallback: Arrow-backed toPandas
        col = limited.toPandas()["gram_hash"].to_numpy()
    if len(col) > max_eval_grams:
        raise EvalGramOverflow(
            f"eval set has >{max_eval_grams} distinct {n}-grams; "
            "decontaminate() broadcasts the eval side — use a smaller eval table "
            "or raise max_eval_grams if the driver/executors have the memory"
        )
    return np.sort(col.astype(np.int64).view(np.uint64))


def _probe_blob(spark: SparkSession, table: np.ndarray, method: str, bloom_fpr: float):
    """Broadcast the eval-side probe structure; returns the handle."""
    if method == "bloom":
        from ..core.bloom import BloomAccumulator, BloomSpec

        acc = BloomAccumulator()
        spec = BloomSpec.for_capacity(max(len(table), 1), bloom_fpr)
        state = acc.add_hashes(acc.zero(spec), *_bloom_pair(table), spec)
        return spark.sparkContext.broadcast(acc.serialize(state, spec))
    if method == "exact":
        return spark.sparkContext.broadcast(table.tobytes())
    raise ValueError(f"unknown method {method!r}")


def _make_member(method: str, blob: bytes):
    """Build the vectorized membership fn from the broadcast payload —
    called once per task."""
    if method == "bloom":
        from ..core.bloom import BloomAccumulator

        acc = BloomAccumulator()
        state, spec = acc.deserialize(blob)
        return lambda h: acc.contains_hashes(state, *_bloom_pair(h), spec)

    sorted_hashes = np.frombuffer(blob, dtype=np.uint64)
    # cheap prefilter: a byte mask over the hash low bits turns ~97%+ of
    # probes into ONE vectorized byte load — searchsorted (binary
    # search, ~20 dependent loads/needle) runs only on the survivors.
    # Byte-identical result. r7: the mask is sized to the table (~64
    # slots/entry, clamped to [2^16, 2^24]) instead of a fixed 16 MB —
    # a benchmark-sized eval set (~40k grams) now uses a 4 MB
    # cache-resident mask with the same ~99% rejection, instead of
    # thrashing 16 MB × n_workers through the LLC.
    _MASK_BITS = max(16, min(24, int(max(len(sorted_hashes), 1) * 64 - 1).bit_length()))
    _MASK = np.uint64((1 << _MASK_BITS) - 1)
    prefilter = np.zeros(1 << _MASK_BITS, dtype=np.uint8)
    prefilter[(sorted_hashes & _MASK).astype(np.int64)] = 1

    def member(h: np.ndarray) -> np.ndarray:
        out = np.zeros(len(h), dtype=bool)
        if len(sorted_hashes) == 0 or len(h) == 0:
            return out
        maybe = prefilter[(h & _MASK).astype(np.int64)].view(bool)
        idx = np.flatnonzero(maybe)
        if len(idx):
            hh = h[idx]
            pos = np.minimum(np.searchsorted(sorted_hashes, hh), len(sorted_hashes) - 1)
            out[idx] = sorted_hashes[pos] == hh
        return out

    return member


def _probe(probe_state, method: str, id_col: str, text_col: str, n: int, unit: str):
    """The corpus probe over Arrow batches of (id, text): per-doc
    matched-gram occurrence counts, yielded as (id, n_matched_grams) for
    flagged docs only. Shared by the DataFrame path (``map_batches``) and
    the worker-side parquet scan (``map_parquet_batches``); unflagged
    rows never become Python objects."""

    def fn(batches):
        member = _make_member(method, probe_state.value)
        for rb in batches:
            h, offsets = _grams(rb.column(text_col), n, unit)
            if not len(h):
                continue
            # per-doc counts from the hit slots' doc rows: a cumsum over
            # every gram made the probe of a 12M-gram web batch ~15%
            # slower (DEVNOTES "One gram stream")
            hits = np.flatnonzero(member(h))
            per_doc = np.bincount(np.searchsorted(offsets, hits, side="right") - 1, minlength=rb.num_rows)
            idx = np.flatnonzero(per_doc > 0)
            if len(idx):
                yield pa.RecordBatch.from_arrays(
                    [rb.column(id_col).take(pa.array(idx)), pa.array(per_doc[idx], type=pa.int64())],
                    names=[id_col, "n_matched_grams"],
                )

    return fn


def _gram_occurrences(id_col: str, text_col: str, n: int, unit: str):
    """(id, gram_hash) over Arrow batches of (id, text) — one row per
    n-gram OCCURRENCE of every doc. The corpus side of the distributed
    fallback join, shared like :func:`_probe`; never used when the eval
    side fits the broadcast cap."""

    def fn(batches):
        for rb in batches:
            h, offsets = _grams(rb.column(text_col), n, unit)
            if len(h):
                rows = np.repeat(np.arange(rb.num_rows), np.diff(offsets))
                yield pa.RecordBatch.from_arrays(
                    [rb.column(id_col).take(pa.array(rows)), pa.array(h.view(np.int64))],
                    names=[id_col, "gram_hash"],
                )

    return fn


def _flag_via_join(corpus_grams: DataFrame, eval_df: DataFrame, id_col: str,
                   eval_text_col: str, n: int, unit: str) -> DataFrame:
    """Distributed fallback (r5, VERDICT r4 #6): equi-join corpus gram
    occurrences against the eval set's DISTINCT gram hashes, then count
    per doc — identical flags/counts to the broadcast-probe path, at the
    cost of shuffling the corpus's gram stream. Only taken when the eval
    side exceeds ``max_eval_grams``."""
    eval_grams = _gram_hashes_df(eval_df, eval_text_col, n, unit)
    return (
        corpus_grams.join(eval_grams, "gram_hash")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_matched_grams"))
    )


def _flag(run, id_field, eval_df, id_col, text_col, eval_text_col, n, method, bloom_fpr,
          max_eval_grams, unit) -> DataFrame:
    """Both entry points' body: ``run(fn, schema)`` maps an Arrow batch
    closure over the corpus's (id, text) batches — ``map_batches`` over
    the DataFrame or ``map_parquet_batches`` over the files."""
    try:
        table = eval_gram_table(eval_df, eval_text_col, n, max_eval_grams, unit)
    except EvalGramOverflow:
        gram_schema = StructType([id_field, StructField("gram_hash", LongType(), False)])
        corpus_grams = run(_gram_occurrences(id_col, text_col, n, unit), gram_schema)
        return _flag_via_join(corpus_grams, eval_df, id_col, eval_text_col, n, unit)
    probe_state = _probe_blob(eval_df.sparkSession, table, method, bloom_fpr)
    schema = StructType([id_field, StructField("n_matched_grams", LongType(), False)])
    return run(_probe(probe_state, method, id_col, text_col, n, unit), schema)


def decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    eval_text_col: str | None = None,
    n: int = 13,
    method: str = "exact",
    bloom_fpr: float = 0.001,
    max_eval_grams: int = 20_000_000,
    unit: str = "token",
) -> DataFrame:
    """Flag corpus documents sharing ≥1 n-gram with eval_df.

    ``unit="token"`` (DEFAULT — VERDICT r3 #1): n-grams of whitespace
    tokens, the unit of the published GPT-3-appendix / Llama 13-gram
    rule this operator implements. ``unit="char"`` keeps the previous
    character-n-gram semantics (≈2.5 English words at n=13 — far more
    aggressive; useful for sub-word contamination screens).

    Returns (id_col, n_matched_grams) for flagged docs only. Keepers =
    ``docs.join(flagged, id_col, "left_anti")``. When ``docs`` is a bare
    parquet file scan, the probe reads its files worker-side
    (``sources.parquet_scan.map_batches``), as :func:`decontaminate_parquet`
    does; any other frame streams its rows through ``mapInArrow``.

    method="exact": broadcast sorted hash array, prefiltered searchsorted.
    method="bloom": broadcast this engine's Bloom over the eval hashes
    (~10 bits/gram at fpr 1e-3) — smaller broadcast, may over-flag at
    the documented fpr, never under-flags.

    Crossover (r5): when the eval side's distinct gram count exceeds
    ``max_eval_grams`` (default 2e7 ≈ 160 MB broadcast — real benchmarks
    are far below it), the operator no longer raises: it falls back to a
    distributed equi-join of the corpus's gram-hash stream against the
    eval gram DataFrame (flags via groupBy count — identical results,
    one corpus-gram shuffle instead of zero). The broadcast probe stays
    the scale path; the join is the correctness net for corpus-sized
    "eval" tables.
    """
    return _flag(
        lambda fn, schema: map_batches(docs.select(id_col, text_col), fn, schema),
        docs.schema[id_col], eval_df, id_col, text_col, eval_text_col or text_col,
        n, method, bloom_fpr, max_eval_grams, unit,
    )


def decontaminate_parquet(
    spark: SparkSession,
    path: str,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    eval_text_col: str | None = None,
    n: int = 13,
    method: str = "exact",
    bloom_fpr: float = 0.001,
    max_eval_grams: int = 20_000_000,
    unit: str = "token",
    filter=None,
) -> DataFrame:
    """:func:`decontaminate` with the corpus scan moved INTO the Python
    workers (``map_parquet_batches``): the driver plans file/row-group
    splits, each task reads only (id, text) with pyarrow (column-pruned,
    filters pushed) and probes in place. Same results as the DataFrame
    path on the same table (equivalence-tested); use when the corpus
    scan dominates — the generic DataFrame path pays the shared-JVM
    Arrow-IPC ceiling (~5.4M rows/s measured here) that this path dodges,
    exactly like ``build_sketches_parquet``."""
    from ..sources.parquet_scan import list_parquet_files, map_parquet_batches, parquet_filter, parquet_schema

    files = list_parquet_files(path)
    expr = parquet_filter(filter)  # before the eval-gram job: a bad filter raises first
    return _flag(
        lambda fn, schema: map_parquet_batches(spark, files, fn, schema, [id_col, text_col], expr),
        parquet_schema(files, [id_col])[id_col], eval_df, id_col, text_col, eval_text_col or text_col,
        n, method, bloom_fpr, max_eval_grams, unit,
    )

