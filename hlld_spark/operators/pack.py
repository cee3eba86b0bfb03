"""Sequence packing for LLM pretraining — global token offsets and
context-window chunk assignment, DataFrame-first.

The standard GPT-style packing: tokenize documents, concatenate them in
deterministic id order (separator tokens are the caller's business —
fold them into the count column), and split the stream at fixed
``ctx_len`` boundaries. Each document maps to a contiguous token span
[offset, offset + n_tokens) of the virtual stream and therefore to a
chunk range [first_chunk, last_chunk].

Scale shape — the whole point of this module: a naive
``SUM() OVER (ORDER BY id)`` is a single-partition window (one task
sees every row). Instead the prefix sum is computed hierarchically:

  1. bucket docs by ``id DIV bucket_span`` (value-based, deterministic,
     no sampling — unlike repartitionByRange, whose sampled boundaries
     are not reproducible for an oracle);
  2. per-bucket totals (partial-aggregated groupBy — tiny output);
  3. ONE global window over the bucket totals — n_buckets rows, ≪ docs
     (pick bucket_span so n_buckets ~ 10⁴-10⁶ at 100 TB);
  4. within-bucket running sums, distributed by bucket.

The result is bit-identical to the naive global window (ANY grouping of
an ordered integer sum telescopes), which is exactly what the DuckDB
oracle computes with a plain window — the driver gate proves the
decomposition.

Reference scope note: armon/hlld has no packing; LLM-pipeline layer,
tokenizer shared with operators/ranking.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .ranking import tokens_col


def with_global_token_offsets(
    df: DataFrame,
    id_col: str,
    count_col: str,
    bucket_span: int = 1 << 16,
    out_col: str = "token_offset",
) -> DataFrame:
    """Add the exclusive prefix sum of ``count_col`` in ``id_col`` order
    (the doc's start position in the concatenated token stream), via
    the hierarchical decomposition described in the module docstring.
    ``id_col`` must be numeric; ties are impossible (ids are unique)."""
    bucket = (F.col(id_col) / F.lit(bucket_span)).cast("long").alias("__bucket")
    # r7 (guide §2.4 / §3.3 "materialise an intermediate"): `totals` and
    # the windowed side are two consumers of the same upstream; as two
    # plan subtrees the whole upstream — scan INCLUDING the tokenize
    # that usually derives count_col — ran twice (plan-verified: two
    # Scan parquet nodes each with its own regexp_extract_all). An
    # explicit shared exchange can't fix it: column pruning gives the
    # two branches different exchange inputs, so ReuseExchange never
    # matches. A lazy checkpoint materializes the bucketed rows and both
    # branches read it (same pattern as the connected-components rounds
    # in operators/cluster.py). Callers should pass a NARROW frame
    # (pack_sequences projects to (id, count)): the checkpoint then
    # stores ~16-24 B/row — far cheaper than a second full scan+tokenize
    # whenever upstream per-row work dominates.
    # With a checkpoint dir set, the checkpoint is the reliable one: a
    # lost executor's rows are re-read from it, where a local checkpoint
    # fails the job. A reliable checkpoint is not cached, so writing its
    # files computes the upstream again (RDD.checkpoint's documented
    # cost); a local checkpoint caches it and computes it once.
    bucketed = df.withColumn("__bucket", bucket)
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        b = bucketed.checkpoint(eager=False)
    else:
        b = bucketed.localCheckpoint(eager=False)
    totals = b.groupBy("__bucket").agg(F.sum(count_col).alias("__btot"))
    # global window over BUCKET AGGREGATES only — n_buckets rows
    wb = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    prefixes = totals.withColumn(
        "__bprefix", F.coalesce(F.sum("__btot").over(wb), F.lit(0))
    ).select("__bucket", "__bprefix")
    # within-bucket exclusive running sum, distributed by bucket
    ww = (
        Window.partitionBy("__bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # no broadcast hint: there is one prefix row per non-empty bucket, up
    # to one per doc when ids are sparse, so the optimizer (AQE at run
    # time) picks the join; a small prefix side is still broadcast
    return (
        b.join(prefixes, "__bucket")
        .withColumn(
            out_col,
            F.col("__bprefix") + F.coalesce(F.sum(count_col).over(ww), F.lit(0)),
        )
        .drop("__bucket", "__bprefix")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    ctx_len: int,
    text_col: str | None = None,
    count_col: str | None = None,
    bucket_span: int = 1 << 16,
) -> DataFrame:
    """Map each document to its span of the packed token stream:
    (id, n_tokens, token_offset, first_chunk, last_chunk,
    start_in_first) with chunks of ``ctx_len`` tokens. Pass either
    ``text_col`` (tokenized with the shared ``[a-z0-9]+`` tokenizer) or
    a precomputed ``count_col`` (the place to add per-doc separator /
    BOS overhead). Zero-token documents occupy no span — their chunk
    columns are NULL."""
    if (text_col is None) == (count_col is None):
        raise ValueError("pass exactly one of text_col / count_col")
    if count_col is None:
        # (regexp_count is no cheaper: Catalyst rewrites it to exactly
        # size(regexp_extract_all(...)) — RuntimeReplaceable)
        df = df.withColumn("n_tokens", F.size(tokens_col(text_col)))
        count_col = "n_tokens"
    elif count_col != "n_tokens":
        df = df.withColumn("n_tokens", F.col(count_col))
    # narrow projection BEFORE the offsets machinery (r7): the output
    # only needs (id, n_tokens), and the narrow frame is what lets
    # with_global_token_offsets share one exchange between its two
    # consumers — with the old wide frame the tokenize ran twice
    out = with_global_token_offsets(
        df.select(id_col, "n_tokens"), id_col, "n_tokens", bucket_span
    )
    nonzero = F.col("n_tokens") > 0
    return out.select(
        id_col,
        "n_tokens",
        "token_offset",
        F.when(nonzero, (F.col("token_offset") / ctx_len).cast("long")).alias(
            "first_chunk"
        ),
        F.when(
            nonzero,
            ((F.col("token_offset") + F.col("n_tokens") - 1) / ctx_len).cast("long"),
        ).alias("last_chunk"),
        F.when(nonzero, F.col("token_offset") % ctx_len).alias("start_in_first"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 256,
    overlap: int = 64,
) -> DataFrame:
    """RAG-style sliding-window chunking: each document becomes
    ⌈(n-chunk)/step⌉+1 overlapping chunks (step = chunk_tokens −
    overlap), the standard retrieval-index preprocessing. Pure Catalyst:
    token array → ``sequence`` of window starts → ``posexplode`` →
    ``slice``+``array_join`` — everything inside codegen, the only
    fan-out is the chunk explode itself (bounded by n/step + 1 rows per
    doc). Zero-token documents yield no chunks. Returns
    (id, chunk_id, n_chunk_tokens, chunk_text)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = df.select(F.col(id_col), tokens_col(text_col).alias("t")).withColumn(
        "n", F.size("t")
    )
    # last window start: 0 for n <= chunk, else step * ceil((n-chunk)/step)
    last_start = F.when(
        F.col("n") <= chunk_tokens, F.lit(0)
    ).otherwise(
        F.ceil((F.col("n") - F.lit(chunk_tokens)) / F.lit(step)).cast("long")
        * F.lit(step)
    )
    out = (
        toks.where(F.col("n") > 0)
        .withColumn("starts", F.sequence(F.lit(0).cast("long"), last_start, F.lit(step)))
        .select(
            id_col,
            "t",
            "n",
            F.posexplode("starts").alias("chunk_id", "start"),
        )
        .withColumn(
            "chunk_toks",
            F.slice("t", F.col("start").cast("int") + 1, chunk_tokens),
        )
    )
    return out.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("chunk_toks").cast("long").alias("n_chunk_tokens"),
        F.array_join("chunk_toks", " ").alias("chunk_text"),
    )


def packed_chunk_stats(packed: DataFrame, ctx_len: int) -> DataFrame:
    """Per-chunk occupancy from :func:`pack_sequences` output:
    (chunk, n_docs, n_tokens). A document spanning k chunks contributes
    to each; token attribution clips its span to the chunk window. The
    explode fans out only (doc → its chunk range) — bounded by
    n_tokens/ctx_len + 1 rows per doc."""
    spans = packed.where(F.col("first_chunk").isNotNull()).select(
        "token_offset",
        "n_tokens",
        F.explode(F.sequence("first_chunk", "last_chunk")).alias("chunk"),
    )
    start = F.greatest(F.col("token_offset"), F.col("chunk") * ctx_len)
    end = F.least(
        F.col("token_offset") + F.col("n_tokens"), (F.col("chunk") + 1) * ctx_len
    )
    return (
        spans.groupBy("chunk")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(end - start).alias("n_tokens"),
        )
        .orderBy("chunk")
    )
