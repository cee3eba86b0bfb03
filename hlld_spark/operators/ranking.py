"""Lexical ranking over document corpora — BM25 (Robertson/Sparck
Jones, the Okapi formulation with the +1 idf floor) and TF-IDF term
weighting. PURE CATALYST: tokenize with ``regexp_extract_all``,
explode, aggregate, broadcast-join the (tiny) per-term statistics —
no Python in the hot path, and the only corpus-sized shuffle carries
(doc_id, term, tf) rows for the QUERY'S terms alone (the explode is
filtered before any exchange).

Why it's here: a training-data pipeline uses lexical ranking for
targeted corpus slicing ("pull the top-k docs about X for inspection"),
contamination triage, and as the cheap candidate generator in front of
embedding rerankers. At 10^12 docs the BM25 plan is scan + filtered
explode + two small aggregations — no join touches full rows.

Scoring (mirrored exactly by the driver gate's DuckDB oracle):
    idf(t)  = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)
    s(d, q) = sum_t idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

Reference parity note: the reference (hlld) has no text ranking; this
is a brief-mandated pipeline companion (text analysis layer).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

TOKEN_PATTERN = "[a-z0-9]+"


def tokens_col(text: str | Column) -> Column:
    """Lower-cased alnum tokens — the documented tokenization shared by
    every ranking function and by the SQL oracle."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_PATTERN), F.lit(0))


def corpus_stats(docs: DataFrame, text_col: str = "text") -> tuple[int, float]:
    """(N docs, average token length) — one small aggregate."""
    row = (
        docs.select(F.size(tokens_col(text_col)).alias("__dl"))
        .agg(F.count("*").alias("n"), F.avg("__dl").alias("avgdl"))
        .collect()[0]
    )
    return int(row["n"]), float(row["avgdl"])


def bm25_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25 for a bag of query terms. Returns
    (id, bm25) ordered by (bm25 desc, id); scores rounded to 4 places
    so cross-engine float summation order can't flip a digit.

    Plan shape: tokenize projection → explode FILTERED to the query's
    terms (everything else drops before any exchange) → tf aggregation
    on (doc, term) → broadcast join of the per-term doc frequencies →
    per-doc sum → TakeOrdered k. Shuffle volume is bounded by the
    number of query-term OCCURRENCES, not the corpus size."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    n_docs, avgdl = corpus_stats(docs, text_col)
    toks = docs.select(
        F.col(id_col), tokens_col(text_col).alias("__toks")
    ).withColumn("__dl", F.size("__toks"))
    hits = toks.select(id_col, "__dl", F.explode("__toks").alias("term")).filter(
        F.col("term").isin(terms)
    )
    tf = hits.groupBy(id_col, "__dl", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("__dl") / avgdl)
    contrib = idf * F.col("tf") * (k1 + 1.0) / denom
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .groupBy(id_col)
        .agg(F.round(F.sum(contrib), 4).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.col(id_col)).limit(k)

