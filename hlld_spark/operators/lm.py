"""Distributed n-gram language model with stupid backoff + perplexity.

The CCNet-style quality signal for web corpora: train token-trigram
counts over a (clean) corpus, score every document's tokens with stupid
backoff (Brants et al. 2007, "Large Language Models in Machine
Translation" — the scheme built precisely for distributed trillion-token
counts: no discounting pass, score = relative frequency with a fixed
α-penalty per backoff level), and filter by perplexity. Documents whose
perplexity under the corpus model is extreme are boilerplate (too low)
or noise (too high) — the CCNet head/middle/tail split.

Spark-first shape: tokenization and per-position gram construction are
array expressions inside whole-stage codegen (``transform`` over the
token array — no window shuffle for neighbors); counts are
partial-aggregated groupBys of the gram streams; scoring is 5 equi-joins
of the position stream against the count tables (trigram, bigram ×2
keys, unigram ×2 keys). At web scale the count tables are the small
side after ``min_count`` pruning — broadcast them (``broadcast_counts``)
and the position stream never shuffles until the final per-doc
aggregation.

Scoring semantics (deterministic, oracle-exact):
  m_i = min(order, i+1)           # highest order available at position i
  S_i = c_k(gram_k) / c_{k-1}(context_k) for the LONGEST k ≤ m_i with
        c_k > 0 (k=1 denominator is the corpus token total N)
  penalty = α^(m_i - k); unseen unigram: S = α^(m_i - 1) · α / N
  avg_logp = mean over positions of log10(penalty · S_i)
  ppl = 10^(-avg_logp)

Reference scope note: armon/hlld has no LM; this is the LLM-pipeline
layer (SURVEY §2 companions), sharing the tokenizer with
operators/ranking.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .ranking import tokens_col

DEFAULT_ALPHA = 0.4


def _pos_stream(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per token position with the gram/context strings needed
    for trigram stupid backoff — built array-side (no neighbor window,
    no shuffle): (id, i, w, big, ctx3, ctx1, tri)."""
    return (
        df.select(F.col(id_col), tokens_col(text_col).alias("t"))
        .select(
            id_col,
            F.explode(
                F.expr(
                    "transform(t, (w, i) -> struct("
                    "  i AS i, w AS w,"
                    "  CASE WHEN i >= 1 THEN concat(t[i-1], ' ', w) END AS big,"
                    "  CASE WHEN i >= 2 THEN concat(t[i-2], ' ', t[i-1]) END AS ctx3,"
                    "  CASE WHEN i >= 1 THEN t[i-1] END AS ctx1,"
                    "  CASE WHEN i >= 2 THEN concat(t[i-2], ' ', t[i-1], ' ', w) END AS tri))"
                )
            ).alias("s"),
        )
        .select(id_col, "s.i", "s.w", "s.big", "s.ctx3", "s.ctx1", "s.tri")
    )


def ngram_counts(
    df: DataFrame, text_col: str, order: int, min_count: int = 1
) -> DataFrame:
    """Corpus counts of space-joined token ``order``-grams → (gram, c).
    Partial-aggregated: the exchange carries distinct grams per task.
    ``min_count`` pruning is the 100-TB knob — it bounds the count
    table to the broadcastable head (backed-off mass covers the tail,
    which is exactly stupid backoff's design point)."""
    toks = df.select(tokens_col(text_col).alias("t"))
    grams = toks.select(
        F.explode(
            F.expr(
                f"filter(transform(t, (w, i) -> CASE WHEN i >= {order - 1} THEN "
                f"array_join(slice(t, i - {order - 2}, {order}), ' ') END), "
                "g -> g IS NOT NULL)"
            )
        ).alias("gram")
    )
    out = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    if min_count > 1:
        out = out.where(F.col("c") >= min_count)
    return out


def train_stupid_backoff(
    df: DataFrame, text_col: str, min_count: int = 1
) -> dict[int, DataFrame]:
    """Count tables {1: unigrams, 2: bigrams, 3: trigrams} for
    :func:`stupid_backoff_scores`. Unigrams are never pruned (they are
    the backstop distribution); higher orders honor ``min_count``."""
    return {
        1: ngram_counts(df, text_col, 1),
        2: ngram_counts(df, text_col, 2, min_count),
        3: ngram_counts(df, text_col, 3, min_count),
    }


def stupid_backoff_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    counts: dict[int, DataFrame],
    total_tokens: int,
    alpha: float = DEFAULT_ALPHA,
    broadcast_counts: bool = False,
    round_digits: int | None = None,
) -> DataFrame:
    """Per-document stupid-backoff score → (id, n_tokens, avg_logp,
    ppl). ``total_tokens`` is the training corpus token total N (compute
    once: ``counts[1].agg(sum("c"))``). Set ``broadcast_counts`` when
    the pruned count tables fit in executor memory — the position
    stream then never shuffles before the final per-doc aggregation."""
    mark = F.broadcast if broadcast_counts else (lambda d: d)
    c1 = mark(counts[1].select(F.col("gram").alias("w"), F.col("c").alias("c1w")))
    c1x = mark(counts[1].select(F.col("gram").alias("ctx1"), F.col("c").alias("c1x")))
    c2 = mark(counts[2].select(F.col("gram").alias("big"), F.col("c").alias("c2b")))
    c2x = mark(counts[2].select(F.col("gram").alias("ctx3"), F.col("c").alias("c2x")))
    c3 = mark(counts[3].select(F.col("gram").alias("tri"), F.col("c").alias("c3t")))

    pos = _pos_stream(docs, id_col, text_col)
    j = (
        pos.join(c3, "tri", "left")
        .join(c2x, "ctx3", "left")
        .join(c2, "big", "left")
        .join(c1x, "ctx1", "left")
        .join(c1, "w", "left")
    )
    m = F.least(F.lit(3), F.col("i") + 1)
    n_tot = F.lit(float(total_tokens))
    score = (
        F.when(
            F.col("c3t").isNotNull() & F.col("c2x").isNotNull(),
            F.col("c3t") / F.col("c2x"),
        )
        .when(
            F.col("c2b").isNotNull() & F.col("c1x").isNotNull(),
            F.pow(F.lit(alpha), m - 2) * F.col("c2b") / F.col("c1x"),
        )
        .when(
            F.col("c1w").isNotNull(),
            F.pow(F.lit(alpha), m - 1) * F.col("c1w") / n_tot,
        )
        .otherwise(F.pow(F.lit(alpha), m - 1) * F.lit(alpha) / n_tot)
    )
    per_doc = j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg(F.log10(score)).alias("avg_logp"),
    )
    out = per_doc.withColumn("ppl", F.pow(F.lit(10.0), -F.col("avg_logp")))
    if round_digits is not None:
        out = out.withColumn("avg_logp", F.round("avg_logp", round_digits)).withColumn(
            "ppl", F.round("ppl", round_digits)
        )
    return out


def perplexity_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = DEFAULT_ALPHA,
    min_count: int = 1,
    broadcast_counts: bool = False,
    round_digits: int | None = None,
) -> DataFrame:
    """Self-scored corpus perplexity: train on ``df``, score ``df`` —
    the one-corpus form of the CCNet quality signal."""
    counts = train_stupid_backoff(df, text_col, min_count)
    total = counts[1].agg(F.sum("c")).collect()[0][0] or 0
    return stupid_backoff_scores(
        df, id_col, text_col, counts, total, alpha, broadcast_counts, round_digits
    )


def perplexity_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_ppl: float,
    min_ppl: float = 0.0,
    **kwargs,
) -> DataFrame:
    """Keep documents whose self-scored corpus perplexity lies in
    [min_ppl, max_ppl] — drop boilerplate (below) and noise (above)."""
    scores = perplexity_scores(df, id_col, text_col, **kwargs)
    keep = scores.where(
        (F.col("ppl") >= min_ppl) & (F.col("ppl") <= max_ppl)
    ).select(id_col)
    return df.join(keep, id_col, "left_semi")

