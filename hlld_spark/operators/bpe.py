"""Byte-pair-encoding tokenizer: distributed training + encoding.

Real token counting for an LLM corpus needs a real subword tokenizer,
not a whitespace proxy. This implements classic BPE (Sennrich et al.
2016) the way production trainers do:

  * the ONLY corpus-scale pass is word counting — a partial-aggregated
    groupBy whose exchange carries distinct words per task;
  * merge learning runs on the (word, count) table driver-side — pair
    statistics over the VOCABULARY weighted by counts, exactly
    equivalent to corpus-scale counting because BPE merges never cross
    word boundaries. ``max_words`` / ``min_count`` prune the long tail
    (its pair mass is negligible by Zipf; the knob is the honest
    100-TB bound, stated in the model);
  * encoding broadcasts the merge ranks and encodes each Arrow batch
    with per-distinct-word MEMOIZATION — web text repeats words
    heavily, so the per-word merge loop runs once per distinct word
    per batch, not once per occurrence.

Pre-tokenization deliberately reuses the engine-wide ``[a-z0-9]+``
lowercase tokenizer (operators/ranking.py) so BPE composes with BM25 /
LM / packing counts; a trailing ``</w>`` marker makes decoding exact.

Reference scope note: armon/hlld has no tokenizer; LLM-pipeline layer.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, StringType

from .ranking import TOKEN_PATTERN, tokens_col

END = "</w>"
_TOKEN_RE = re.compile(TOKEN_PATTERN)


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus (word, count) — the one distributed pass BPE needs."""
    return (
        df.select(F.explode(tokens_col(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _learn_merges(wc: dict[str, int], n_merges: int) -> list[tuple[str, str]]:
    """Classic BPE on a word-count dict. Deterministic: ties broken by
    lexicographic pair order."""
    words = {w: tuple(w) + (END,) for w in wc}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            c = wc[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        # deterministic: highest count, then LEXICOGRAPHICALLY SMALLEST pair
        top_count = max(pairs.values())
        if top_count < 2:
            break
        pair = min(p for p, c in pairs.items() if c == top_count)
        merges.append(pair)
        merged = pair[0] + pair[1]
        new_words = {}
        for w, syms in words.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == pair[0] and syms[i + 1] == pair[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words[w] = tuple(out)
        words = new_words
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 500,
    min_count: int = 1,
    max_words: int = 1_000_000,
) -> dict:
    """Train BPE merges: one distributed word-count pass, then merge
    learning on the (pruned) count table. Returns {merges, ranks,
    n_words_used, truncated}."""
    wc_df = word_counts(df, text_col)
    if min_count > 1:
        wc_df = wc_df.where(F.col("c") >= min_count)
    # bounded driver collect: top max_words by count (ties by word) —
    # deterministic AND Zipf-justified
    rows = (
        wc_df.orderBy(F.desc("c"), F.asc("word")).limit(max_words + 1).collect()
    )
    truncated = len(rows) > max_words
    rows = rows[:max_words]
    wc = {r["word"]: r["c"] for r in rows}
    merges = _learn_merges(wc, n_merges)
    return {
        "merges": merges,
        "ranks": {m: i for i, m in enumerate(merges)},
        "n_words_used": len(wc),
        "truncated": truncated,
    }


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> tuple[str, ...]:
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return tuple(syms)


def bpe_encode(
    df: DataFrame,
    text_col: str,
    model: dict,
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Add ``out_col``: the document's BPE token sequence (lowest-rank
    merge first — the canonical BPE inference order). Distinct words
    are memoized per Arrow batch."""
    ranks = model["ranks"]

    @F.pandas_udf(ArrayType(StringType()))
    def _enc(texts: pd.Series) -> pd.Series:
        cache: dict[str, tuple[str, ...]] = {}
        out = []
        for t in texts:
            toks: list[str] = []
            for w in _TOKEN_RE.findall((t or "").lower()):
                enc = cache.get(w)
                if enc is None:
                    enc = _encode_word(w, ranks)
                    cache[w] = enc
                toks.extend(enc)
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, _enc(F.col(text_col)))


def bpe_decode_col(tokens: F.Column) -> F.Column:
    """Inverse of :func:`bpe_encode` as a Column: concatenate tokens and
    turn each ``</w>`` marker back into a space (pure Catalyst)."""
    return F.trim(
        F.replace(F.array_join(tokens, ""), F.lit(END), F.lit(" "))
    )
