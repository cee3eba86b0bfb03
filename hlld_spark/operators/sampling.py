"""Deterministic sampling and blocklist filtering — pure Catalyst.

Two standard corpus-curation stages:

* **Stratified deterministic sampling** (language/domain rebalancing —
  the "keep 10% of English, all of Tamil" step every multilingual
  pretraining mix runs). Membership is a PURE FUNCTION of (key, seed):
  keep a row iff the first 8 hex chars of ``md5(key || ':' || seed)``
  fall below the stratum's threshold. No RNG state, no sampling
  nondeterminism, resumable across runs and engines — md5 hex is
  byte-identical in Spark and DuckDB, so the driver gate checks exact
  membership, not just counts. Fixed-width lowercase hex compares
  lexicographically = numerically, so the filter is one string
  comparison inside codegen.

* **Blocklist filtering** (the C4 "bad words" stage): one compiled
  alternation of ESCAPED literal terms with word boundaries, counted
  and filtered inside whole-stage codegen. Patterns stay in the
  Java-regex ∩ RE2 common subset (same contract as operators/pii.py).

Reference scope note: armon/hlld has neither; LLM-pipeline layer.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

_HEX_WIDTH = 8
_HEX_SPACE = 16 ** _HEX_WIDTH


def sample_threshold_hex(fraction: float) -> str:
    """Fixed-width lowercase hex threshold t with
    P[substr(md5, 1, 8) < t] == round(fraction * 16^8) / 16^8.
    fraction=1.0 returns 'g'*8, which sorts above every hex digest —
    keep-all without a special case in the filter."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    if fraction == 1.0:
        return "g" * _HEX_WIDTH
    return format(int(round(fraction * _HEX_SPACE)), f"0{_HEX_WIDTH}x")


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling: ``fractions`` maps stratum
    value → keep fraction; unlisted strata keep ``default_fraction``.
    One CASE expression — no shuffle, no RNG."""
    hexcol = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}"))),
        1,
        _HEX_WIDTH,
    )
    keep = None
    for value, frac in sorted(fractions.items()):
        clause = (F.col(strata_col) == F.lit(value)) & (
            hexcol < F.lit(sample_threshold_hex(frac))
        )
        keep = clause if keep is None else keep | clause
    listed = F.col(strata_col).isin(list(fractions.keys()))
    other = (~listed) & (hexcol < F.lit(sample_threshold_hex(default_fraction)))
    keep = other if keep is None else keep | other
    return df.where(keep)


def blocklist_pattern(terms: list[str], word_boundaries: bool = True) -> str:
    """One alternation regex of escaped literal terms (sorted longest
    first so overlapping terms match maximally), optionally \\b-bounded.
    Stays in the Java-regex ∩ RE2 common subset."""
    if not terms:
        raise ValueError("empty blocklist")

    def one(t: str) -> str:
        body = re.escape(t)
        if word_boundaries and t:
            # \b only where the term EDGE is a word char — 'c++' ends
            # non-word, so a trailing \b could never match there
            if re.match(r"\w", t[0]):
                body = r"\b" + body
            if re.match(r"\w", t[-1]):
                body = body + r"\b"
        return body

    alts = "|".join(one(t) for t in sorted(terms, key=len, reverse=True))
    return f"(?:{alts})"


def with_blocklist_hits(
    df: DataFrame,
    text_col: str,
    terms: list[str],
    out_col: str = "blocklist_hits",
    case_insensitive: bool = True,
    word_boundaries: bool = True,
) -> DataFrame:
    """Count blocklist matches per document (one regexp_count inside
    codegen)."""
    pat = blocklist_pattern(terms, word_boundaries)
    if case_insensitive:
        pat = "(?i)" + pat
    return df.withColumn(out_col, F.regexp_count(F.col(text_col), F.lit(pat)))


def filter_blocklist(
    df: DataFrame,
    text_col: str,
    terms: list[str],
    max_hits: int = 0,
    **kwargs,
) -> DataFrame:
    """Drop documents with more than ``max_hits`` blocklist matches
    (C4 drops on ANY hit: max_hits=0)."""
    out = with_blocklist_hits(df, text_col, terms, "__bl_hits", **kwargs)
    return out.where(F.col("__bl_hits") <= max_hits).drop("__bl_hits")


def mix_corpora(
    sources: dict[str, DataFrame],
    weights: dict[str, float],
    key_col: str,
    seed: int = 0,
    source_col: str = "source",
    copy_col: str = "copy",
) -> DataFrame:
    """Weighted training-data mixing (the Pile/Dolma source-weighting
    step): ``weights[name]`` is the EXPECTED NUMBER OF COPIES of each
    row from that source in the mix — <1 subsamples, >1 upsamples with
    fractional epochs (2.5 = two full passes plus a deterministic half).
    Every row's copy count is a pure function of (key, seed, source):
    ``floor(w)`` copies always, plus one more iff the row's md5 hash
    fraction falls under ``w - floor(w)`` — no RNG state, identical
    across engines and reruns, so membership is exactly auditable.
    Output = union of the replicated sources, tagged ``source_col``
    and a 0-based ``copy_col`` epoch index.

    Scale shape: one narrow map per source (hash + conditional
    array-explode inside codegen), a union, no shuffle, no driver
    traffic; Catalyst pushes the per-source column pruning into each
    scan. Schemas must match across sources (union semantics).
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    if set(sources) != set(weights):
        raise ValueError("sources and weights must have identical keys")
    out = None
    for name in sorted(sources):
        w = weights[name]
        if w < 0:
            raise ValueError(f"weight for {name!r} must be >= 0")
        whole = int(w)
        frac = w - whole
        hexcol = F.substring(
            F.md5(
                F.concat(
                    F.col(key_col).cast("string"), F.lit(f":{seed}:{name}")
                )
            ),
            1,
            _HEX_WIDTH,
        )
        ncopies = F.lit(whole) + (
            hexcol < F.lit(sample_threshold_hex(frac))
        ).cast("int")
        part = (
            sources[name]
            .withColumn(source_col, F.lit(name))
            .withColumn(
                copy_col,
                F.explode(
                    F.when(
                        ncopies > 0, F.sequence(F.lit(0), ncopies - F.lit(1))
                    ).otherwise(F.array().cast("array<int>"))
                ),
            )
        )
        out = part if out is None else out.unionByName(part)
    return out
