"""Text-analysis operators for training-data pipelines.

All hot paths are JVM-side Catalyst expressions where the semantics
allow (token counting, quality ratios — whole-stage-codegen'd, no
Python); Python appears only where set/hash semantics require it
(language ID profiles, rolling-hash fingerprints), always Arrow-batched.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType, StringType

from ..core.hashing import hll_hash

_U64 = np.uint64

# ---------------------------------------------------------------------------
# token counting — pure Catalyst
# ---------------------------------------------------------------------------

# BPE-ish pre-tokenizer: runs of letters, runs of digits, single
# punctuation — the GPT-2-style regex family, simplified to RE2-safe form
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """whitespace_tokens: split on runs of whitespace;
    bpe_tokens: regexp matches of the BPE-ish pre-tokenizer. Both JVM-side."""
    t = F.col(text_col)
    ws = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(F.split(F.trim(t), r"\s+")))
    bpe = F.size(F.expr(f"regexp_extract_all({text_col}, '{_BPE_RE}', 0)"))
    return df.withColumn("whitespace_tokens", ws).withColumn("bpe_tokens", bpe)


# ---------------------------------------------------------------------------
# quality scoring — pure Catalyst
# ---------------------------------------------------------------------------

_STOPWORDS = "the of and to in a is that it for on with as at by an be this from or are".split()


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality features + composite score:
    length, mean word length, punctuation/digit/space ratios, stopword
    ratio (English stopword list), all whole-stage-codegen."""
    t = F.col(text_col)
    length = F.length(t)
    safe_len = F.greatest(length, F.lit(1))
    n_words = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(F.split(F.trim(t), r"\s+")))
    safe_words = F.greatest(n_words, F.lit(1))
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    digits = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    lower = F.lower(t)
    stop_hits = F.size(F.filter(F.split(F.trim(lower), r"\s+"), lambda w: w.isin(*_STOPWORDS)))
    mean_word_len = (length - (safe_words - 1)) / safe_words
    df = (
        df.withColumn("n_chars", length)
        .withColumn("n_words", n_words)
        .withColumn("punct_ratio", punct / safe_len)
        .withColumn("digit_ratio", digits / safe_len)
        .withColumn("stopword_ratio", stop_hits / safe_words)
        .withColumn("mean_word_len", mean_word_len)
    )
    # composite: reward moderate length & stopword presence, punish
    # punctuation/digit soup (C4/Gopher-style heuristics, simplified)
    score = (
        F.least(F.col("n_words") / 100.0, F.lit(1.0)) * 0.4
        + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.3
        + (1.0 - F.least(F.col("punct_ratio") * 5.0, F.lit(1.0))) * 0.2
        + (1.0 - F.least(F.col("digit_ratio") * 5.0, F.lit(1.0))) * 0.1
    )
    return df.withColumn("quality_score", F.round(score, 6))


# ---------------------------------------------------------------------------
# repetition signals — pure Catalyst (Gopher-style quality filters)
# ---------------------------------------------------------------------------


def with_repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals, all JVM-side (zero
    Python, zero shuffle, whole-stage-codegen):

    * ``n_words`` / ``n_distinct_words`` — whitespace tokens and their
      distinct count (``array_distinct`` on the split, no explode)
    * ``dup_word_ratio`` — fraction of tokens that repeat an earlier
      token; the classic "duplicate word fraction" repetition filter
    * ``dup_line_ratio`` — same over newline-split lines (boilerplate /
      template detection); 0.0 for single-line docs

    Heavy repetition (ratio near 1) marks low-quality generated or
    templated text — filter with e.g. ``dup_word_ratio < 0.7``."""
    t = F.col(text_col)
    empty = F.length(F.trim(t)) == 0
    words = F.split(F.trim(t), r"\s+")
    n_words = F.when(empty, F.lit(0)).otherwise(F.size(words))
    n_distinct = F.when(empty, F.lit(0)).otherwise(F.size(F.array_distinct(words)))
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    n_distinct_lines = F.size(F.array_distinct(lines))
    df = (
        df.withColumn("n_words", n_words)
        .withColumn("n_distinct_words", n_distinct)
        .withColumn(
            "dup_word_ratio",
            F.round(
                F.when(n_words > 0, 1.0 - n_distinct / n_words).otherwise(F.lit(0.0)), 6
            ),
        )
        .withColumn(
            "dup_line_ratio",
            F.round(
                F.when(n_lines > 0, 1.0 - n_distinct_lines / n_lines).otherwise(F.lit(0.0)), 6
            ),
        )
    )
    return df


# ---------------------------------------------------------------------------
# language ID — n-gram profile heuristic (Arrow-batched)
# ---------------------------------------------------------------------------

# tiny per-language marker profiles: common function words + distinctive
# character ranges; deterministic and self-contained (public linguistics
# common knowledge, not a trained model)
_LANG_MARKERS = {
    "en": ["the ", " and ", " of ", " to ", " is ", " that "],
    "es": [" de ", " la ", " que ", " el ", " en ", " los "],
    "de": [" der ", " die ", " und ", " das ", " ist ", " nicht "],
    "fr": [" le ", " de ", " et ", " la ", " les ", " des "],
    "pt": [" de ", " que ", " e ", " do ", " da ", " em "],
    "it": [" di ", " che ", " il ", " la ", " per ", " non "],
    "nl": [" de ", " het ", " een ", " en ", " van ", " niet "],
    "ru": None,  # script-range detection
    "ja": None,
    "zh": None,
}


_MARKER_LANGS = [lang for lang, m in _LANG_MARKERS.items() if m]


def _lang_id_batch(texts) -> pa.Array:
    """Whole-batch vectorized language ID of a text batch (anything
    ``dedup._text_array`` takes), as an Arrow string array — no
    per-document Python loop:

    * marker profiles: shifted byte-compares over the batch's Arrow
      UTF-8 bytes, space-padded and NUL-separated per doc
      (``lang_profiles._space_joined``: pads let edge markers match, the
      NUL blocks cross-doc matches); each ASCII marker costs len(marker)
      vectorized equality passes, and match positions attribute to docs
      via searchsorted on the doc starts. ASCII case-folding is one
      in-place pass on the bytes. Counts all (incl. overlapping)
      occurrences — a deliberate, documented simplification vs
      str.count's non-overlap rule (marker multiplicity only nudges
      scores, never flips a clean classification).
    * script ratios (ru/ja/zh): ``lang_profiles._script_ratios`` over
      the batch's code points; an all-ASCII batch has none.
    """
    from .dedup import _code_points, _text_array, _utf8_values
    from .lang_profiles import _SCRIPT_LANGS, _space_joined, _script_ratios

    col = _text_array(texts)
    n_docs = len(col)
    if n_docs == 0:
        return pa.array([], type=pa.string())
    data, blens = _utf8_values(col)
    cps, lens = _code_points(col)
    # --- marker scores over the lowered byte buffer -----------------------
    buf, starts = _space_joined(data, blens)
    # ASCII case-fold in place (A-Z bytes never occur inside utf-8
    # multi-byte sequences, so this is utf-8-safe)
    upper = (buf >= 65) & (buf <= 90)
    buf[upper] += 32
    N = len(buf)
    scores = np.zeros((n_docs, len(_MARKER_LANGS)))
    for j, lang in enumerate(_MARKER_LANGS):
        for mk in _LANG_MARKERS[lang]:
            mb = np.frombuffer(mk.encode("utf-8"), dtype=np.uint8)
            L = len(mb)
            if N < L:
                continue
            m = buf[: N - L + 1] == mb[0]
            for k in range(1, L):
                m &= buf[k : N - L + 1 + k] == mb[k]
            pos = np.flatnonzero(m)
            if len(pos):
                docs = np.searchsorted(starts, pos, side="right") - 1
                np.add.at(scores[:, j], docs, 1.0)
    scores /= np.maximum(lens / 100.0, 1.0)[:, None]
    best_j = scores.argmax(axis=1)
    best_score = scores[np.arange(n_docs), best_j]
    marker_lang = np.array(_MARKER_LANGS, dtype=object)[best_j]
    out = np.where(best_score > 0, marker_lang, "und")
    ratios = _script_ratios(cps, lens)
    for lang, thr in (("zh", 0.3), ("ja", 0.05), ("ru", 0.3)):
        out = np.where(ratios[:, _SCRIPT_LANGS[lang]] > thr, lang, out)
    out = np.where(lens == 0, "und", out)
    return pa.array(out, type=pa.string())


def with_lang_id(df: DataFrame, text_col: str = "text", out: str = "lang_id") -> DataFrame:
    @F.arrow_udf(StringType())
    def lang_udf(t):
        return _lang_id_batch(t)

    return df.withColumn(out, lang_udf(F.col(text_col)))


# ---------------------------------------------------------------------------
# document fingerprinting — winnowed rolling hash (Arrow-batched)
# ---------------------------------------------------------------------------


def _rolling_fingerprints(texts: pd.Series, k: int = 8, window: int = 16) -> list:
    """Winnowing (Schleimer/Wilkerson/Aiken 2003): k-gram rolling hashes,
    keep the minimum in every sliding window → compact fingerprint set."""
    out = []
    B = _U64(1000003)
    for t in texts:
        b = np.frombuffer((t or "").encode("utf-8"), dtype=np.uint8).astype(np.uint64)
        if len(b) < k:
            out.append([int(x) for x in hll_hash([t or ""])[:1]])
            continue
        # polynomial rolling hash of every k-gram, fully vectorized:
        # h[i] = sum b[i+j] * B^(k-1-j)
        h = np.zeros(len(b) - k + 1, dtype=np.uint64)
        for j in range(k):
            h = h * B + b[j : len(b) - k + 1 + j]
        if len(h) <= window:
            out.append([int(h.min())])
            continue
        win = np.lib.stride_tricks.sliding_window_view(h, window)
        mins = win.min(axis=1)
        out.append(sorted({int(x) for x in mins}))
    return out


def with_fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprints",
                     k: int = 8, window: int = 16) -> DataFrame:
    @F.pandas_udf(ArrayType(LongType()))
    def fp_udf(t: pd.Series) -> pd.Series:
        return pd.Series([[np.int64(np.uint64(x).astype(np.int64)) for x in fp] for fp in _rolling_fingerprints(t, k, window)])

    return df.withColumn(out, fp_udf(F.col(text_col)))


def fingerprint_overlap_pairs(df: DataFrame, id_col: str, fp_col: str = "fingerprints",
                              min_shared: int = 2, max_doc_freq: int = 1000) -> DataFrame:
    """Docs sharing ≥ min_shared winnowed fingerprints (inverted-index
    join: explode → self-join on fingerprint → count shared).

    Fingerprints whose document frequency exceeds ``max_doc_freq`` are
    dropped before the self-join (broadcast anti-join — the hot set is
    tiny by construction: ≤ total_postings / max_doc_freq entries), so
    one ubiquitous shingle can't quadratic a bucket: each surviving
    posting list contributes ≤ max_doc_freq² pairs. Boilerplate common
    to >max_doc_freq docs is noise for overlap detection anyway (the
    same df-capping IDF intuition as winnowing itself)."""
    ex = df.select(F.col(id_col).alias("id"), F.explode(fp_col).alias("fp"))
    hot = ex.groupBy("fp").agg(F.count("*").alias("__df")).filter(F.col("__df") > max_doc_freq)
    ex = ex.join(F.broadcast(hot.select("fp")), "fp", "left_anti")
    a = ex.alias("a")
    b = ex.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


def hot_fingerprints(df: DataFrame, id_col: str, fp_col: str = "fingerprints",
                     max_doc_freq: int = 1000) -> DataFrame:
    """The fingerprints fingerprint_overlap_pairs would drop at this cap,
    with their document frequencies — for logging/inspection of what the
    cap excluded."""
    ex = df.select(F.col(id_col).alias("id"), F.explode(fp_col).alias("fp"))
    return ex.groupBy("fp").agg(F.count("*").alias("doc_freq")).filter(F.col("doc_freq") > max_doc_freq)


# ---------------------------------------------------------------------------
# line-wise quality filtering (RefinedWeb-style)
# ---------------------------------------------------------------------------


def filter_quality_lines(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    max_upper_ratio: float = 0.7,
    max_digit_ratio: float = 0.5,
    max_nav_words: int = 2,
    max_nav_chars: int = 15,
    max_removed_frac: float | None = None,
    frac_col: str = "removed_char_frac",
    out_col: str | None = None,
) -> DataFrame:
    """RefinedWeb-style LINE-wise cleanup (Penedo et al. 2023 §3.3:
    after boilerplate removal, surviving junk is line-shaped — caps-only
    nav crumbs, social counters, digit runs). Drops a line when it is

    * mostly uppercase (``[A-Z]``/``[A-Za-z]`` > ``max_upper_ratio``),
    * mostly digits (``[0-9]``/trimmed length > ``max_digit_ratio``),
    * a social counter (``"3 likes"``, ``"12 shares"`` …), or
    * a short nav crumb (≤ ``max_nav_words`` words AND ≤
      ``max_nav_chars`` chars — "Home", "Read more").

    Empty/whitespace lines pass through (formatting). Adds ``frac_col``
    = the fraction of CHARACTERS removed; if ``max_removed_frac`` is
    set, docs whose fraction exceeds it are dropped entirely (the
    RefinedWeb doc-level escalation: a page that is mostly junk lines
    is junk). Ratios are plain int-over-int IEEE divisions on ASCII
    classes, so the DuckDB oracle reproduces every comparison exactly.

    Pure Catalyst higher-order functions — zero exchange, zero Python.
    """
    out_col = out_col or text_col
    counter_re = r"^\s*\d+\s+(likes?|shares?|comments?|views?|points?|votes?)\s*$"

    def _keep(x):
        t = F.trim(x)
        letters = F.length(F.regexp_replace(x, "[^A-Za-z]", ""))
        uppers = F.length(F.regexp_replace(x, "[^A-Z]", ""))
        digits = F.length(F.regexp_replace(x, "[^0-9]", ""))
        words = F.size(F.split(t, r"\s+", -1))
        drop = (
            ((letters > 0) & (uppers / letters > F.lit(max_upper_ratio)))
            | (digits / F.length(t) > F.lit(max_digit_ratio))
            | x.rlike(counter_re)
            | ((words <= max_nav_words) & (F.length(t) <= max_nav_chars))
        )
        return (F.length(t) == 0) | ~drop

    arr = F.split(F.col(text_col), "\\Q" + sep + "\\E", -1)
    kept = F.array_join(F.filter(arr, _keep), sep)
    frac = F.when(
        F.length(F.col(text_col)) > 0,
        1.0 - F.length(kept) / F.length(F.col(text_col)),
    ).otherwise(F.lit(0.0))
    out = df.withColumn(frac_col, F.round(frac, 6)).withColumn(
        out_col,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(kept),
    )
    if max_removed_frac is not None:
        out = out.filter(
            F.col(text_col).isNull() | (F.col(frac_col) <= F.lit(max_removed_frac))
        )
    return out


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 §A.1.1)
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def with_gopher_signals(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The full Gopher document-quality rule set (Rae et al. 2021
    §A.1.1 — the filter Dolma/RefinedWeb/FineWeb all inherit), pure
    Catalyst. Adds integer signal columns plus one boolean per rule:

    * ``gopher_n_words`` / ``r_word_count`` — whitespace words in
      [min_words, max_words] (paper: [50, 100k]);
    * ``gopher_word_chars`` / ``r_mean_word_len`` — mean word length
      in [3, 10], tested as ``3·n ≤ chars ≤ 10·n`` (INTEGER arithmetic
      — no float division, so any engine replays it exactly);
    * ``gopher_symbols`` / ``r_symbol_ratio`` — ``#`` + ``...`` + ``…``
      occurrences, symbol-to-word ratio ≤ 0.1 as ``10·sym ≤ n``.
      DOCUMENTED DEVIATION from Rae'21 A.1.1 (ADVICE r6): the paper
      tests hash and ellipsis ratios SEPARATELY ("either ... greater
      than 0.1"); this combined test is strictly more aggressive
      (0.06 hash + 0.06 ellipsis fails here, passes the paper). The
      combined rule is this operator's frozen, oracle-replayed
      contract; splitting it would change gated outputs;
    * ``gopher_bullet_lines`` / ``r_bullet_lines`` — ≤ 90 % of lines
      start with a bullet (``10·b ≤ 9·lines``);
    * ``gopher_ellipsis_lines`` / ``r_ellipsis_lines`` — ≤ 30 % of
      lines end with an ellipsis (``10·e ≤ 3·lines``);
    * ``gopher_alpha_words`` / ``r_alpha_words`` — ≥ 80 % of words
      contain a letter (``5·a ≥ 4·n``);
    * ``gopher_stop_hits`` / ``r_stopwords`` — ≥ 2 distinct hits from
      the paper's 8-stopword set (exact lowercase token match);
    * ``gopher_pass`` — AND of the seven.

    Every signal is a plain integer over whitespace words / newline
    lines, and every rule is an integer comparison — zero Python, zero
    shuffle, all whole-stage-codegen. At 100 TB this is a map over the
    scan, fused with whatever else reads the text column.
    """
    t = text_col
    sig = {
        # words: split on whitespace, drop empties (handles '' and ragged spaces)
        "__gw": f"filter(split(trim({t}), '\\\\s+'), w -> length(w) > 0)",
        "__gl": f"split({t}, '\\n', -1)",
    }
    out = df
    for c, e in sig.items():
        out = out.withColumn(c, F.expr(e))
    hash_cnt = f"length({t}) - length(replace({t}, '#', ''))"
    dots_cnt = f"(length({t}) - length(replace({t}, '...', ''))) div 3"
    uell_cnt = f"length({t}) - length(replace({t}, '…', ''))"
    stop_hits = " + ".join(
        f"cast(array_contains(transform(__gw, w -> lower(w)), '{s}') as int)"
        for s in GOPHER_STOPWORDS
    )
    out = (
        out.withColumn("gopher_n_words", F.expr("size(__gw)"))
        .withColumn(
            "gopher_word_chars", F.expr("aggregate(__gw, 0, (a, w) -> a + length(w))")
        )
        .withColumn("gopher_symbols", F.expr(f"({hash_cnt}) + ({dots_cnt}) + ({uell_cnt})"))
        .withColumn("gopher_n_lines", F.expr("size(__gl)"))
        .withColumn(
            "gopher_bullet_lines",
            F.expr("size(filter(__gl, l -> l rlike '^\\\\s*([•‣▪*]|- )'))"),
        )
        .withColumn(
            "gopher_ellipsis_lines",
            F.expr("size(filter(__gl, l -> l rlike '(\\\\.\\\\.\\\\.|…)\\\\s*$'))"),
        )
        .withColumn(
            "gopher_alpha_words",
            F.expr("size(filter(__gw, w -> w rlike '[A-Za-z]'))"),
        )
        .withColumn("gopher_stop_hits", F.expr(stop_hits))
        .drop("__gw", "__gl")
    )
    n = F.col("gopher_n_words")
    rules = {
        "r_word_count": (n >= min_words) & (n <= max_words),
        "r_mean_word_len": (F.col("gopher_word_chars") >= 3 * n)
        & (F.col("gopher_word_chars") <= 10 * n),
        "r_symbol_ratio": 10 * F.col("gopher_symbols") <= n,
        "r_bullet_lines": 10 * F.col("gopher_bullet_lines") <= 9 * F.col("gopher_n_lines"),
        "r_ellipsis_lines": 10 * F.col("gopher_ellipsis_lines")
        <= 3 * F.col("gopher_n_lines"),
        "r_alpha_words": 5 * F.col("gopher_alpha_words") >= 4 * n,
        "r_stopwords": F.col("gopher_stop_hits") >= 2,
    }
    gate = F.lit(True)
    for name, cond in rules.items():
        out = out.withColumn(name, cond)
        gate = gate & cond
    return out.withColumn("gopher_pass", gate)


def gopher_filter(
    df: DataFrame, text_col: str = "text", **kwargs
) -> DataFrame:
    """Rows that pass all seven Gopher rules (signal columns dropped)."""
    sig = with_gopher_signals(df, text_col, **kwargs)
    extra = [c for c in sig.columns if c not in df.columns]
    return sig.filter(F.col("gopher_pass")).drop(*extra)


# ---------------------------------------------------------------------------
# C4 cleaning heuristics (Raffel et al. 2020, arXiv:1910.10683 §2.2)
# ---------------------------------------------------------------------------


def with_c4_signals(
    df: DataFrame,
    text_col: str = "text",
    min_sentences: int = 5,
    min_line_words: int = 3,
    out_col: str = "c4_text",
) -> DataFrame:
    """The C4 line/page heuristics (Raffel et al. 2020 §2.2), pure
    Catalyst. Line level — a line is RETAINED iff it

    * ends in a terminal punctuation mark (``. ! ?`` or a closing
      quote, the paper's rule),
    * contains at least ``min_line_words`` whitespace words (paper: 3),
    * does not contain the word ``javascript`` (case-insensitive).

    ``out_col`` is the page rebuilt from retained lines. Page level:

    * ``c4_n_sentences`` — terminal-punctuation marks in the RETAINED
      text (documented deviation: the paper used a sentence tokenizer;
      counting terminals is the standard engine-exact reimplementation)
      with ``r_min_sentences`` = count ≥ ``min_sentences`` (paper: 5);
    * ``r_no_lorem`` — no ``lorem ipsum`` (case-insensitive);
    * ``r_no_brace`` — no ``{`` (code pages);
    * ``c4_keep`` — AND of the three.

    (The paper's bad-word list and three-sentence-span dedup live in
    ``sampling.blocklist_filter`` and ``dedup.remove_duplicated_spans``.)
    All comparisons are integer counts — any engine replays them
    exactly; zero Python, zero shuffle, one codegen'd Project.
    """
    t = text_col
    keep = (
        f"l -> trim(l) rlike '[.!?\"”]$' "
        f"AND size(filter(split(trim(l), '\\\\s+'), w -> length(w) > 0)) >= {int(min_line_words)} "
        f"AND NOT lower(l) rlike 'javascript'"
    )
    out = (
        df.withColumn(
            out_col,
            F.expr(f"array_join(filter(split({t}, '\\n', -1), {keep}), '\\n')"),
        )
        .withColumn(
            "c4_n_sentences",
            F.expr(f"length(regexp_replace({out_col}, '[^.!?]', ''))"),
        )
        .withColumn("r_min_sentences", F.col("c4_n_sentences") >= int(min_sentences))
        .withColumn("r_no_lorem", ~F.lower(F.col(t)).contains("lorem ipsum"))
        .withColumn("r_no_brace", ~F.col(t).contains("{"))
    )
    return out.withColumn(
        "c4_keep",
        F.col("r_min_sentences") & F.col("r_no_lorem") & F.col("r_no_brace"),
    )


def c4_filter(df: DataFrame, text_col: str = "text", **kwargs) -> DataFrame:
    """Pages that survive the C4 heuristics, with ``text`` replaced by
    the retained lines (the paper's semantics: line filtering mutates
    the page, page rules then drop it whole)."""
    sig = with_c4_signals(df, text_col, **kwargs)
    extra = [c for c in sig.columns if c not in df.columns]
    return (
        sig.filter(F.col("c4_keep"))
        .withColumn(text_col, F.col("c4_text"))
        .drop(*extra)
    )


def write_weblines_fixture(path: str, n: int, seed: int = 23) -> str:
    """Deterministic line-junk fixture (idempotent): docs interleave
    real sentences with the junk shapes the line filter targets (caps
    nav, social counters, digit runs, short crumbs, empty lines).
    Truth is NOT stored — the driver oracle replays the rules in
    independent DuckDB SQL."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(path):
        return path
    junk = [
        "HOME ABOUT CONTACT US",
        "3 likes",
        "12 shares",
        "123456 7890",
        "Home",
        "Read more",
        "MENU",
        "42 comments",
        "v2",
        "",
    ]
    good = [
        "This is a normal sentence with mixed case words.",
        "Another fine line of body text, 2 numbers in it 42.",
        "short but has four words here",
        "NASA said the ISS orbit is fine today.",
        "A final good line mentioning 7 items and more.",
    ]
    rows = []
    for i in range(n):
        k = 4 + (i * seed) % 4
        lines = []
        for j in range(k):
            r = (i * 13 + j * 7 + seed) % 15
            lines.append(junk[r] if r < 10 else good[r - 10])
        rows.append((i, "\n".join(lines)))
    cols = {
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, path)
    return path
