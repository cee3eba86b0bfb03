"""Unicode normalization for crawl text — NFC/NFKC/NFD/NFKD.

Web text arrives in mixed normalization forms (decomposed accents from
mac filesystems and some CMSes, compatibility ligatures/fullwidth forms
from PDFs and CJK input methods). Every downstream content-hash
operator — exact dedup, paragraph dedup, decontamination grams,
MinHash shingles — treats ``e`` + COMBINING ACUTE and precomposed
``é`` as different strings, so normalization belongs at the very front
of the cleaning pipeline (NFC for identity-preserving canonical form;
NFKC when compatibility folding is wanted for matching).

Scale shape: per-partition map, no shuffle, no driver traffic. The
batch kernel calls ``unicodedata.is_normalized`` first — a C-speed
quick check that answers without allocating for ASCII and
already-normalized text (the overwhelming web majority) — so the
full ``normalize`` pass touches only the rare denormalized tail.

Reference scope note: armon/hlld has no text operators; LLM-pipeline
layer addition (companion to operators/encoding.py mojibake repair).
"""

from __future__ import annotations

import unicodedata

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

_FORMS = ("NFC", "NFKC", "NFD", "NFKD")


def normalize_batch(texts: pd.Series, form: str = "NFC") -> pd.Series:
    """Normalize one Arrow batch; nulls pass through as nulls."""
    if form not in _FORMS:
        raise ValueError(f"form must be one of {_FORMS}, got {form!r}")
    out = texts.to_numpy(dtype=object).copy()
    for j, s in enumerate(out):
        if isinstance(s, str) and not unicodedata.is_normalized(form, s):
            out[j] = unicodedata.normalize(form, s)
    return pd.Series(out)


def _normalize_arrow(texts, form: str = "NFC"):
    """:func:`normalize_batch` of an Arrow string array or chunked
    array, regular or large, as an Arrow array."""
    import pyarrow as pa

    from .dedup import _ascii_text_buffer

    col = texts.combine_chunks() if isinstance(texts, pa.ChunkedArray) else texts
    # an all-ASCII batch is invariant under every normalization form
    # (ASCII has no decompositions), so the input Arrow array passes
    # through untouched: no pandas conversion, no per-row Python
    if _ascii_text_buffer(col) is not None:
        return col
    return pa.Array.from_pandas(normalize_batch(col.to_pandas(), form), type=pa.string())


def with_unicode_normalization(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    out_col: str | None = None,
) -> DataFrame:
    """Add (or replace) ``out_col`` with the ``form``-normalized text."""
    if form not in _FORMS:
        raise ValueError(f"form must be one of {_FORMS}, got {form!r}")
    out_col = out_col or text_col

    from pyspark.sql.functions import arrow_udf

    @arrow_udf(StringType())
    def _norm(texts):
        return _normalize_arrow(texts, form)

    return df.withColumn(out_col, _norm(F.col(text_col)))


def write_unicode_fixture(path: str, n: int, seed: int = 13) -> str:
    """Deterministic mixed-normalization fixture (idempotent): per doc
    a sentence assembled from fragments that are deliberately NOT in
    NFC (combining marks, decomposed Hangul jamo) mixed with already-
    canonical text, compatibility characters NFC must NOT touch
    (ligatures, fullwidth, superscripts — they fold only under NFKC),
    and plain ascii. Truth is NOT stored: the driver oracle runs
    DuckDB's own ``nfc_normalize`` (utf8proc) against this engine's
    ``unicodedata`` kernel — two independent implementations."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(path):
        return path
    # NFD-decomposed fragments (built with explicit combining marks so
    # the file itself carries denormalized text)
    decomposed = [
        "café crème",          # e + combining acute/grave
        "über angström",       # u/o + combining diaeresis
        "ñandú piña",    # n + combining tilde
        "각 한",  # Hangul jamo -> syllables
        "Amelié fiancée",
    ]
    # already-NFC / must-stay-put under NFC (fold only under NFKC)
    stable = [
        "café crème déjà vu",
        "ﬁne ﬂight ligatures",             # U+FB01/U+FB02 survive NFC
        "ｆｕｌｌｗｉｄｔｈ text ①②③",        # fullwidth + circled digits
        "x² + y³ = z⁴",                    # superscripts survive NFC
        "plain ascii words only",
        "日本語テキスト",
    ]
    rows = []
    for i in range(n):
        a = decomposed[i % len(decomposed)]
        b = stable[(i * 7 + seed) % len(stable)]
        if i % 3 == 0:
            text = f"doc {i}: {a} and {b}."
        elif i % 3 == 1:
            text = f"doc {i}: {b} then {a}."
        else:
            text = f"doc {i}: {b}."  # already-normalized row (fast path)
        rows.append((i, text))
    cols = {
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, path)
    return path
