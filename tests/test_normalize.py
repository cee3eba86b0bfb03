"""Unicode normalization (operators/normalize.py) — kernel vs the
stdlib reference, null/fast-path behavior, Spark integration, and
cross-engine agreement with DuckDB's utf8proc implementation."""

import unicodedata

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from hlld_spark.operators.normalize import (
    _FORMS,
    _normalize_arrow,
    normalize_batch,
    with_unicode_normalization,
    write_unicode_fixture,
)
from tests.test_ascii_fastpath import ARROW_CONTAINERS, text_batches

DECOMPOSED = "café crème über 가"
COMPAT = "ﬁne ｆｕｌｌ x²"  # ligature/fullwidth/superscript


def test_nfc_composes_but_preserves_compat():
    out = normalize_batch(pd.Series([DECOMPOSED, COMPAT]), "NFC")
    assert out[0] == "café crème über 가"
    assert out[0] == unicodedata.normalize("NFC", DECOMPOSED)
    assert out[1] == COMPAT  # NFC must NOT fold compatibility chars


def test_nfkc_folds_compat():
    out = normalize_batch(pd.Series([COMPAT]), "NFKC")
    assert out[0] == "fine full x2"
    assert out[0] == unicodedata.normalize("NFKC", COMPAT)


def test_all_forms_match_stdlib():
    samples = [DECOMPOSED, COMPAT, "plain", "日本語", "한글 조합"]
    for form in ("NFC", "NFKC", "NFD", "NFKD"):
        out = normalize_batch(pd.Series(samples), form)
        for got, s in zip(out, samples):
            assert got == unicodedata.normalize(form, s)


def test_nulls_pass_through_and_bad_form_raises():
    out = normalize_batch(pd.Series([None, "x"]), "NFC")
    assert out[0] is None and out[1] == "x"
    with pytest.raises(ValueError):
        normalize_batch(pd.Series(["x"]), "nfc-ish")


@pytest.mark.parametrize("kind", ["string", "large_string", "slice", "chunked"])
def test_arrow_batch_matches_stdlib(kind):
    """The Arrow kernel, all-ASCII pass-through included, on regular,
    large, sliced and chunked batches."""
    for texts in (["plain", None, "", "ascii only"], [DECOMPOSED, "plain", None, COMPAT]):
        if kind == "large_string":
            batch = pa.array(texts, type=pa.large_string())
        elif kind == "slice":
            batch = pa.array(["pad é", *texts, "tail"]).slice(1, len(texts))
        elif kind == "chunked":
            batch = pa.chunked_array([pa.array(texts[:1]), pa.array(texts[1:])])
        else:
            batch = pa.array(texts)
        for form in ("NFC", "NFKD"):
            want = [None if t is None else unicodedata.normalize(form, t) for t in texts]
            assert _normalize_arrow(batch, form).to_pylist() == want


#: combining marks of several canonical classes (so NFC/NFD reorder
#: them), compatibility characters (ligature, circled digit, fullwidth,
#: superscript, roman numeral, squared unit), Hangul conjoining jamo
#: (L, V, T) beside precomposed syllables, and bases they attach to
_NORMALIZATION_CHARS = (
    "\u0300\u0301\u0308\u0323\u0327\u031b\u0345"
    "ﬁ①ｆ²Ⅳ㎏"
    "\u1100\u1161\u11a8\uac00\uac01"
    "aeoAEΑι"
)


@settings(max_examples=200, deadline=None)
@given(text_batches(_NORMALIZATION_CHARS, ARROW_CONTAINERS), st.sampled_from(_FORMS))
def test_arrow_kernel_matches_per_row_stdlib(batch, form):
    """Differential: the Arrow kernel equals per-row
    ``unicodedata.normalize`` on every Arrow batch shape, NULLs
    included, for each of the four forms."""
    arr, texts = batch
    want = [None if t is None else unicodedata.normalize(form, t) for t in texts]
    assert _normalize_arrow(arr, form).to_pylist() == want


def test_fixture_is_genuinely_denormalized(tmp_path):
    path = str(tmp_path / "uni.parquet")
    write_unicode_fixture(path, 90)
    df = pd.read_parquet(path)
    denorm = sum(
        0 if unicodedata.is_normalized("NFC", t) else 1 for t in df["text"]
    )
    assert denorm > 30  # a solid denormalized share
    assert denorm < len(df)  # and a fast-path share


def test_duckdb_cross_engine_agreement(tmp_path):
    """DuckDB's nfc_normalize is utf8proc; ours is CPython's
    unicodedata — two independent implementations must agree on the
    whole fixture (this is what the driver gate checks end-to-end)."""
    import duckdb

    path = str(tmp_path / "uni.parquet")
    write_unicode_fixture(path, 150)
    df = pd.read_parquet(path)
    con = duckdb.connect()
    duck = con.sql(
        f"select nfc_normalize(text) n from read_parquet('{path}') order by doc_id"
    ).df()["n"]
    ours = normalize_batch(df.sort_values("doc_id")["text"], "NFC")
    assert list(ours) == list(duck)


@pytest.mark.spark
def test_spark_with_unicode_normalization(spark):
    df = spark.createDataFrame(
        [(0, DECOMPOSED), (1, "ascii only"), (2, None)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["norm"]
        for r in with_unicode_normalization(df, "text", "NFC", "norm").collect()
    }
    assert got[0] == unicodedata.normalize("NFC", DECOMPOSED)
    assert got[1] == "ascii only"
    assert got[2] is None
