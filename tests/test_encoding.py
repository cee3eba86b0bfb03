"""Encoding repair (mojibake inversion) — operators/encoding.py.

Truth direction: tests corrupt pristine text with the FORWARD transform
(utf-8 bytes decoded as cp1252 / latin-1) and assert the repair returns
the pristine original — the repair code never generates its own truth.
"""

import re

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings, strategies as st

from hlld_spark.operators.encoding import (
    _SUSPECT_RE,
    fix_mojibake,
    mojibake_corrupt,
    repair_text_batch,
    with_encoding_repair,
    write_mojibake_fixture,
)
from tests.test_ascii_fastpath import text_batches

PRISTINE = [
    "café crème brûlée",
    "naïve façade — señor João",
    "it’s “curly quoted” …",
    "€99 • ±5% · Zürich–Genève",
    "MIXED ascii AND é",
]


@pytest.mark.parametrize("text", PRISTINE)
def test_single_cp1252_roundtrip(text):
    corrupted = mojibake_corrupt(text, "cp1252", 1)
    assert corrupted != text  # every pristine sample is non-ascii
    fixed, rounds = fix_mojibake(corrupted)
    assert fixed == text
    assert rounds == 1


@pytest.mark.parametrize("text", PRISTINE)
def test_double_cp1252_roundtrip(text):
    fixed, rounds = fix_mojibake(mojibake_corrupt(text, "cp1252", 2))
    assert fixed == text
    assert rounds == 2


@pytest.mark.parametrize("text", PRISTINE)
def test_latin1_roundtrip(text):
    fixed, rounds = fix_mojibake(mojibake_corrupt(text, "latin1", 1))
    assert fixed == text
    assert rounds == 1


def test_emoji_and_cjk_survive_corruption_and_repair():
    # 4-byte utf-8 (emoji) hits cp1252's unmapped bytes; CJK is 3-byte.
    for text in ["smiley 😀 end", "日本語テキスト", "русский текст"]:
        fixed, rounds = fix_mojibake(mojibake_corrupt(text, "cp1252", 1))
        assert fixed == text and rounds == 1


def test_clean_text_is_fixpoint():
    # ascii: corruption is the identity; repair must not touch it.
    assert fix_mojibake("plain ascii, nothing else.") == ("plain ascii, nothing else.", 0)
    # genuinely clean non-ascii text must NOT be "repaired" away: chars
    # outside latin-1/cp1252 stop round 0 at the encode step...
    assert fix_mojibake("日本語テキスト") == ("日本語テキスト", 0)
    # ...and latin-1-only text fails the strict-utf-8 / shrink gates.
    for text in PRISTINE:
        fixed, rounds = fix_mojibake(text)
        assert (fixed, rounds) == (text, 0), text


def test_max_rounds_cap():
    wrecked = mojibake_corrupt("café", "cp1252", 3)
    fixed, rounds = fix_mojibake(wrecked, max_rounds=2)
    assert rounds == 2
    assert fixed == mojibake_corrupt("café", "cp1252", 1)  # one layer left
    assert fix_mojibake(wrecked, max_rounds=3) == ("café", 3)


def test_batch_prefilter_and_nulls():
    out = repair_text_batch(
        pd.Series([mojibake_corrupt("café ’x", "cp1252"), "plain", None, "日本語"])
    )
    assert list(out["fixed"]) == ["café ’x", "plain", "", "日本語"]
    assert list(out["rounds"]) == [1, 0, 0, 0]


def test_prefilter_skips_pure_ascii_rows():
    # the suspect regex must never select ascii rows (the scale claim).
    vals = pd.Series(["only ascii %d" % i for i in range(100)])
    assert not vals.str.contains("[Â-ô]", regex=True).any()


#: latin-1 letters inside and at both edges of the suspect range
#: (U+00C1 | U+00C2 .. U+00F4 | U+00F5), cp1252-only punctuation, and
#: the identity chars of cp1252's unmapped bytes
_REPAIR_CHARS = "ÁÂÃâéüñçßôõ€’“”•–—…\x81\x8d\x9d"
_CORRUPTIONS = (None, ("cp1252", 1), ("cp1252", 2), ("latin1", 1))


@settings(max_examples=200, deadline=None)
@given(text_batches(_REPAIR_CHARS), st.data())
def test_batch_repair_matches_per_row_fix(batch, data):
    """Differential: ``repair_text_batch`` (prefilter, then repair of
    the suspect rows) equals per-row ``fix_mojibake`` (NULL read as "")
    over clean and mojibake-corrupted text, and the Arrow path's RE2
    prefilter (``pc.match_substring_regex`` after ``fill_null``, as in
    ``with_encoding_repair``) selects exactly the rows Python ``re``
    does."""
    clean = batch[1]
    ops = data.draw(st.lists(st.sampled_from(_CORRUPTIONS), min_size=len(clean), max_size=len(clean)))
    texts = [t if t is None or op is None else mojibake_corrupt(t, *op) for t, op in zip(clean, ops)]
    filled = [t or "" for t in texts]
    out = repair_text_batch(pd.Series(texts, dtype=object))
    assert list(zip(out["fixed"], out["rounds"].tolist())) == [fix_mojibake(t) for t in filled]
    re2 = pc.match_substring_regex(pc.fill_null(pa.array(texts, pa.string()), ""), _SUSPECT_RE)
    assert re2.to_pylist() == [re.search(_SUSPECT_RE, t) is not None for t in filled]


def test_fixture_exact_inverse(tmp_path):
    path = str(tmp_path / "mojibake.parquet")
    write_mojibake_fixture(path, 120)
    df = pd.read_parquet(path)
    assert len(df) == 120
    assert (df["rounds"] > 0).any() and (df["rounds"] == 0).any()
    for _, row in df.iterrows():
        fixed, rounds = fix_mojibake(row["text"])
        assert fixed == row["clean_text"]
        assert rounds == row["rounds"]


def test_spark_with_encoding_repair(spark):
    rows = [
        (0, mojibake_corrupt("café crème", "cp1252", 1)),
        (1, "plain ascii"),
        (2, mojibake_corrupt("it’s “quoted”", "cp1252", 2)),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_fixed"], r["mojibake_rounds"])
        for r in with_encoding_repair(df).collect()
    }
    assert got[0] == ("café crème", 1)
    assert got[1] == ("plain ascii", 0)
    assert got[2] == ("it’s “quoted”", 2)
    assert got[3] == ("", 0)


# ---------------------------------------------------------------------------
# HTML entity decoding
# ---------------------------------------------------------------------------

from hlld_spark.operators.encoding import (  # noqa: E402
    unescape_html_batch,
    with_html_unescape,
    write_entities_fixture,
)


def test_unescape_batch_matches_stdlib():
    import html

    cases = [
        "fish &amp; chips",
        "caf&eacute; &#233; &#xe9;",
        "a &lt; b &amp;&amp; b &gt; c",
        "no entities at all",
        "bare & ampersand and &fake; unknown",
        "&quot;quoted&quot; &#39;apos&#39;",
        None,
    ]
    got = unescape_html_batch(pd.Series(cases, dtype=object))
    for src, out in zip(cases, got):
        if src is None:
            assert out is None
        else:
            assert out == html.unescape(src)


def test_unescape_prefilter_skips_clean_rows():
    # rows without '&' must be returned IDENTICAL objects (prefilter
    # never touches them), proving the fast path short-circuits
    clean = "plain text no entity"
    s = pd.Series([clean, "x &amp; y"], dtype=object)
    out = unescape_html_batch(s)
    assert out[0] is s[0]
    assert out[1] == "x & y"


def test_entities_fixture_forward_transform(tmp_path):
    import html

    path = str(tmp_path / "ents.parquet")
    write_entities_fixture(path, 48)
    df = pd.read_parquet(path)
    assert len(df) == 48
    # every stored escaped text decodes back to the stored pristine text
    for _, row in df.iterrows():
        assert html.unescape(row["text"]) == row["clean_text"]
    # fixture contains genuine fixpoints AND genuinely escaped rows
    assert (df["text"] == df["clean_text"]).any()
    assert (df["text"] != df["clean_text"]).any()


def test_spark_with_html_unescape(spark):
    rows = [
        (0, "fish &amp; chips"),
        (1, "clean row"),
        (2, "&#x63;af&#233; &lt;b&gt;"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in with_html_unescape(df).collect()}
    assert got[0] == "fish & chips"
    assert got[1] == "clean row"
    assert got[2] == "café <b>"
    assert got[3] is None
