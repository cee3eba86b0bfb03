"""The char and token shingle kernels read one code-point buffer: the
Arrow UTF-8 value bytes when a batch is all ASCII (zero-copy), else one
whole-batch UTF-32 decode. These tests hold both kernels to pure-Python
definitions — k-code-point substrings and ``str.split()`` n-grams,
hashed per the poly/splitmix definition with the short-doc sentinel —
on adversarial batch shapes (empty, leading/trailing empty docs,
whitespace-only docs, NULLs, NULs, sliced and chunked Arrow, mixed
script, every ``str.split()`` separator, U+200B), and pin their output
bytes. ``text_batches`` also drives the lang-id kernels' tests.
"""

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from hlld_spark.operators.dedup import (
    _POLY_B,
    _WS_TABLE,
    _ascii_text_buffer,
    _char_shingle_hashes,
    _grams,
    _shingle_hashes,
    _token_shingle_hashes,
)
from hlld_spark.operators.lang_profiles import _WORDS

_M64 = (1 << 64) - 1


def _poly(vals) -> int:
    h = 0
    for v in vals:
        h = (h * int(_POLY_B) + int(v)) & _M64
    return h


def _splitmix(z: int) -> int:
    z = (z + 0x9E3779B97F4A7C15) & _M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    return z ^ (z >> 31)


def _windows(units: list, k: int) -> list[int]:
    """splitmix(poly) of every length-k window, or ONE whole-doc
    sentinel when the doc has fewer than k units."""
    if len(units) < k:
        return [_splitmix(_poly(units))]
    return [_splitmix(_poly(units[i : i + k])) for i in range(len(units) - k + 1)]


def _reference(texts, k: int, unit: str):
    """(hashes, offsets, per-doc unit counts) by definition: k-char
    substrings of the code points, or k-grams of ``str.split()`` tokens
    whose own hash is splitmix(poly(code points))."""
    out, offs, units = [], [0], []
    for t in texts:
        t = t or ""
        if unit == "char":
            u = [ord(c) for c in t]
        else:
            u = [_splitmix(_poly(ord(c) for c in tok)) for tok in t.split()]
        out += _windows(u, k)
        offs.append(len(out))
        units.append(len(u))
    return np.array(out, dtype=np.uint64), np.array(offs), np.array(units)


_KERNELS = {"char": _char_shingle_hashes, "token": _token_shingle_hashes}


def _assert_matches_reference(batch, texts, k, unit):
    h, o, u = _KERNELS[unit](batch, k)
    rh, ro, ru = _reference(texts, k, unit)
    assert h.dtype == np.uint64
    np.testing.assert_array_equal(u, ru)
    np.testing.assert_array_equal(o, ro)
    np.testing.assert_array_equal(h, rh)


# --- adversarial batch shapes ----------------------------------------------

#: every str.split() separator: ASCII \t\n\v\f\r, FS/GS/RS/US and space,
#: then NEL, NBSP, OGHAM, U+2000-200A, LS, PS, NNBSP, MMSP, U+3000
_WS = "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680" + "".join(
    chr(c) for c in range(0x2000, 0x200B)
) + "\u2028\u2029\u202f\u205f\u3000"
_ASCII_WS = _WS[:10]
#: mixed script, non-separators that look like one (U+200B, U+FEFF,
#: U+180E), astral code points
_MIXED = "abz09.,éÿЖж日本のテم\u200b\ufeff\u180e\U0001d518\U0001f600"

#: case pairs that lower() does not map one to one: a dotted capital I
#: lowers to two code points, a capital sigma to a final or medial sigma
_CASE = "İΣς"
#: the profile kernel's function words, so lang-id batches hold matches
_PROFILE_WORDS = sorted({w for ws in _WORDS.values() for w in ws[:12]})
_PRINTABLE = "".join(map(chr, range(0x20, 0x7F)))

_ascii_docs = st.one_of(
    st.none(),
    st.just(""),
    st.text(alphabet=_ASCII_WS, min_size=1, max_size=4),
    st.text(alphabet=_PRINTABLE + _ASCII_WS + "\x00", max_size=24),
    st.lists(st.sampled_from([w for w in _PROFILE_WORDS if w.isascii()]), max_size=8).map(" ".join),
)
_mixed_docs = st.one_of(
    st.none(),
    st.just(""),
    st.text(alphabet=_WS, min_size=1, max_size=4),
    st.text(alphabet=_MIXED + _CASE + _WS + "\x00", max_size=24),
    st.lists(st.sampled_from(_PROFILE_WORDS + list(_CASE) + ["\x00"]), max_size=8).map(" ".join),
    # script-dense docs, so the lang-id script-ratio rules fire and overlap
    st.text(alphabet="日本のテЖжΣςم a", max_size=12),
)
ARROW_CONTAINERS = ("arrow", "large_arrow", "slice", "chunked")
_CONTAINERS = ("list", "pandas") + ARROW_CONTAINERS


@st.composite
def text_batches(draw, extra_alphabet: str = "", containers=_CONTAINERS):
    """(batch in some container, the texts it holds as Python values).
    ``extra_alphabet`` adds a third doc source: NULL, or text over the
    mixed alphabet plus those characters. ``containers`` narrows the
    batch kinds."""
    sources = [_ascii_docs, _mixed_docs]
    if extra_alphabet:
        sources.append(st.one_of(st.none(), st.text(alphabet=_MIXED + extra_alphabet + _WS, max_size=24)))
    docs = draw(st.lists(draw(st.sampled_from(sources)), max_size=10))
    if draw(st.booleans()):
        docs = [d.upper() if d and i % 2 else d for i, d in enumerate(docs)]
    texts = [""] * draw(st.integers(0, 2)) + docs + [""] * draw(st.integers(0, 2))
    kind = draw(st.sampled_from(containers))
    if kind == "list":
        return texts, texts
    if kind == "pandas":
        return pd.Series(texts, dtype=object), texts
    if kind == "large_arrow":
        return pa.array(texts, type=pa.large_string()), texts
    if kind == "slice":
        lo, hi = draw(st.integers(0, 3)), draw(st.integers(0, 3))
        padded = ["pad é"] * lo + texts + ["tail"] * hi
        return pa.array(padded, type=pa.string()).slice(lo, len(texts)), texts
    if kind == "chunked":
        cut = draw(st.integers(0, len(texts)))
        chunks = [pa.array(texts[:cut], type=pa.string()), pa.array(texts[cut:], type=pa.string())]
        return pa.chunked_array(chunks, type=pa.string()), texts
    return pa.array(texts, type=pa.string()), texts


@settings(max_examples=200, deadline=None)
@given(text_batches(), st.integers(min_value=1, max_value=6))
def test_char_kernel_matches_definition(batch, k):
    _assert_matches_reference(batch[0], batch[1], k, "char")


@settings(max_examples=200, deadline=None)
@given(text_batches(), st.integers(min_value=1, max_value=4))
def test_token_kernel_matches_definition(batch, n):
    _assert_matches_reference(batch[0], batch[1], n, "token")


@settings(max_examples=200, deadline=None)
@given(text_batches(), st.sampled_from(["char", "token"]), st.integers(1, 5), st.integers(1, 3))
def test_grams_match_substring_enumeration(batch, unit, n, stride):
    """``_grams`` emits exactly the n-grams a pure-Python enumeration
    finds — every unit position i with i + n <= len(units) of every
    doc, none for a doc shorter than n — with the doc rows and positions
    its callers derive from the offsets (``np.repeat`` of the doc index,
    slot minus the doc's first slot), also after the span stream's
    ``pos % stride == 0`` sampling."""
    h, offsets = _grams(batch[0], n, unit)
    rows = np.repeat(np.arange(len(batch[1])), np.diff(offsets))
    pos = np.arange(len(h)) - offsets[rows]
    sel = pos % stride == 0
    got = list(zip(rows[sel].tolist(), pos[sel].tolist(), h[sel].tolist()))
    want = []
    for d, t in enumerate(batch[1]):
        t = t or ""
        if unit == "char":
            u = [ord(c) for c in t]
        else:
            u = [_splitmix(_poly(ord(c) for c in tok)) for tok in t.split()]
        want += [(d, i, _splitmix(_poly(u[i : i + n]))) for i in range(0, len(u) - n + 1, stride)]
    assert h.dtype == np.uint64 and len(offsets) == len(batch[1]) + 1
    assert got == want


def test_whitespace_table_is_str_split():
    """The non-ASCII separator table is exactly Python's str.split() set
    (which has no member above U+3000)."""
    ws = {c for c in range(0x110000) if chr(c).isspace() and c >= 0x80}
    assert max(ws) < len(_WS_TABLE)
    assert set(np.flatnonzero(_WS_TABLE).tolist()) == ws


# --- bit-identity pin ---------------------------------------------------------

PIN_BATCH = [
    "",
    "The quick brown fox jumps over the lazy dog near the riverbank today",
    None,
    "  \t leading and trailing whitespace \n ",
    "héllo wörld çafé naïve résumé",
    "日本語のテキスト 東京 大阪",
    "Привет мир, как дела?",
    "مرحبا بالعالم",
    "tok\x1cfs\x1dgs\x1ers\x1fus\x0bvt\x0cff\rcr",
    "nbsp\u00a0nel\u0085ogham\u1680en\u2000em\u2003hair\u200aline\u2028para\u2029",
    "nnbsp\u202fmmsp\u205fideo\u3000end",
    "zero\u200bwidth\ufeffbom not\u200bspace \u180emvs",
    "astral \U0001d518\U0001d52b\U0001d526 \U0001f600\U0001f601 emoji",
    " ".join(["w%dé" % i if i % 3 else "中%d" % i for i in range(20)]) + "\u2009tail",
    "one two three four five six seven eight nine ten eleven twelve thirteen fourteen",
    "ab",
    "\u3000 \u00a0 ",
    "x",
    "",
]

#: SHA-256 of (hashes <u8, offsets <i8, lengths <i8) from the pandas/UTF-32
#: kernels these replaced; persisted minhash signatures and gram tables
#: depend on these bytes
PIN_SHA256 = {
    ("char", 3): "db5255f08193a08ffbf5bee3c40f30e66011bf485ba637ee04a764a4b62bcfdd",
    ("char", 13): "1255723651826cc32600d91412d70f6b7f956a5e3543b43f6812aca63f232757",
    ("token", 2): "29bcd6d4e2e03894b08086f8a50ea23018ad2a91de378728c79756e17ecd7576",
    ("token", 13): "858c023a977954975b7484bb2e4875b20489e02a28a36d160f67c2a22fe340ca",
}


@pytest.mark.parametrize("unit,k", sorted(PIN_SHA256))
@pytest.mark.parametrize("container", ["pandas", "arrow"])
def test_shingle_bytes_pinned(unit, k, container):
    batch = pd.Series(PIN_BATCH, dtype=object) if container == "pandas" else pa.array(PIN_BATCH)
    h, o, u = _KERNELS[unit](batch, k)
    m = hashlib.sha256()
    for arr, dt in ((h, "<u8"), (o, "<i8"), (u, "<i8")):
        m.update(np.asarray(arr, dtype=dt).tobytes())
    assert m.hexdigest() == PIN_SHA256[(unit, k)]


# --- fixed regression cases ---------------------------------------------------


@pytest.mark.parametrize(
    "texts",
    [["tab\tsep", "  x  ", "y", ""], ["a b c", "", ""], ["", "one two", ""]],
)
def test_token_ascii_trailing_empty_doc(texts):
    """A batch ending in an empty doc puts that doc's start offset at
    the buffer's end; the boundary scatter must skip it, not index past."""
    _assert_matches_reference(pa.array(texts, type=pa.string()), texts, 2, "token")
    _assert_matches_reference(pa.array(texts + ["é"], type=pa.string()).slice(0, len(texts)), texts, 2, "token")


def test_sliced_batch_offsets():
    """to_batches()/slice produces arrays with offset>0 — the buffer
    extraction must rebase correctly."""
    texts = ["alpha beta", "gamma", "", "delta epsilon zeta", "x y"]
    arr = pa.array(texts * 10)
    sl = arr.slice(7, 31)
    data, lens = _ascii_text_buffer(sl)
    got = [bytes(data[s : s + L]).decode() for s, L in zip(np.concatenate(([0], np.cumsum(lens)))[:-1], lens)]
    assert got == sl.to_pylist()


def test_fallback_on_non_ascii_and_nulls():
    """The ASCII buffer refuses non-ASCII and NULLs; the shingle kernels
    take both, from Arrow and pandas alike."""
    assert _ascii_text_buffer(pa.array(["héllo", "plain"])) is None
    assert _ascii_text_buffer(pa.array(["plain", None])) is None
    texts = ["héllo wörld çafé", None, "ascii only here", "日本語 テキスト です ね"]
    for unit in ("char", "token"):
        h0, o0, u0 = _shingle_hashes(pd.Series(texts), 13, unit)
        h1, o1, u1 = _shingle_hashes(pa.array(texts), 13, unit)
        assert np.array_equal(h0, h1) and np.array_equal(o0, o1) and np.array_equal(u0, u1)
        _assert_matches_reference(pa.array(texts), texts, 13, unit)


def test_empty_batch():
    for batch in (pa.array([], type=pa.string()), pd.Series([], dtype=object), []):
        for fn in _KERNELS.values():
            h, o, u = fn(batch, 13)
            assert len(h) == 0 and list(o) == [0] and len(u) == 0
