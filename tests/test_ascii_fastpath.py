"""r7 optimization gates: the Arrow/ASCII shingle fast paths must be
bit-identical to the exact pandas kernels on every input shape — mixed
doc lengths, exotic ASCII whitespace (str.split's full ASCII set),
empty docs, docs shorter than the window, sliced Arrow batches — and
the dispatcher must fall back (not mis-hash) on non-ASCII or nulls."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from hlld_spark.operators.dedup import (
    _ascii_text_buffer,
    _char_shingle_hashes_ascii,
    _char_shingle_hashes_with_lens,
    _token_shingle_hashes,
    _token_shingle_hashes_ascii,
)
from hlld_spark.operators.decontaminate import _shingle, _shingle_arrow


def _rand_ascii_texts(rng, n_docs):
    ws = [" ", "\t", "\n", "\r", "\x0b", "\x0c", "\x1c", "\x1d", "\x1e", "\x1f"]
    out = []
    for _ in range(n_docs):
        kind = rng.integers(0, 10)
        if kind == 0:
            out.append("")
        elif kind == 1:
            out.append(rng.choice(ws) * int(rng.integers(1, 5)))
        elif kind == 2:
            out.append("ab")  # shorter than any k used here
        else:
            n_words = int(rng.integers(1, 40))
            words = [
                "".join(chr(c) for c in rng.integers(33, 127, size=rng.integers(1, 12)))
                for _ in range(n_words)
            ]
            seps = [str(rng.choice(ws)) * int(rng.integers(1, 3)) for _ in range(n_words)]
            out.append("".join(w + s for w, s in zip(words, seps)))
    return out


@pytest.mark.parametrize("k", [3, 13])
def test_char_ascii_matches_pandas(k):
    rng = np.random.default_rng(7)
    texts = _rand_ascii_texts(rng, 200)
    h0, o0, l0 = _char_shingle_hashes_with_lens(pd.Series(texts), k)
    data, lens = _ascii_text_buffer(pa.array(texts, type=pa.string()))
    h1, o1, l1 = _char_shingle_hashes_ascii(data, lens, k)
    assert np.array_equal(l0, l1)
    assert np.array_equal(o0, o1)
    assert np.array_equal(h0, h1)


@pytest.mark.parametrize("n", [2, 13])
def test_token_ascii_matches_pandas(n):
    rng = np.random.default_rng(11)
    texts = _rand_ascii_texts(rng, 200)
    h0, o0, t0 = _token_shingle_hashes(pd.Series(texts), n)
    data, lens = _ascii_text_buffer(pa.array(texts, type=pa.string()))
    h1, o1, t1 = _token_shingle_hashes_ascii(data, lens, n)
    assert np.array_equal(t0, t1)
    assert np.array_equal(o0, o1)
    assert np.array_equal(h0, h1)


@pytest.mark.parametrize(
    "texts",
    [["tab\tsep", "  x  ", "y", ""], ["a b c", "", ""], ["", "one two", ""]],
)
def test_token_ascii_trailing_empty_doc(texts):
    """A batch ending in an empty doc puts that doc's start offset at
    the buffer's end; the boundary scatter must skip it, not index past."""
    h0, o0, t0 = _token_shingle_hashes(pd.Series(texts), 2)
    data, lens = _ascii_text_buffer(pa.array(texts, type=pa.string()))
    h1, o1, t1 = _token_shingle_hashes_ascii(data, lens, 2)
    assert np.array_equal(t0, t1)
    assert np.array_equal(o0, o1)
    assert np.array_equal(h0, h1)


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
    assert _ascii_text_buffer(pa.array(["héllo", "plain"])) is None
    assert _ascii_text_buffer(pa.array(["plain", None])) is None
    # dispatcher: non-ASCII goes through the exact pandas kernel
    texts = ["héllo wörld çafé", "ascii only here", "日本語 テキスト です ね"]
    for unit in ("char", "token"):
        h0, o0, u0 = _shingle(pd.Series(texts), 13, unit)
        h1, o1, u1 = _shingle_arrow(pa.array(texts), 13, unit)
        assert np.array_equal(h0, h1) and np.array_equal(o0, o1) and np.array_equal(u0, u1)


def test_dispatcher_ascii_equals_pandas():
    rng = np.random.default_rng(13)
    texts = _rand_ascii_texts(rng, 150)
    for unit in ("char", "token"):
        h0, o0, u0 = _shingle(pd.Series(texts), 13, unit)
        h1, o1, u1 = _shingle_arrow(pa.array(texts), 13, unit)
        assert np.array_equal(h0, h1) and np.array_equal(o0, o1) and np.array_equal(u0, u1)


def test_empty_batch():
    data, lens = _ascii_text_buffer(pa.array([], type=pa.string()))
    for fn in (_char_shingle_hashes_ascii, _token_shingle_hashes_ascii):
        h, o, u = fn(data, lens, 13)
        assert len(h) == 0 and list(o) == [0] and len(u) == 0


def test_profile_lang_ascii_matches_pandas():
    """r7 ASCII lang-id kernel must decide identically to the pandas
    kernel on ASCII input — including prefix truncation, empty docs and
    whitespace-only docs."""
    from hlld_spark.operators.lang_profiles import (
        EVAL_SENTENCES,
        _profile_lang_ascii,
        _profile_lang_batch,
    )

    rng = np.random.default_rng(23)
    texts = [s for ss in EVAL_SENTENCES.values() for s in ss if s.isascii()]
    texts += ["", "  ", "ab", "x " * 40, "word " * 700]  # >1000 chars triggers truncation
    texts += _rand_ascii_texts(rng, 100)
    want = _profile_lang_batch(pd.Series(texts)).to_numpy()
    from hlld_spark.operators.dedup import _ascii_text_buffer

    data, lens = _ascii_text_buffer(pa.array(texts, type=pa.string()))
    got = _profile_lang_ascii(data, lens)
    assert np.array_equal(want, got), list(zip(texts, want, got))[:5]

