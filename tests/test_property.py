"""Property-based tests (hypothesis): the vectorized murmur against an
independent pure-python scalar implementation over arbitrary byte
strings, merge-algebra invariants under random shardings, and the
partial-build kernel against a pure-Python group-by fold."""

import math
import random
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from hlld_spark.core import hll
from hlld_spark.core.accumulator import HllSpec
from hlld_spark.core.hashing import hll_hash, murmur3_x64_128
from tests.test_ascii_fastpath import ARROW_CONTAINERS, text_batches

_M = (1 << 64) - 1


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(k):
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _M
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _M
    k ^= k >> 33
    return k


def _murmur_scalar(data: bytes, seed: int = 0) -> tuple[int, int]:
    """Independent scalar MurmurHash3_x64_128 from the published spec."""
    c1, c2 = 0x87C37B91114253D5, 0x4CF5AD432745937F
    h1 = h2 = seed
    nblocks = len(data) // 16
    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(data[i * 16 + 8 : i * 16 + 16], "little")
        k1 = (k1 * c1) & _M
        k1 = _rotl(k1, 31)
        k1 = (k1 * c2) & _M
        h1 ^= k1
        h1 = _rotl(h1, 27)
        h1 = (h1 + h2) & _M
        h1 = (h1 * 5 + 0x52DCE729) & _M
        k2 = (k2 * c2) & _M
        k2 = _rotl(k2, 33)
        k2 = (k2 * c1) & _M
        h2 ^= k2
        h2 = _rotl(h2, 31)
        h2 = (h2 + h1) & _M
        h2 = (h2 * 5 + 0x38495AB5) & _M
    tail = data[nblocks * 16 :]
    k1 = int.from_bytes(tail[:8].ljust(8, b"\0"), "little")
    k2 = int.from_bytes(tail[8:16].ljust(8, b"\0"), "little")
    if len(tail) > 8:
        k2 = (k2 * c2) & _M
        k2 = _rotl(k2, 33)
        k2 = (k2 * c1) & _M
        h2 ^= k2
    if len(tail) > 0:
        k1 = (k1 * c1) & _M
        k1 = _rotl(k1, 31)
        k1 = (k1 * c2) & _M
        h1 ^= k1
    h1 ^= len(data)
    h2 ^= len(data)
    h1 = (h1 + h2) & _M
    h2 = (h2 + h1) & _M
    h1 = _fmix(h1)
    h2 = _fmix(h2)
    h1 = (h1 + h2) & _M
    h2 = (h2 + h1) & _M
    return h1, h2


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_murmur_matches_scalar_spec(data):
    h1, h2 = murmur3_x64_128([data])
    e1, e2 = _murmur_scalar(data)
    assert (int(h1[0]), int(h2[0])) == (e1, e2)


_ARROW_BINARY_TYPES = {
    "string": pa.string(),
    "large_string": pa.large_string(),
    "binary": pa.binary(),
    "large_binary": pa.large_binary(),
}
# keys of 0-48 UTF-8 bytes cross every 8- and 16-byte tail boundary
_TEXT_KEY = st.text(max_size=48).filter(lambda s: len(s.encode()) <= 48)
_BYTES_KEY = st.binary(max_size=48)


@settings(max_examples=300, deadline=None)
@given(st.data(), st.sampled_from([*_ARROW_BINARY_TYPES, "list", "series"]))
def test_murmur_batch_shapes_match_scalar(data, kind):
    """One batch per call over adversarial shapes — empty and null rows,
    every tail length, non-ASCII text, sliced Arrow arrays with a
    non-zero offset, ChunkedArrays with empty chunks, lists and pandas
    Series — hashes each row exactly as the scalar spec does, a null
    row (even one whose slot spans bytes) as the empty key."""
    textual = kind in ("string", "large_string") or (kind not in _ARROW_BINARY_TYPES and data.draw(st.booleans()))
    key = _TEXT_KEY if textual else _BYTES_KEY
    rows = data.draw(st.lists(st.one_of(st.none(), key), max_size=40))
    expected = [_murmur_scalar(b"" if r is None else r.encode() if isinstance(r, str) else r) for r in rows]
    if kind == "list":
        values = rows
    elif kind == "series":
        values = pd.Series(rows, dtype=object)
    else:
        t = _ARROW_BINARY_TYPES[kind]
        head = data.draw(st.lists(key, max_size=3))
        tail = data.draw(st.lists(key, max_size=3))
        # a null slot may span bytes in Arrow; here each one spans ``fill``
        fill = data.draw(key)
        full = pa.array(head + [fill if r is None else r for r in rows] + tail, type=t)
        valid = pa.array([True] * len(head) + [r is not None for r in rows] + [True] * len(tail), pa.bool_())
        values = pa.Array.from_buffers(t, len(full), [valid.buffers()[1], *full.buffers()[1:]])
        values = values.slice(len(head), len(rows))
        if data.draw(st.booleans()):
            cuts = sorted(data.draw(st.lists(st.integers(0, len(rows)), max_size=4)))
            bounds = [0, *cuts, len(rows)]
            chunks = [values.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]
            values = pa.chunked_array([pa.array([], type=t), *chunks], type=t)
    h1, h2 = murmur3_x64_128(values)
    assert [(int(a), int(b)) for a, b in zip(h1, h2)] == expected


@settings(max_examples=30, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=64), min_size=1, max_size=50))
def test_murmur_batch_order_independent(datas):
    batch = murmur3_x64_128(datas)[1]
    single = np.array([murmur3_x64_128([d])[1][0] for d in datas], dtype=np.uint64)
    assert np.array_equal(batch, single)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.text(min_size=0, max_size=30), min_size=1, max_size=300),
    st.integers(min_value=1, max_value=8),
    st.randoms(use_true_random=False),
)
def test_shard_invariance_property(keys, n_shards, rng):
    prec = 10
    single = hll.new_registers(prec)
    hll.add_hashes(single, hll_hash(keys), prec)
    shards = [[] for _ in range(n_shards)]
    for k in keys:
        shards[rng.randrange(n_shards)].append(k)
    merged = hll.new_registers(prec)
    for sh in shards:
        s = hll.new_registers(prec)
        if sh:
            hll.add_hashes(s, hll_hash(sh), prec)
        merged = hll.merge(merged, s)
    assert np.array_equal(merged, single)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.text(min_size=1, max_size=20), min_size=1, max_size=200))
def test_merge_with_self_and_zero(keys):
    prec = 8
    a = hll.new_registers(prec)
    hll.add_hashes(a, hll_hash(keys), prec)
    assert np.array_equal(hll.merge(a, a), a)
    assert np.array_equal(hll.merge(a, hll.new_registers(prec)), a)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), min_size=1, max_size=500))
def test_sparse_dense_builder_equivalence(hash_ints):
    """The sparse-until-dense builder and the direct dense path agree on
    arbitrary hash inputs (including adversarial duplicates)."""
    from hlld_spark.core.accumulator import HllAccumulator, HllSpec

    acc = HllAccumulator()
    spec = HllSpec(precision=4)  # tiny m forces densification mid-stream
    hashes = np.array(hash_ints, dtype=np.uint64)
    prepared = hll.combined_from_hashes(hashes, 4)

    dense = hll.new_registers(4)
    hll.add_hashes(dense, hashes, 4)

    b = acc.new_builder(spec)
    for i in range(0, len(hashes), 7):
        b.add_prepared(prepared, np.arange(i, min(i + 7, len(hashes))))
    assert np.array_equal(b.finish(), dense)


@given(
    st.lists(st.sampled_from([f"i{k}" for k in range(12)]), min_size=1, max_size=400),
    st.integers(min_value=2, max_value=8),
    st.integers(min_value=1, max_value=50),
)
def test_misra_gries_error_bound_property(items, capacity, batch_size):
    """The textbook MG invariant under arbitrary batching: for every
    item, true_count - N/capacity <= summary_count <= true_count (absent
    items have true_count <= N/capacity)."""
    import numpy as np

    from hlld_spark.operators.frequent import _mg_update

    counters: dict = {}
    for i in range(0, len(items), batch_size):
        batch = items[i : i + batch_size]
        u, c = np.unique(np.asarray(batch, dtype=object), return_counts=True)
        _mg_update(counters, u, c, capacity)
    true = Counter(items)
    n = len(items)
    assert len(counters) <= capacity
    for it, tc in true.items():
        got = counters.get(it, 0)
        assert got <= tc
        assert got >= tc - n / capacity - 1e-9, (it, got, tc, n, capacity)


def _token_ngrams(texts, n):
    """The n-gram reference: every ``" ".join`` of n consecutive
    ``str.split()`` tokens of every (non-NULL) doc, counted."""
    toks = [t.split() for t in texts if t]
    return Counter(" ".join(t[i : i + n]) for t in toks for i in range(len(t) - n + 1))


@settings(max_examples=200, deadline=None)
@given(text_batches("\xa0\u3000\x1c", ARROW_CONTAINERS), st.integers(min_value=1, max_value=4), st.data())
def test_ngram_kernels_match_str_split(batch, n, data):
    """``frequent_ngrams``' two kernels against a pure-Python count of
    ``str.split()`` windows: pass 1's distinct hashes carry the
    reference's counts (one hash per distinct n-gram) and its total;
    pass 2 renders exactly the n-grams of the hashes it is given, each
    with its full count."""
    from hlld_spark.operators.frequent import _ngram_counts, _ngram_hits

    want = _token_ngrams(batch[1], n)
    u, c, total = _ngram_counts(batch[0], n)
    assert total == sum(want.values())
    assert sorted(c.tolist()) == sorted(want.values())
    assert _ngram_hits(batch[0], n, u) == want
    picked = sorted(data.draw(st.sets(st.sampled_from(range(len(u)))))) if len(u) else []
    hits = _ngram_hits(batch[0], n, u[picked])
    assert sorted(hits.values()) == sorted(c[picked].tolist())
    assert all(want[g] == k for g, k in hits.items())


def test_ngram_pipeline_exact_under_forced_collisions(monkeypatch):
    """With the gram hash wrapped down to 2 bits, every hash stands for
    many n-grams. Pass 1 -> Misra-Gries -> pass 2 still gives the exact
    phi-heavy ``{ngram: count}``: a collision only adds candidates, and
    pass 2 counts the rendered string of every hit."""
    from hlld_spark.operators import frequent

    grams = frequent._grams

    def two_bit(texts, n, unit):
        h, offsets = grams(texts, n, unit)
        return h & np.uint64(3), offsets

    monkeypatch.setattr(frequent, "_grams", two_bit)
    docs = ["all rights reserved"] * 80 + ["terms of use"] * 20 + [f"page {i} of {i + 1}" for i in range(40)]
    random.Random(7).shuffle(docs)
    batches = [pa.array(docs[i : i + 16], pa.string()) for i in range(0, len(docs), 16)]
    phi, cap = 0.4, 3  # cap = ceil(1 / phi) < 4 hashes: the decrements run
    counters: dict = {}
    total = 0
    for b in batches:
        u, c, t = frequent._ngram_counts(b, 3)
        frequent._mg_update(counters, u, c, cap)
        total += t
    cands = np.array(sorted(counters), dtype=np.int64)
    hits: Counter = Counter()
    for b in batches:
        hits.update(frequent._ngram_hits(b, 3, cands))
    want = _token_ngrams(docs, 3)
    assert len(hits) > len(cands) and all(want[g] == k for g, k in hits.items())
    threshold = math.ceil(phi * total)
    assert {g: k for g, k in hits.items() if k >= threshold} == {"all rights reserved": 80}


def _docs(alphabet: str, max_size: int):
    """Docs drawn as NULL, empty, whitespace-only or text over ``alphabet``."""
    return st.one_of(
        st.none(), st.just(""), st.text(alphabet=" \t\n", min_size=1, max_size=3),
        st.text(alphabet=alphabet, max_size=max_size),
    )


@st.composite
def _text_container(draw, texts):
    """``texts`` as a pandas Series, a sliced Arrow array or a chunked one."""
    kind = draw(st.sampled_from(["pandas", "slice", "chunked"]))
    if kind == "pandas":
        return pd.Series(texts, dtype=object)
    if kind == "slice":
        lo = draw(st.integers(0, 2))
        return pa.array(["pad ä"] * lo + texts + ["tail"], pa.string()).slice(lo, len(texts))
    cut = draw(st.integers(0, len(texts)))
    return pa.chunked_array([pa.array(texts[:cut], pa.string()), pa.array(texts[cut:], pa.string())])


def _probe_counts(data, evals, corpus, n, unit):
    """Per-doc matched-gram counts from the decontamination probe: the
    eval table from ``_grams`` over ``evals`` in a drawn container, the
    corpus as (id, text) record batches (a sliced batch or a pandas
    frame, cut into one or two batches) through the ``_probe`` closure
    both entry points map over their batches."""
    from types import SimpleNamespace

    from hlld_spark.operators.decontaminate import _probe
    from hlld_spark.operators.dedup import _grams

    h, _ = _grams(data.draw(_text_container(evals)), n, unit)
    state = SimpleNamespace(value=np.unique(h).tobytes())
    ids = pa.array(range(len(corpus)), pa.int64())
    if data.draw(st.booleans()):
        rb = pa.RecordBatch.from_pandas(pd.DataFrame({"id": ids.to_numpy(), "text": pd.Series(corpus, dtype=object)}))
    else:
        rb = pa.RecordBatch.from_arrays(
            [pa.array([-1, *range(len(corpus))], pa.int64()), pa.array(["pad ä", *corpus], pa.string())],
            names=["id", "text"],
        ).slice(1)
    cut = data.draw(st.integers(0, len(corpus)))
    counts = np.zeros(len(corpus), dtype=np.int64)
    for out in _probe(state, "exact", "id", "text", n, unit)(iter([rb.slice(0, cut), rb.slice(cut)])):
        counts[out.column("id").to_numpy()] = out.column("n_matched_grams").to_numpy()
    return counts


@settings(max_examples=60, deadline=None)
@given(
    st.lists(_docs("abc х日 ", 30), min_size=1, max_size=15),
    st.lists(_docs("abc х日 ", 20), min_size=1, max_size=4),
    st.integers(min_value=2, max_value=6),
    st.data(),
)
def test_decontaminate_kernel_matches_bruteforce(corpus, evals, n, data):
    """The decontamination probe (gram stream + prefiltered searchsorted
    membership + per-doc hit counts) counts EXACTLY the n-gram
    occurrences a brute-force python substring scan counts — including
    NULL, empty, whitespace-only and short docs, unicode, and doc and
    batch boundaries."""
    counts = _probe_counts(data, evals, corpus, n, "char")
    ev_grams = {e[i : i + n] for e in evals if e for i in range(len(e) - n + 1)}
    for doc, c in zip(corpus, counts):
        doc = doc or ""
        expect = sum(
            1 for i in range(max(len(doc) - n + 1, 0)) if doc[i : i + n] in ev_grams
        )
        assert c == expect, (doc, n, c, expect)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(_docs("ab х\t\n ", 40), min_size=1, max_size=15),
    st.lists(_docs("ab х\t\n ", 30), min_size=1, max_size=4),
    st.integers(min_value=2, max_value=4),
    st.data(),
)
def test_decontaminate_token_kernel_matches_bruteforce(corpus, evals, n, data):
    """Token-mode decontamination (round 4, the published 13-gram unit)
    counts EXACTLY the token n-gram occurrences a brute-force python
    split()-window scan counts — across whitespace runs, NULL, empty and
    whitespace-only docs, docs shorter than n tokens, unicode, and doc
    and batch boundaries."""
    counts = _probe_counts(data, evals, corpus, n, "token")
    ev_grams = {
        tuple(e.split()[i : i + n])
        for e in evals
        if e
        for i in range(len(e.split()) - n + 1)
    }
    for doc, c in zip(corpus, counts):
        toks = (doc or "").split()
        expect = sum(
            1 for i in range(max(len(toks) - n + 1, 0)) if tuple(toks[i : i + n]) in ev_grams
        )
        assert c == expect, (doc, n, c, expect)


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=20, max_value=60),
    st.integers(min_value=0, max_value=40),
    st.integers(min_value=2, max_value=4),
)
def test_token_minhash_estimates_token_jaccard(n_shared, n_extra, k):
    """Token-unit minhash signatures estimate the TRUE token-k-shingle
    Jaccard within binomial tolerance (num_perm=256 -> sigma <= 0.032;
    assert 5 sigma). Pins that the token kernel + affine mixes form a
    correct minhash family over token shingles, not just a determinism
    check."""
    import numpy as np
    import pandas as pd

    from hlld_spark.operators.dedup import _minhash_signatures, _token_shingle_hashes

    a_toks = [f"s{i}" for i in range(n_shared)]
    b_toks = a_toks[: max(n_shared - n_extra, k)] + [f"x{i}" for i in range(n_extra)]
    a, b = " ".join(a_toks), " ".join(b_toks)
    # true Jaccard over hashed token k-shingle sets (the estimand)
    h, off, _ = _token_shingle_hashes(pd.Series([a, b]), k)
    sa = set(h[off[0] : off[1]].tolist())
    sb = set(h[off[1] : off[2]].tolist())
    true_j = len(sa & sb) / max(len(sa | sb), 1)
    sig = _minhash_signatures(pd.Series([a, b]), 256, k, unit="token")
    est = float((sig[0] == sig[1]).mean())
    assert abs(est - true_j) <= 5 * np.sqrt(max(true_j * (1 - true_j), 0.01) / 256) + 1e-9


_KEY_DOUBLES = st.sampled_from([0.0, -0.0, 1.5, -2.0, math.nan, None])
_KEY_STRINGS = st.one_of(st.none(), st.sampled_from(["", "en", "ü日本"]), st.text(max_size=3))
_ROWS = st.tuples(_KEY_DOUBLES, _KEY_STRINGS, st.one_of(st.none(), st.booleans()), st.one_of(st.none(), st.text(max_size=4)))


@settings(max_examples=60, deadline=None)
@given(st.lists(_ROWS, max_size=80), st.integers(min_value=0, max_value=3), st.data())
def test_build_kernel_matches_python_groupby(rows, n_keys, data):
    """The partial-build kernel (``_make_build_partials_arrow``) run
    in-process over a random batch cut, then folded by the merge kernel,
    equals a pure-Python ``groupBy`` + ``acc.update`` fold: same groups
    (NaN one group, -0.0 ≡ 0.0, NULL a group), same HLL/CMS/Bloom bytes,
    same ``n_rows``, and the key columns keep their Arrow types. Rows with
    a NULL value are skipped. The cut includes empty batches and slices at
    a non-zero offset; a bool third key covers 3-key grouping. The batches
    are dealt to 1-4 simulated tasks, one partial stream each, whose
    partials reach the merge in a drawn order: the bytes do not depend on
    how the input is split into tasks."""
    from hlld_spark.core.accumulator import accumulator_for
    from hlld_spark.core.bloom import BloomSpec
    from hlld_spark.core.cms import CmsSpec
    from hlld_spark.operators.sketch import _group_key, _make_build_partials_arrow, _merge_runs

    keys = ["d", "s", "b"][:n_keys]
    cols = {
        "d": pa.array([r[0] for r in rows], pa.float64()),
        "s": pa.array([r[1] for r in rows], pa.string()),
        "b": pa.array([r[2] for r in rows], pa.bool_()),
        "v": pa.array([r[3] for r in rows], pa.string()),
    }
    rb = pa.RecordBatch.from_arrays([cols[k] for k in [*keys, "v"]], names=[*keys, "v"])
    cuts = sorted(data.draw(st.lists(st.integers(min_value=0, max_value=len(rows)), max_size=5)))
    bounds = [0, *cuts, len(rows)]
    batches = [rb.slice(0, 0), *(rb.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:]))]
    n_tasks = data.draw(st.integers(min_value=1, max_value=4))
    task_of = data.draw(st.lists(st.integers(0, n_tasks - 1), min_size=len(batches), max_size=len(batches)))
    task_order = data.draw(st.permutations(range(n_tasks)))

    groups: dict[str, list] = {}
    for r in rows:
        if r[3] is not None:
            groups.setdefault(repr(_group_key(r[:n_keys])), []).append(r[3])

    for spec in (HllSpec(10), CmsSpec(width=64, depth=3), BloomSpec(bits=1001, hashes=3)):
        acc = accumulator_for(spec)
        want = {g: (acc.serialize(acc.update(acc.zero(spec), vals, spec), spec), len(vals)) for g, vals in groups.items()}
        partials = [
            p
            for t in task_order
            for p in _make_build_partials_arrow(keys, "v", spec)(b for b, bt in zip(batches, task_of) if bt == t)
        ]
        if not groups:
            assert partials == []
            continue
        assert len(partials) <= n_tasks
        part = partials[0]
        assert all([p.schema.field(k).type for k in keys] == [cols[k].type for k in keys] for p in partials)
        # a stable sort by key: each group's partials stay in task order
        part_rows = sorted(
            (r for p in partials for r in zip(*(p.column(i).to_pylist() for i in range(p.num_columns)))),
            key=lambda r: repr(_group_key(r[:n_keys])),
        )
        sorted_part = pa.RecordBatch.from_arrays([pa.array(c, f.type) for c, f in zip(zip(*part_rows), part.schema)], schema=part.schema)
        merged = pa.Table.from_batches(list(_merge_runs(keys)(iter([sorted_part]))), schema=part.schema)
        got = {
            repr(_group_key(r[:n_keys])): (r[-2], r[-1])
            for r in zip(*(merged.column(i).to_pylist() for i in range(merged.num_columns)))
        }
        assert got == want


def test_build_kernel_feeds_each_group_its_rows_in_order():
    """A multi-key group that is NULL in some keys but not all reaches its
    builder as one run of rows in row order. On plain columns, Arrow 16's
    SIMD grouper splits such a group; the order-sensitive KLL bytes would
    show the split."""
    from hlld_spark.core.accumulator import accumulator_for
    from hlld_spark.core.kll import KllSpec
    from hlld_spark.operators.sketch import _make_build_partials_arrow

    rng = np.random.default_rng(0)
    n = 5000
    a = pa.array([[1, 2, None][i] for i in rng.integers(0, 3, n)], pa.int8())
    b = pa.array([[1, 2, None][i] for i in rng.integers(0, 3, n)], pa.int64())
    v = rng.random(n)
    rb = pa.RecordBatch.from_arrays([a, b, pa.array(v)], names=["a", "b", "v"])
    spec = KllSpec()
    acc = accumulator_for(spec)
    (part,) = _make_build_partials_arrow(["a", "b"], "v", spec)(iter([rb]))
    rows = list(zip(a.to_pylist(), b.to_pylist()))
    assert part.num_rows == len(set(rows)) == 9
    for ka, kb, buf in zip(part.column("a").to_pylist(), part.column("b").to_pylist(), part.column("sketch").to_pylist()):
        idx = np.array([i for i, r in enumerate(rows) if r == (ka, kb)])
        assert buf == acc.serialize(acc.update_prepared(acc.zero(spec), v, idx, spec), spec)
