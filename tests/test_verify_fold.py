"""The one within-bucket verify kernel (``dedup._verify_fold``) against
a pure-Python reference of the chunk/head rule, run in-process over
hand-cut Arrow batches; the streaming bound; the signature reader; and
the plans of the three LSH dedup operators."""

from collections import defaultdict

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from hlld_spark.operators.dedup import (
    _popcount64,
    _popcount64_table,
    _signature_matrix,
    _verify_fold,
    embedding_cosine_dedup,
    minhash_dedup_against,
    minhash_lsh_dedup,
    minhash_match_pairs,
    simhash_dedup,
)


def _score(A, B):
    return np.abs(A[:, None] - B[None, :])


def _is_hit(S):
    return S <= 1


def test_popcount_table_matches_bin_count():
    """The byte-table popcount (numpy < 2.0) counts the set bits of each
    uint64, edge words included, and agrees with the dispatcher."""
    rng = np.random.default_rng(5)
    x = np.concatenate(
        (np.array([0, (1 << 64) - 1, 1 << 63, 1], dtype=np.uint64), rng.integers(0, 1 << 64, 200, dtype=np.uint64))
    )
    want = [bin(int(v)).count("1") for v in x]
    assert _popcount64_table(x).tolist() == want
    assert _popcount64(x).tolist() == want
    m = x[:8, None] ^ x[None, 8:20]
    assert _popcount64_table(m).shape == (8, 12)
    assert _popcount64_table(m).tolist() == [[bin(int(v)).count("1") for v in row] for row in m]


def _reference(rows, cap):
    """(id, keeper_id, score) of ``rows`` = (k1, k2, id, value), with the
    rule written out per row: group by key, sort by id, cut into chunks
    of ``cap``; a row's keeper is its first hit in the head chunk (rows
    of later chunks only), else its first hit among the smaller ids of
    its own chunk."""
    buckets = defaultdict(list)
    for k1, k2, i, v in rows:
        buckets[(k1, k2)].append((i, v))
    out = []
    for members in buckets.values():
        members.sort()
        head = members[:cap]
        for lo in range(0, len(members), cap):
            chunk = members[lo : lo + cap]
            for r, (i, v) in enumerate(chunk):
                cands = (head if lo else []) + chunk[:r]
                hit = next(((j, abs(v - w)) for j, w in cands if abs(v - w) <= 1), None)
                if hit:
                    out.append((i, *hit))
    return sorted(out)


def _fold(cap):
    return _verify_fold(["k1", "k2"], "id", lambda rb: rb.column("v").to_numpy(), _score, _is_hit, cap)


@st.composite
def _fold_inputs(draw):
    n = draw(st.integers(0, 40))
    shape = draw(st.sampled_from(["mixed", "all_singleton", "one_bucket"]))
    if shape == "mixed":
        keys = draw(st.lists(st.tuples(st.integers(0, 2), st.integers(0, 2)), min_size=n, max_size=n))
    elif shape == "all_singleton":
        keys = [(0, j) for j in range(n)]
    else:
        keys = [(1, 1)] * n
    if draw(st.booleans()):
        ids = draw(st.lists(st.integers(-(2**40), 2**40), min_size=n, max_size=n, unique=True))
        id_type = pa.int64()
    else:
        ids = draw(st.lists(st.text("abé中", max_size=4), min_size=n, max_size=n, unique=True))
        id_type = pa.string()
    vals = draw(st.lists(st.integers(0, 6), min_size=n, max_size=n))
    rows = sorted((k1, k2, i, v) for (k1, k2), i, v in zip(keys, ids, vals))
    cuts = sorted(draw(st.lists(st.integers(0, n), max_size=6)))
    cap = draw(st.integers(1, 5))
    return rows, id_type, cuts, cap


@settings(max_examples=150, deadline=None)
@given(_fold_inputs())
def test_verify_fold_matches_reference(case):
    """Runs that cross batch edges, empty and sliced batches, buckets of
    several chunks with a partial last one, cap 1, all-singleton input,
    int and string ids: the fold's pairs are the reference's."""
    rows, id_type, cuts, cap = case
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    types = [pa.int64(), pa.int64(), id_type, pa.int64()]
    whole = pa.RecordBatch.from_arrays([pa.array(c, t) for c, t in zip(cols, types)], names=["k1", "k2", "id", "v"])
    bounds = [0, *cuts, len(rows)]
    batches = [whole.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])]
    out = list(_fold(cap)(iter(batches)))
    for rb in out:
        assert rb.schema.names == ["id", "keeper_id", "score"]
        assert rb.column("id").type == id_type and rb.column("keeper_id").type == id_type
        assert rb.column("score").type == pa.int64()
    got = sorted(t for rb in out for t in zip(*(rb.column(c).to_pylist() for c in ("id", "keeper_id", "score"))))
    assert got == _reference(rows, cap)


def test_verify_fold_streams_a_hot_run():
    """One hot bucket fed as many batches: the fold yields pairs before
    it reads the last batch."""
    n, per_batch = 60, 6
    zeros = pa.array(np.zeros(n, np.int64))
    whole = pa.RecordBatch.from_arrays([zeros, zeros, pa.array(np.arange(n)), zeros], names=["k1", "k2", "id", "v"])
    read = []

    def batches():
        for lo in range(0, n, per_batch):
            read.append(lo)
            yield whole.slice(lo, per_batch)

    first = next(_fold(4)(batches()))
    assert first.num_rows > 0
    assert len(read) < n // per_batch


def test_verify_fold_rejects_cap_below_one():
    with pytest.raises(ValueError, match="at least 1"):
        _verify_fold(["k"], "id", None, _score, _is_hit, 0)


def test_signature_matrix_zero_copy_and_length_check():
    sig = np.arange(12, dtype=np.uint64).reshape(3, 4)
    arr = pa.array([r.tobytes() for r in sig], pa.binary())
    mat = _signature_matrix(arr, 4)
    assert mat.shape == (3, 4) and (mat == sig).all()
    assert np.shares_memory(mat, np.frombuffer(arr.buffers()[2], np.uint8))
    assert (_signature_matrix(arr.slice(1), 4) == sig[1:]).all()
    assert _signature_matrix(pa.array([], pa.binary()), 4).shape == (0, 4)
    # a uniform wrong length (another num_perm) and ragged lengths both raise
    with pytest.raises(ValueError, match="num_perm=8"):
        _signature_matrix(arr, 8)
    with pytest.raises(ValueError, match="num_perm=4"):
        _signature_matrix(pa.array([sig[0].tobytes(), sig[1, :2].tobytes()], pa.binary()), 4)


def test_dedup_against_rejects_unstamped_wrong_length_signatures(spark):
    """An unstamped persisted corpus table signed with another num_perm
    fails loudly instead of banding empty slices."""
    corpus = spark.createDataFrame(
        [(i, bytes(8 * 16)) for i in range(3)], "cid long, signature binary"
    )
    new = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    out = minhash_dedup_against(new, "doc_id", "text", corpus, corpus_id_col="cid", num_perm=128)
    with pytest.raises(Exception, match="num_perm=128"):
        out.collect()


@pytest.fixture(scope="module")
def texts(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    rows = [(i, base + f" tail{i % 3}") for i in range(24)]
    rows += [(100 + i, f"unique {i} " + " ".join(f"w{i}-{j}" for j in range(40))) for i in range(12)]
    return spark.createDataFrame(rows, "doc_id long, text string").repartition(3)


def test_lsh_operators_plan_no_grouped_pandas(texts):
    """The three operators verify buckets with the sorted-run fold: no
    per-group pandas node in their plans."""
    vecs = texts.select(
        "doc_id", F.array(*(F.lit(1.0) + F.col("doc_id") % 2 * F.lit(0.01 * j) for j in range(8))).alias("vec")
    )
    operators = {
        "minhash": minhash_lsh_dedup(texts, "doc_id", "text", max_bucket_pairwise=4),
        "simhash": simhash_dedup(texts, "doc_id", "text", max_bucket_pairwise=4),
        "cosine": embedding_cosine_dedup(vecs, "doc_id", "vec", max_bucket_pairwise=4),
    }
    for name, df in operators.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan, name
        assert "MapInArrow" in plan, name


def test_match_pairs_independent_of_arrow_batch_size(spark, texts):
    """Buckets cut across 3-row Arrow batches give the pairs of whole
    batches."""
    def pairs():
        return sorted(tuple(r) for r in minhash_match_pairs(texts, "doc_id", "text", max_bucket_pairwise=4).collect())

    whole = pairs()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        assert pairs() == whole
    finally:
        spark.conf.set(key, old)
    assert {i for i, _, _ in whole} == set(range(1, 24))
