"""SemDeDup (operators/embeddings.py::semdedup*) vs a brute-force
numpy replay of the paper's upper-triangular rule: exact flag
equality, blocking invariance, both rank orders, zero vectors, and
the keepers anti-join."""

import numpy as np
import pytest

from hlld_spark.operators.embeddings import (
    kmeans_assign,
    semdedup,
    semdedup_keepers,
    semdedup_prune,
)


def _corpus(seed=7, n=300, d=12, k=4, n_dup=40):
    """Clustered vectors with planted near-duplicates: row j >= n is a
    tiny perturbation of row j - n_dup (same cluster, cosine ~1)."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(k, d)) * 4
    base = centers[rng.integers(0, k, size=n)] + rng.normal(size=(n, d)) * 0.5
    dups = base[:n_dup] + rng.normal(size=(n_dup, d)) * 1e-3
    x = np.concatenate([base, dups]).astype(np.float64)
    return x, centers


def _truth_flags(x, cents, eps, rank=None):
    """Brute-force replay: numpy assignment (argmin L2, lowest index on
    ties) then per-cluster exists-earlier-similar scan in rank order."""
    d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    asg = d2.argmin(1)
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
    n = len(x)
    order = np.arange(n) if rank is None else rank
    dup = np.zeros(n, dtype=bool)
    for c in np.unique(asg):
        idx = np.nonzero(asg == c)[0]
        idx = idx[np.argsort(order[idx], kind="stable")]
        s = xn[idx] @ xn[idx].T
        for r in range(1, len(idx)):
            dup[idx[r]] = bool((s[r, :r] >= eps).any())
    return asg, dup


def _flags_dict(flags_df):
    return {r["vec_id"]: (r["cluster"], r["sem_dup"]) for r in flags_df.collect()}


@pytest.mark.spark
def test_semdedup_matches_bruteforce(spark):
    x, cents = _corpus()
    rows = [(i, x[i].astype(np.float32).tolist()) for i in range(len(x))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(5)
    x32 = x.astype(np.float32).astype(np.float64)  # what Spark rows carry
    asg, dup = _truth_flags(x32, cents, eps=0.999)
    got = _flags_dict(semdedup(df, centroids=cents, eps=0.999))
    assert len(got) == len(x)
    for i in range(len(x)):
        assert got[i] == (asg[i], bool(dup[i])), i
    # every planted dup row was flagged
    assert all(got[i][1] for i in range(len(x) - 40, len(x)))


@pytest.mark.spark
def test_semdedup_blocking_invariance(spark):
    """Tiny max_sim_elems forces many prefix blocks; flags must not
    change (the driver-gate path runs one big block)."""
    x, cents = _corpus(seed=11, n=120, n_dup=25)
    rows = [(i, x[i].astype(np.float32).tolist()) for i in range(len(x))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    big = _flags_dict(semdedup(df, centroids=cents, eps=0.99))
    small = _flags_dict(semdedup(df, centroids=cents, eps=0.99, max_sim_elems=64))
    assert big == small
    assert any(v[1] for v in big.values())


@pytest.mark.spark
def test_semdedup_centroid_dist_rank(spark):
    """rank_by='centroid_dist' keeps the far-from-centroid member of
    each near-dup pair (the paper's keep rule)."""
    x, cents = _corpus(seed=23)
    rows = [(i, x[i].astype(np.float32).tolist()) for i in range(len(x))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(3)
    x32 = x.astype(np.float32).astype(np.float64)
    d2 = ((x32[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    sq = d2.min(1)
    # rank: descending distance, id tiebreak == ascending (-dist, id)
    order = np.lexsort((np.arange(len(x)), -sq))
    rank = np.empty(len(x), dtype=np.int64)
    rank[order] = np.arange(len(x))
    asg, dup = _truth_flags(x32, cents, eps=0.999, rank=rank)
    assigned = kmeans_assign(df, cents, "embedding")
    got = _flags_dict(
        semdedup_prune(assigned, eps=0.999, rank_by="centroid_dist")
    )
    for i in range(len(x)):
        assert got[i] == (asg[i], bool(dup[i])), i


@pytest.mark.spark
def test_semdedup_zero_vectors_survive(spark):
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 1e-8])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = _flags_dict(semdedup(df, centroids=np.array([[0.5, 0.5]]), eps=0.9))
    assert not got[0][1] and not got[1][1]  # zero vectors never dup
    assert not got[2][1] and got[3][1]  # parallel pair: later id dropped


@pytest.mark.spark
def test_semdedup_keepers_antijoin(spark):
    x, cents = _corpus(seed=5, n=80, n_dup=15)
    rows = [(i, x[i].astype(np.float32).tolist()) for i in range(len(x))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    flags = _flags_dict(semdedup(df, centroids=cents, eps=0.999))
    kept = semdedup_keepers(df, centroids=cents, eps=0.999)
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    assert kept_ids == {i for i, v in flags.items() if not v[1]}
    assert kept.columns == df.columns


@pytest.mark.spark
def test_semdedup_bad_rank_by(spark):
    df = spark.createDataFrame([(0, [1.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="rank_by"):
        semdedup(df, centroids=np.array([[1.0]]), rank_by="nope")
