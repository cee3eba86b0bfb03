"""Distributed PCA / whitening for embedding columns.

The 100-TB embedding workflows (dedup, ANN, clustering — this repo's
operators/similarity.py) routinely want a decorrelated, reduced basis
first: PCA cuts ADC/cosine cost and whitening is the standard
preprocessing for OPQ and for embedding-similarity calibration.

Spark-first shape — the textbook one-pass moment aggregation:

  1. each partition accumulates (n, Σx, ΣxxT) in ONE numpy pass
     (`mapInPandas` over Arrow batches; the Gram update is a single
     d×B @ B×d matmul per batch);
  2. partials are tiny ((d²+d+1) doubles — 33 KB at d=64, 8 MB at
     d=1024) and are summed driver-side: the collect is bounded by the
     PARTITION count, not the row count — the same bounded-collect
     contract as the sketch merges;
  3. eigendecomposition of the d×d covariance runs on the driver
     (numpy `eigh`; d ≤ a few thousand — never row-scale);
  4. projection/whitening broadcasts the (d×k) basis back and applies
     one matmul per Arrow batch.

Numerical note: covariance = E[xxT] − μμT over the float64 sums; the
driver gate checks entries to 4 decimals against an exact SQL oracle,
and eigenvectors' SIGNS are canonicalized (largest-|component| positive)
so results are deterministic across partition orders.

Reference scope note: armon/hlld has no linear algebra; LLM-pipeline
layer companion to operators/similarity.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType


def embedding_moments(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[int, np.ndarray, np.ndarray]:
    """One distributed pass → (n, mean (d,), covariance (d,d)) in
    float64. The only driver traffic is one partial per partition."""
    def partials(batches):
        n = 0
        s = None
        g = None
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n += x.shape[0]
            if s is None:
                s = x.sum(axis=0)
                g = x.T @ x
            else:
                s += x.sum(axis=0)
                g += x.T @ x
        if n:
            yield pd.DataFrame(
                {"n": [n], "sums": [np.concatenate([s, g.ravel()]).astype(np.float64)]}
            )

    from pyspark.sql.types import DoubleType, LongType

    # partials travel as float64 arrays (ArrayType(DoubleType))
    schema = StructType(
        [
            StructField("n", LongType(), False),
            StructField("sums", ArrayType(DoubleType(), False), False),
        ]
    )
    rows = df.select(vec_col).mapInPandas(partials, schema=schema).collect()
    if not rows:
        raise ValueError("no embeddings")
    n = sum(r["n"] for r in rows)
    acc = np.zeros(len(rows[0]["sums"]))
    for r in rows:
        acc += np.asarray(r["sums"])
    d = int((-1 + np.sqrt(1 + 4 * len(acc))) / 2)
    s, g = acc[:d], acc[d:].reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    return n, mean, cov


def fit_pca(
    df: DataFrame, vec_col: str = "embedding", k: int | None = None
) -> dict:
    """Distributed-moments PCA fit → {mean, components (k,d),
    eigvals (k,), total_var}. Components are sorted by descending
    eigenvalue with deterministic sign (largest-|entry| positive)."""
    n, mean, cov = embedding_moments(df, vec_col)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    if k is not None:
        vals, vecs = vals[:k], vecs[:, :k]
    # canonical signs: the largest-|component| entry of each vector > 0
    flip = np.sign(vecs[np.abs(vecs).argmax(axis=0), np.arange(vecs.shape[1])])
    flip[flip == 0] = 1.0
    vecs = vecs * flip
    return {
        "n": n,
        "mean": mean,
        "components": vecs.T,
        "eigvals": np.maximum(vals, 0.0),
        "total_var": float(np.trace(cov)),
    }


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    max_iter: int = 50,
    tol: float = 1e-7,
) -> dict:
    """FULL distributed Lloyd k-means (not the sampled driver-side fit
    IVF uses): every iteration is one distributed pass emitting
    per-partition (count, Σx) partials PER CLUSTER — k×(d+1) doubles
    per partition, the same bounded-collect contract as
    :func:`embedding_moments` — with centroids broadcast back as
    closure constants. Deterministic throughout: init = bottom-k rows
    by ``xxhash64(vec)`` (one TakeOrderedAndProject pass, spans every
    partition of a cluster-sorted corpus — the IVF de-biasing trick),
    ties and empty clusters keep the previous centroid. Returns
    {centroids (k,d), inertia, n_iter, converged}."""
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    first = (
        df.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("v").cast("array<float>")))
        .limit(k)
        .collect()
    )
    if len(first) < k:
        raise ValueError(f"need at least k={k} rows")
    cents = np.stack([np.asarray(r["v"], dtype=np.float64) for r in first])
    d = cents.shape[1]

    schema = StructType(
        [
            StructField("cluster", LongType(), False),
            StructField("n", LongType(), False),
            StructField("sums", ArrayType(DoubleType(), False), False),
            StructField("inertia", DoubleType(), False),
        ]
    )
    converged = False
    inertia = float("nan")
    it = 0
    for it in range(1, max_iter + 1):
        c = cents  # bind for closure

        def partials(batches):
            counts = np.zeros(len(c), dtype=np.int64)
            sums = np.zeros_like(c)
            sse = 0.0
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1)
                a = d2.argmin(1)
                sse += d2[np.arange(len(x)), a].sum()
                np.add.at(counts, a, 1)
                np.add.at(sums, a, x)
            for j in range(len(c)):
                yield pd.DataFrame(
                    {
                        "cluster": [j],
                        "n": [int(counts[j])],
                        "sums": [sums[j]],
                        "inertia": [sse if j == 0 else 0.0],
                    }
                )

        rows = df.select(F.col(vec_col).alias("v")).mapInPandas(
            partials, schema=schema
        ).collect()
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, d))
        inertia = 0.0
        for r in rows:
            counts[r["cluster"]] += r["n"]
            sums[r["cluster"]] += np.asarray(r["sums"])
            inertia += r["inertia"]
        new = cents.copy()
        nz = counts > 0
        new[nz] = sums[nz] / counts[nz][:, None]
        shift = float(np.abs(new - cents).max())
        cents = new
        if shift < tol:
            converged = True
            break
    return {
        "centroids": cents,
        "inertia": float(inertia),
        "n_iter": it,
        "converged": converged,
    }


def kmeans_assign(
    df: DataFrame,
    model_or_centroids,
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """Nearest-centroid assignment (+``<out_col>_sq_dist``) — one
    batched distance matmul per Arrow batch, centroids broadcast as
    closure constants."""
    from pyspark.sql.types import LongType

    cents = (
        model_or_centroids["centroids"]
        if isinstance(model_or_centroids, dict)
        else np.asarray(model_or_centroids, dtype=np.float64)
    )

    @F.pandas_udf("struct<c: long, d2: double>")
    def _assign(v: pd.Series) -> pd.DataFrame:
        x = np.stack(v.to_numpy()).astype(np.float64)
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        a = d2.argmin(1)
        return pd.DataFrame({"c": a, "d2": d2[np.arange(len(x)), a]})

    tmp = df.withColumn("__a", _assign(F.col(vec_col)))
    return tmp.withColumn(out_col, F.col("__a.c")).withColumn(
        f"{out_col}_sq_dist", F.col("__a.d2")
    ).drop("__a")


def with_reconstruction_sq_error(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    proj_col: str = "pca",
    out_col: str = "recon_sq_error",
) -> DataFrame:
    """Per-row squared reconstruction error ‖x − (y·C + μ)‖² — the
    distributed check that the projection/basis round-trips: its MEAN
    equals the dropped eigenvalue mass exactly (PCA optimality)."""
    comps = model["components"].astype(np.float64)
    mean = model["mean"].astype(np.float64)

    @F.pandas_udf("double")
    def _err(orig: pd.Series, p: pd.Series) -> pd.Series:
        x = np.stack(orig.to_numpy()).astype(np.float64)
        y = np.stack(p.to_numpy()).astype(np.float64)
        recon = y @ comps + mean
        return pd.Series(((x - recon) ** 2).sum(axis=1))

    return df.withColumn(out_col, _err(F.col(vec_col), F.col(proj_col)))


def project_embeddings(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten: bool = False,
    eps: float = 1e-9,
) -> DataFrame:
    """Project (and optionally whiten) the embedding column onto the
    fitted basis — one matmul per Arrow batch, basis shipped once as a
    closure constant (same contract as the PQ distance tables)."""
    comps = model["components"].astype(np.float64)
    mean = model["mean"].astype(np.float64)
    scale = (
        1.0 / np.sqrt(np.maximum(model["eigvals"], 0.0) + eps)
        if whiten
        else np.ones(len(model["eigvals"]))
    )

    @F.pandas_udf(ArrayType(FloatType()))
    def _proj(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64)
        y = (x - mean) @ comps.T * scale
        return pd.Series(list(y.astype(np.float32)))

    return df.withColumn(out_col, _proj(F.col(vec_col)))


def semdedup_prune(
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 0.95,
    cluster_col: str = "cluster",
    rank_by: str = "id",
    max_sim_elems: int = 16_000_000,
) -> DataFrame:
    """SemDeDup pruning (Abbas et al. 2023, arXiv:2303.09540) over a
    pre-clustered embedding table: within each cluster, row *i* is a
    semantic duplicate iff SOME row ranked before it has cosine
    similarity ≥ ``eps`` (the paper's upper-triangular-max rule —
    dropped rows still block later rows, so the result is
    order-deterministic, not greedy-dependent).

    ``rank_by``: ``"id"`` (ascending ``id_col``; cross-engine
    reproducible — the driver gate's choice) or ``"centroid_dist"``
    (descending ``<cluster_col>_sq_dist`` from :func:`kmeans_assign`,
    id-tiebroken — the paper keeps LOW-similarity-to-centroid
    examples, arXiv:2303.09540 §3.2).

    Scale shape: one shuffle keyed by cluster, then a per-cluster
    vectorized prefix-similarity scan in ``applyInPandas``. Per-task
    memory is O(c·d) for the cluster matrix plus O(``max_sim_elems``)
    for the similarity block (the block row-count adapts as the prefix
    grows), never O(c²). Compute is the O(c²·d) inherent to SemDeDup —
    the paper's contract is that k scales with N so clusters stay
    bounded (k=50k for LAION-440M); pair with :func:`kmeans_fit`
    (or any partitioner) sized accordingly. Returns
    (id, cluster, sem_dup) flags; join/anti-join downstream.
    """
    if rank_by not in ("id", "centroid_dist"):
        raise ValueError(f"rank_by must be 'id' or 'centroid_dist', got {rank_by!r}")
    from pyspark.sql.types import BooleanType, LongType

    id_field = assigned.schema[id_col]
    dist_col = f"{cluster_col}_sq_dist"
    cols = [id_col, vec_col, cluster_col] + (
        [dist_col] if rank_by == "centroid_dist" else []
    )
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField(cluster_col, LongType(), True),
            StructField("sem_dup", BooleanType(), False),
        ]
    )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        if rank_by == "centroid_dist":
            pdf = pdf.sort_values([dist_col, id_col], ascending=[False, True])
        else:
            pdf = pdf.sort_values(id_col)
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        n = len(x)
        norm = np.linalg.norm(x, axis=1, keepdims=True)
        np.maximum(norm, 1e-300, out=norm)  # zero vectors -> sim 0, never dup
        xn = x / norm
        dup = np.zeros(n, dtype=bool)
        i0 = 1  # row 0 has no earlier rows
        while i0 < n:
            bs = int(max(1, min(n - i0, max_sim_elems // (i0 + 1))))
            i1 = i0 + bs
            s = xn[i0:i1] @ xn[:i1].T  # (bs, i1): sims vs the whole prefix
            # mask local columns at or after each row's own position
            s[:, i0:i1][np.triu(np.ones((bs, bs), dtype=bool))] = -np.inf
            dup[i0:i1] = (s >= eps).any(axis=1)
            i0 = i1
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                cluster_col: pdf[cluster_col].to_numpy(),
                "sem_dup": dup,
            }
        )

    return assigned.select(*cols).groupBy(cluster_col).applyInPandas(prune, schema=out_schema)


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
    k: int = 8,
    eps: float = 0.95,
    rank_by: str = "id",
    max_sim_elems: int = 16_000_000,
) -> DataFrame:
    """Full SemDeDup: k-means assignment (fit with :func:`kmeans_fit`
    when ``centroids`` is None) + :func:`semdedup_prune`. Returns
    (id, cluster, sem_dup) — one row per input row."""
    if centroids is None:
        centroids = kmeans_fit(df, vec_col, k=k)["centroids"]
    assigned = kmeans_assign(df, centroids, vec_col)
    return semdedup_prune(
        assigned, id_col, vec_col, eps=eps, rank_by=rank_by, max_sim_elems=max_sim_elems
    )


def semdedup_keepers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """Rows of ``df`` that survive :func:`semdedup` (anti-join on the
    flagged ids; the flag side carries only scalars)."""
    flags = semdedup(df, id_col, vec_col, **kwargs)
    dup_ids = flags.filter(F.col("sem_dup")).select(id_col)
    return df.join(dup_ids, on=id_col, how="left_anti")
