"""Nearest-neighbor search over embedding columns.

Two strategies over `embeddings(vec_id, embedding array<float>, ...)`:

* brute-force cosine top-k — the exactness baseline: vectorized numpy
  dot products per partition, per-partition top-k, global top-k merge
  (never shuffles more than partitions×k rows)
* product quantization — driver-fit per-subspace codebooks, m-byte
  codes, asymmetric-distance top-k by table lookups

Query vectors are broadcast as plain closure constants (tiny); corpus
vectors never leave their partitions except as top-k candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, DoubleType, IntegerType, StructField, StructType


def _as_matrix(col: pd.Series) -> np.ndarray:
    return np.stack([np.asarray(v, dtype=np.float64) for v in col])


def _topk_schema(id_field) -> StructType:
    return StructType([id_field, StructField("cosine", DoubleType(), False)])


def cosine_topk(df: DataFrame, id_col: str, vec_col: str, query, k: int = 10) -> DataFrame:
    """Exact cosine top-k: per-partition scan + heap, global merge.

    Shuffle volume: partitions × k (id, cosine) pairs — independent of
    corpus size. The scan is a single numpy matmul per Arrow batch.
    """
    q = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn == 0:
        raise ValueError("query vector has zero norm")
    q = q / qn
    schema = _topk_schema(df.schema[id_col])

    def part_topk(batches):
        best_ids: list = []
        best_cos = np.zeros(0)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = _as_matrix(pdf[vec_col])
            norms = np.linalg.norm(vecs, axis=1)
            cos = (vecs @ q) / np.where(norms == 0, 1.0, norms)
            cos = np.where(norms == 0, -1.0, cos)
            ids = pdf[id_col].to_numpy()
            cand_cos = np.concatenate([best_cos, cos])
            cand_ids = np.concatenate([np.asarray(best_ids, dtype=ids.dtype), ids]) if best_ids or len(ids) else ids
            top = np.argsort(-cand_cos, kind="stable")[:k]
            best_cos = cand_cos[top]
            best_ids = list(cand_ids[top])
        if len(best_ids):
            yield pd.DataFrame({id_col: best_ids, "cosine": best_cos})

    partials = df.select(id_col, vec_col).mapInPandas(part_topk, schema=schema)
    return partials.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------------
# product quantization (r6) — the 100-TB vector-search compression path
# ---------------------------------------------------------------------------


def fit_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    n_centroids: int = 256,
    sample: int = 4096,
    iters: int = 12,
    seed: int = 5,
) -> np.ndarray:
    """Product-quantization codebooks (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the vector is split into
    ``m`` subspaces and each gets its own k-means codebook, so an
    m-byte code replaces a d-float vector (32x smaller at d=64 float32)
    — the standard way a 10^12-vector corpus fits in cluster RAM.

    Training runs on the ``sample`` rows with the globally SMALLEST
    ``xxhash64(vec)`` (bottom-k uniform sampling): every partition
    contributes by hash order, so a corpus whose files are
    sorted/clustered still yields codebooks spanning all clusters —
    unlike a bare ``.limit()``, which takes whatever rows the first
    partition returns. One pass (per-partition TakeOrderedAndProject, no
    count() and no full sort shuffle), deterministic for a fixed table.
    Lloyd iterations per subspace run in numpy on the driver; the
    (m, n_centroids, d/m) array broadcasts as a closure constant
    (256 KB at d=64/m=8)."""
    rows = (
        df.select(F.col(vec_col), F.xxhash64(vec_col).alias("__h"))
        .orderBy("__h")
        .limit(sample)
        .collect()
    )
    x = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    ncent = min(n_centroids, len(x))
    rng = np.random.RandomState(seed)
    books = np.empty((m, ncent, sub))
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        cent = xs[rng.choice(len(xs), size=ncent, replace=False)].copy()
        for _ in range(iters):
            dist = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = dist.argmin(1)
            for c in range(ncent):
                mask = assign == c
                if mask.any():
                    cent[c] = xs[mask].mean(0)
        books[j] = cent
    return books


def pq_encode(
    df: DataFrame, id_col: str, vec_col: str, codebooks: np.ndarray, out: str = "pq_code"
) -> DataFrame:
    """(id, pq_code binary): each vector becomes m uint8 centroid ids.
    Only the codes ever shuffle or persist — the scale path stores the
    codes table and drops the raw vectors from hot storage."""
    books = codebooks
    m, ncent, sub = books.shape
    schema = StructType([df.schema[id_col], StructField(out, BinaryType(), False)])

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = _as_matrix(pdf[vec_col])
            n = len(vecs)
            codes = np.empty((n, m), dtype=np.uint8)
            for j in range(m):
                xs = vecs[:, j * sub : (j + 1) * sub]
                dist = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = dist.argmin(1)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), out: list(codes.tobytes(order="C")[i * m : (i + 1) * m] for i in range(n))})

    return df.select(id_col, vec_col).mapInPandas(enc, schema=schema)


def pq_topk_batch(
    codes_df: DataFrame,
    id_col: str,
    queries,
    codebooks: np.ndarray,
    k: int = 10,
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes for MANY queries in
    one pass: the per-query (m, 256) distance tables are computed once
    on the driver and broadcast; each partition scores its codes with
    pure table lookups (no vector arithmetic per point), keeps a local
    top-k per query, and a window takes the global k. Returns
    (query_idx, id, adc_dist, rank) — smaller adc_dist = closer."""
    from pyspark.sql import Window

    books = codebooks
    m, ncent, sub = books.shape
    q = np.asarray(queries, dtype=np.float64)
    if q.ndim != 2:
        raise ValueError("queries must be a (n_queries, dim) matrix")
    nq = len(q)
    # tables[t, j, c] = ||q_t[j-th subvector] - codebook[j][c]||^2
    tables = np.empty((nq, m, ncent))
    for j in range(m):
        qs = q[:, j * sub : (j + 1) * sub]
        tables[:, j, :] = ((qs[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
    schema = StructType(
        [
            StructField("query_idx", IntegerType(), False),
            codes_df.schema[id_col],
            StructField("adc_dist", DoubleType(), False),
        ]
    )

    def part_topk(batches):
        best_ids = [None] * nq
        best_dist = [np.zeros(0)] * nq
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.frombuffer(b"".join(pdf[code_col]), dtype=np.uint8).reshape(-1, m)
            ids = pdf[id_col].to_numpy()
            # ADC: sum of m table lookups per (query, point)
            dists = np.zeros((nq, len(codes)))
            for j in range(m):
                dists += tables[:, j, :][:, codes[:, j]]
            for t in range(nq):
                cand_d = (
                    np.concatenate([best_dist[t], dists[t]])
                    if best_ids[t] is not None
                    else dists[t]
                )
                cand_i = (
                    np.concatenate([best_ids[t], ids])
                    if best_ids[t] is not None
                    else ids
                )
                top = np.argsort(cand_d, kind="stable")[:k]
                best_ids[t] = cand_i[top]
                best_dist[t] = cand_d[top]
        out_q, out_id, out_d = [], [], []
        for t in range(nq):
            if best_ids[t] is None:
                continue
            out_q.extend([t] * len(best_ids[t]))
            out_id.extend(best_ids[t])
            out_d.extend(best_dist[t])
        if out_q:
            yield pd.DataFrame(
                {"query_idx": np.array(out_q, dtype=np.int32), id_col: out_id, "adc_dist": out_d}
            )

    partials = codes_df.select(id_col, code_col).mapInPandas(part_topk, schema=schema)
    w = Window.partitionBy("query_idx").orderBy(F.asc("adc_dist"), F.col(id_col))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_idx", "rank")
    )
