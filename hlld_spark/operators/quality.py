"""fastText-style quality classifier over hashed n-gram features —
distributed logistic-regression training + pure-Catalyst scoring.

The model-based quality-filtering stage every modern pretraining
pipeline runs (GPT-3's LR filter, CCNet/fastText, DCLM's fastText
classifier): a LINEAR classifier over a hashed bag of unigram+bigram
features, scored as

    p(quality | d) = sigmoid( mean_{g in grams(d)} w[b(g)] + bias )

Feature space and tokenizer are SHARED with operators/dsir.py
(whitespace tokens, md5-hex-prefix buckets, B = 16^prefix_len), so a
corpus tokenized once can feed both selection stages and the driver
oracle replays scoring exactly in DuckDB.

Training is deterministic full-batch gradient descent with the driver
as the parameter server — the textbook distributed-GD shape when the
parameter vector is small and the data is huge:

* the exploded (doc, bucket) pair table is computed ONCE and cached;
* each iteration runs two scalar-only passes over it (forward margins
  keyed by doc, gradient keyed by bucket) — exchanges carry (id,
  double) / (hex4, double) pairs, never document text;
* the gradient table is bounded by B (65 536 rows at the default
  prefix_len=4), collected to the driver, applied to a numpy weight
  vector, and re-broadcast — per-iteration driver traffic is O(B),
  independent of corpus size.

Full-batch GD is exact and reproducible (no RNG, no sampling); for a
100-TB corpus one would switch the driver loop to mini-batches over
md5-keyed `sampling.stratified_sample` slices — the per-iteration plan
is unchanged.

Reference scope note: armon/hlld has nothing comparable; this module
belongs to the LLM-data-pipeline layer of the brief.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from hlld_spark.operators.dsir import _gram_buckets

BIAS_BUCKET = "_b__"  # '_' is outside the hex alphabet -> collision-free


def _pair_table(
    df: DataFrame, id_col: str, text_col: str, prefix_len: int, n: int
) -> DataFrame:
    """Exploded (id, bucket, n_grams) pairs; zero-token docs drop out
    (their score is undefined, same contract as dsir weights)."""
    grams = _gram_buckets(F.col(text_col), prefix_len, n)
    return df.select(
        F.col(id_col).alias("__id"),
        F.size(grams).alias("__n"),
        F.explode(grams).alias("bucket"),
    )


def train_quality_classifier(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "doc_id",
    text_col: str = "text",
    iters: int = 30,
    lr: float = 2.0,
    l2: float = 1e-4,
    prefix_len: int = 4,
    n: int = 2,
) -> tuple[dict[str, float], float]:
    """Full-batch logistic GD; returns ``(weights, bias)`` where
    ``weights`` maps bucket hex -> weight (only buckets seen in
    training; unseen buckets score 0 at inference). Update rule per
    iteration, N = number of scoreable docs:

        r_i   = sigmoid(dot_i + bias) - y_i
        w[b] -= lr * ( sum_i r_i * c_ib / n_i / N + l2 * w[b] )
        bias -= lr * mean_i(r_i)
    """
    spark = df.sparkSession
    pairs = _pair_table(df, id_col, text_col, prefix_len, n)
    labels = df.select(
        F.col(id_col).alias("__id"), F.col(label_col).cast("double").alias("__y")
    )
    pairs = pairs.join(labels, "__id").cache()
    n_docs = pairs.select("__id").distinct().count()
    if n_docs == 0:
        raise ValueError("no scoreable documents (all zero-token)")

    buckets = [r["bucket"] for r in pairs.select("bucket").distinct().collect()]
    buckets.sort()
    idx = {b: i for i, b in enumerate(buckets)}
    w = np.zeros(len(buckets))
    bias = 0.0
    try:
        for _ in range(iters):
            wdf = spark.createDataFrame(
                [(b, float(w[idx[b]])) for b in buckets], "bucket string, __w double"
            )
            scored = (
                pairs.join(F.broadcast(wdf), "bucket", "left")
                .groupBy("__id")
                .agg(
                    (F.sum(F.coalesce(F.col("__w"), F.lit(0.0)) / F.col("__n"))).alias("__dot"),
                    F.first("__y").alias("__y"),
                    F.first("__n").alias("__n"),
                )
                .withColumn(
                    "__r",
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("__dot") + F.lit(bias))))
                    - F.col("__y"),
                )
            )
            grad_rows = (
                pairs.select("__id", "bucket", "__n")
                .join(scored.select("__id", "__r"), "__id")
                .groupBy("bucket")
                .agg(F.sum(F.col("__r") / F.col("__n")).alias("__g"))
                .collect()
            )
            bias_grad = scored.agg(F.sum("__r")).collect()[0][0]
            g = np.zeros_like(w)
            for r in grad_rows:
                g[idx[r["bucket"]]] = r["__g"]
            w -= lr * (g / n_docs + l2 * w)
            bias -= lr * (bias_grad / n_docs)
    finally:
        pairs.unpersist()
    return {b: float(w[idx[b]]) for b in buckets}, float(bias)


def weights_to_df(
    spark: SparkSession, weights: dict[str, float], bias: float
) -> DataFrame:
    """Serializable model table: (bucket, w) rows plus the reserved
    ``_b__`` bias row — one parquet round-trips the whole model."""
    rows = [(b, float(v)) for b, v in sorted(weights.items())]
    rows.append((BIAS_BUCKET, float(bias)))
    return spark.createDataFrame(rows, "bucket string, w double")


def split_model_df(model: DataFrame) -> tuple[DataFrame, float]:
    bias_rows = model.filter(F.col("bucket") == BIAS_BUCKET).collect()
    bias = bias_rows[0]["w"] if bias_rows else 0.0
    return model.filter(F.col("bucket") != BIAS_BUCKET), float(bias)


def score_quality(
    df: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "quality_score",
    prefix_len: int = 4,
    n: int = 2,
) -> DataFrame:
    """Per-document quality scores ``(id, score)``: explode grams,
    broadcast-join the bounded weight table (unseen buckets coalesce
    to 0 but still count in the mean's denominator), sigmoid of mean
    weight + bias. Returns scalars only — attach via join/semi-join so
    payloads never ride the exchange (the dsir/dedup convention)."""
    wdf, bias = split_model_df(model)
    pairs = _pair_table(df, id_col, text_col, prefix_len, n)
    dot = (
        pairs.join(F.broadcast(wdf), "bucket", "left")
        .groupBy("__id")
        .agg(F.sum(F.coalesce(F.col("w"), F.lit(0.0)) / F.col("__n")).alias("__dot"))
    )
    return dot.select(
        F.col("__id").alias(id_col),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("__dot") + F.lit(bias))))).alias(out_col),
    )


def filter_by_quality(
    df: DataFrame,
    model: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kw,
) -> DataFrame:
    """Keep docs scoring >= threshold — broadcast left-semi attach of
    the (usually selective) keeper-id set."""
    keep = score_quality(df, model, id_col, text_col, **kw).filter(
        F.col("quality_score") >= F.lit(float(threshold))
    ).select(id_col)
    return df.join(F.broadcast(keep), id_col, "left_semi")


# ---------------------------------------------------------------------------
# deterministic labeled fixture + an INDEPENDENT numpy trainer
# ---------------------------------------------------------------------------


_GOOD_POOL = (
    "the quick brown fox jumps over a lazy dog while morning light "
    "filters through tall windows and quiet readers turn their pages "
    "slowly savoring each printed word with patient curious attention"
).split()

_JUNK_POOL = (
    "click here buy now free offer winner casino jackpot xxx sale "
    "subscribe login menu home 999 000 111 zzz qqq vvv kkk www http"
).split()


def _synth_doc(i: int, good: bool, n_tokens: int = 18) -> str:
    pool = _GOOD_POOL if good else _JUNK_POOL
    toks = [pool[(i * 7 + j * 13 + (3 if good else 5)) % len(pool)] for j in range(n_tokens)]
    return " ".join(toks)


def write_quality_fixture(dirpath: str, n_train: int = 200, n_test: int = 120) -> str:
    """Idempotent fixture: ``train.parquet`` (doc_id, text, label) and
    ``test.parquet`` (doc_id, text, label), labels balanced, plus
    ``model.parquet`` — weights trained by the REFERENCE numpy
    implementation below (dense matrix GD, shares no code with the
    Spark trainer). The driver oracle replays SCORING with these
    stored weights in DuckDB; pytest separately checks the Spark
    trainer converges to the same weights."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    done = os.path.join(dirpath, "model.parquet")
    if os.path.exists(done):
        return dirpath
    os.makedirs(dirpath, exist_ok=True)

    def mk(n, base):
        rows = []
        for i in range(n):
            good = i % 2 == 0
            rows.append((base + i, _synth_doc(base + i, good), 1 if good else 0))
        return rows

    train, test = mk(n_train, 0), mk(n_test, 100000)
    for name, rows in (("train", train), ("test", test)):
        tab = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "label": pa.array([r[2] for r in rows], pa.int32()),
            }
        )
        pq.write_table(tab, os.path.join(dirpath, f"{name}.parquet"))

    weights, bias = numpy_reference_train(
        [(r[1], r[2]) for r in train], iters=30, lr=2.0, l2=1e-4
    )
    rows = sorted(weights.items()) + [(BIAS_BUCKET, bias)]
    tab = pa.table(
        {
            "bucket": pa.array([b for b, _ in rows], pa.string()),
            "w": pa.array([float(v) for _, v in rows], pa.float64()),
        }
    )
    tmp = done + ".tmp"
    pq.write_table(tab, tmp)
    os.replace(tmp, done)
    return dirpath


def numpy_reference_train(
    labeled_texts: list[tuple[str, int]],
    iters: int = 30,
    lr: float = 2.0,
    l2: float = 1e-4,
    prefix_len: int = 4,
) -> tuple[dict[str, float], float]:
    """Dense single-machine reference trainer (hashlib + numpy; no
    Spark) implementing the same update rule — the truth the Spark
    trainer is tested against, and the trainer of the stored fixture
    model."""
    import hashlib

    def buckets(text):
        toks = [t for t in text.strip().split() if t]
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return [hashlib.md5(g.encode()).hexdigest()[:prefix_len] for g in grams]

    docs = [(buckets(t), y) for t, y in labeled_texts]
    docs = [(bs, y) for bs, y in docs if bs]
    vocab = sorted({b for bs, _ in docs for b in bs})
    idx = {b: i for i, b in enumerate(vocab)}
    X = np.zeros((len(docs), len(vocab)))
    y = np.array([d[1] for d in docs], dtype=float)
    for r, (bs, _) in enumerate(docs):
        for b in bs:
            X[r, idx[b]] += 1.0 / len(bs)
    w = np.zeros(len(vocab))
    bias = 0.0
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(X @ w + bias)))
        r = p - y
        w -= lr * (X.T @ r / len(docs) + l2 * w)
        bias -= lr * float(r.mean())
    return {b: float(w[idx[b]]) for b in vocab}, float(bias)

