"""Connected components and duplicate-cluster labeling, DataFrame-first.

Near-dup pair generators (MinHash LSH, SimHash, span-gram sharing) emit
EDGES; turning edges into duplicate CLUSTERS — so a pipeline keeps
exactly one document per cluster no matter how long the similarity
chain is — needs connected components. ``minhash_lsh_dedup``'s
pointer-jumping closure collapses chains up to 2^rounds links; this
module provides the exact fixpoint: the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014), which converges in O(log² n) rounds
independent of chain depth and shuffles only (node, node) scalar pairs.

Reference scope note: armon/hlld has no graph operators — this module
exists for the web-scale training-data pipeline layer (duplicate
clusters over crawl corpora), same motivation as operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _star_round(sym: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star round over a symmetric edge list.

    ``sym`` holds BOTH directions of every undirected edge, columns
    (a, b). Each round repartitions by ``a`` once; the groupBy-min and
    the join both reuse that partitioning (one Exchange per round for
    the neighborhood pass, plus the output ``distinct``).
    """
    sym = sym.repartition(F.col("a"))
    mins = sym.groupBy("a").agg(F.min("b").alias("nmin"))
    joined = sym.join(mins, "a").withColumn("m", F.least(F.col("nmin"), F.col("a")))
    if large:
        # connect every strictly-larger neighbor to min(N(u) ∪ {u})
        out = joined.where(F.col("b") > F.col("a")).select(
            F.col("b").alias("a"), F.col("m").alias("b")
        )
    else:
        # connect every smaller-or-equal neighbor (and u itself) to the min
        out = (
            joined.where((F.col("b") <= F.col("a")) & (F.col("b") != F.col("m")))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(
                mins.select(
                    F.col("a"), F.least(F.col("nmin"), F.col("a")).alias("b")
                ).where(F.col("a") != F.col("b"))
            )
        )
    return out.where(F.col("a") != F.col("b")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Exact connected components of an undirected graph.

    Returns (node, component) for every node that appears in ``edges``,
    where ``component`` is the MINIMUM node id reachable from it (so
    labels are deterministic and usable as keeper ids directly).
    Isolated nodes never appear in an edge list — callers label them by
    left-joining and coalescing to the node's own id (see
    :func:`attach_components`).

    Algorithm: alternating large-star / small-star (Kiveris et al.
    2014). Each round shuffles only scalar (node, node) pairs — payload
    never enters the loop — and the edge count is non-increasing after
    the first small-star, so the per-round cost SHRINKS as components
    collapse into stars. Convergence is detected by an order-invariant
    checksum (count + sum of xxhash64(a, b)); the loop truncates
    lineage with ``localCheckpoint`` every round (on a real cluster
    with executor churn, set a checkpoint dir and swap to
    ``checkpoint`` — localCheckpoint trades fault-tolerance for speed,
    the right default in this container).

    Raises ``RuntimeError`` if ``max_iter`` rounds pass without the
    fixpoint (the published bound is O(log² n) rounds; 50 covers any
    graph this engine would see end-to-end).
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropna()
        .distinct()
    )
    prev_sig = None
    for _ in range(max_iter):
        sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        e = _star_round(sym, large=True)
        sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        e = _star_round(sym, large=False).localCheckpoint(eager=True)
        # order-invariant fingerprint; XOR cannot overflow under ANSI
        # mode and edges are distinct, so it identifies the edge SET
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # fixpoint state is a star forest rooted at each component's min:
    # every non-root appears exactly once as (node, root)
    return e.select(F.col("a").alias("node"), F.col("b").alias("component")).unionByName(
        e.select(F.col("b").alias("node"), F.col("b").alias("component"))
    ).distinct()


def attach_components(
    df: DataFrame, id_col: str, labels: DataFrame, out_col: str = "component"
) -> DataFrame:
    """Left-join component labels onto ``df``; rows absent from the edge
    set (isolated nodes) get their own id as the label."""
    lab = labels.select(
        F.col("node").alias(id_col), F.col("component").alias(out_col)
    )
    return df.join(lab, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.col(id_col))
    )


def span_dup_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span: int = 50,
    min_docs: int = 2,
    stride: int = 1,
) -> DataFrame:
    """Hub edges from shared exact substrings: for every ``span``-char
    gram occurring in ≥ ``min_docs`` distinct documents, connect each
    sharing document to the MIN doc id of that gram (a star per gram —
    identical connected components to the clique, at linear edge count).

    Reuses the vectorized span-gram kernel of
    :func:`hlld_spark.operators.dedup.duplicated_span_counts`; the gram
    stream is repartitioned once by gram hash and both the hub
    aggregation and the membership join reuse that partitioning. Output
    edges are scalar (id, id) pairs — text never leaves the map side.
    """
    from .dedup import _span_gram_stream

    grams = _span_gram_stream(df, id_col, text_col, span, stride).repartition(
        F.col("gram_hash")
    )
    per_gram = grams.groupBy("gram_hash").agg(
        F.min(id_col).alias("hub"),
        F.count_distinct(F.col(id_col)).alias("nd"),
    )
    hubs = per_gram.where(F.col("nd") >= min_docs).select("gram_hash", "hub")
    return (
        grams.join(hubs, "gram_hash")
        .where(F.col(id_col) != F.col("hub"))
        .select(F.col(id_col).alias("src"), F.col("hub").alias("dst"))
        .distinct()
    )


def dup_span_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span: int = 50,
    min_docs: int = 2,
    stride: int = 1,
) -> DataFrame:
    """Label every document with its exact-substring duplicate cluster:
    docs sharing any ``span``-char substring (transitively) get one
    cluster id = the min doc id of the cluster. Composition of
    :func:`span_dup_edges` → :func:`connected_components` →
    :func:`attach_components`; returns (id_col, cluster_id)."""
    edges = span_dup_edges(df, id_col, text_col, span, min_docs, stride)
    labels = connected_components(edges)
    return attach_components(
        df.select(id_col), id_col, labels, out_col="cluster_id"
    )


def minhash_cluster_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 128,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    max_bucket_pairwise: int = 256,
    shingle_unit: str = "char",
) -> DataFrame:
    """MinHash near-dup labeling with EXACT transitive closure: the full
    verified pair set (every bucket-cohabiting pair whose estimated
    Jaccard ≥ threshold, not just min-id anchors) feeds
    :func:`connected_components`, so arbitrarily long similarity chains
    collapse to one keeper — the guarantee ``minhash_lsh_dedup``'s
    2^closure_rounds pointer jumping only approximates. Returns
    (id, keeper_id); keeper = min id of the near-dup cluster."""
    from .dedup import minhash_match_pairs

    pairs = minhash_match_pairs(
        df,
        id_col,
        text_col,
        num_perm=num_perm,
        bands=bands,
        shingle_k=shingle_k,
        threshold=threshold,
        max_bucket_pairwise=max_bucket_pairwise,
        shingle_unit=shingle_unit,
    )
    labels = connected_components(pairs, src="id", dst="keeper_id")
    return attach_components(
        df.select(F.col(id_col).alias("id")), "id", labels, out_col="keeper_id"
    )
