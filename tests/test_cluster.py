"""Connected components + duplicate-cluster labeling (operators/cluster.py).

Reference oracle = a 20-line union-find in the test file; the Spark
implementation is the alternating large-star/small-star fixpoint, so
any star-round emission bug (wrong side of the comparison, lost root
edge, premature convergence) diverges from union-find on the random
graphs below.
"""

import random

import pytest

from hlld_spark.operators.cluster import (
    attach_components,
    connected_components,
    dup_span_clusters,
    minhash_cluster_dedup,
    span_dup_edges,
)


def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label = min member of the component
    label = {}
    for v in range(n_nodes):
        r = find(v)
        label.setdefault(r, v)  # nodes visited in increasing order
    return {v: label[find(v)] for v in range(n_nodes)}


def _cc_spark(spark, edges):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = connected_components(df)
    return {r["node"]: r["component"] for r in out.collect()}


@pytest.mark.spark
def test_connected_components_random_graphs(spark):
    rng = random.Random(0xC0FFEE)
    for trial, (n, m) in enumerate([(12, 6), (40, 25), (60, 90), (30, 5)]):
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        truth = _uf_components(n, edges)
        got = _cc_spark(spark, edges)
        touched = {a for e in edges for a in e if e[0] != e[1]}
        for v in touched:
            assert got[v] == truth[v], (trial, v)
        # nodes only in self-loops / absent must not appear
        assert set(got) == {v for v in touched}


@pytest.mark.spark
def test_connected_components_long_chain(spark):
    # a 64-link path: pointer jumping with k rounds only covers 2^k —
    # the star fixpoint must label every node with 0 regardless
    edges = [(i, i + 1) for i in range(64)]
    got = _cc_spark(spark, edges)
    assert set(got.values()) == {0} and len(got) == 65


@pytest.mark.spark
def test_attach_components_labels_isolated(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id bigint")
    labels = connected_components(
        spark.createDataFrame([(1, 4), (4, 2)], "src bigint, dst bigint")
    )
    out = {
        r["doc_id"]: r["component"]
        for r in attach_components(docs, "doc_id", labels).collect()
    }
    assert out == {0: 0, 1: 1, 2: 1, 3: 3, 4: 1, 5: 5}


@pytest.mark.spark
def test_span_dup_edges_and_clusters(spark):
    shared1 = "the quick brown fox jumps over the lazy dog tonight"
    shared2 = "pack my box with five dozen liquor jugs right away ok"
    rows = [
        (1, shared1 + " alpha unique tail one"),
        (2, "prefix two " + shared1 + " and " + shared2),
        (3, shared2 + " gamma unique tail three"),
        (4, "совершенно другой текст без общих подстрок вообще"),
        (5, "another totally unrelated document body goes here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    edges = {
        (r["src"], r["dst"])
        for r in span_dup_edges(docs, "doc_id", "text", span=30).collect()
    }
    # every edge points at the min sharer; 1-2 share shared1, 2-3 share shared2
    assert (2, 1) in edges and (3, 2) in edges
    assert not any(4 in e or 5 in e for e in edges)

    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dup_span_clusters(docs, "doc_id", "text", span=30).collect()
    }
    # 3 is transitively in 1's cluster through 2 even though 1∩3 share nothing
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}


@pytest.mark.spark
def test_minhash_cluster_dedup_transitive_chain(spark):
    # chain of sliding near-dups: consecutive docs are near-identical,
    # endpoints are dissimilar — exact CC must give ONE keeper
    base = (
        "data pipelines shuffle partition broadcast join aggregate scan "
        "filter project sort window stream batch sketch register merge "
        "estimate cardinality bloom filter countmin quantile digest "
    ).split()
    rows = []
    for i in range(6):
        toks = list(base)
        for j in range(3 * i):  # cumulative position-keyed mutations:
            toks[j] = f"mut{j}"  # consecutive J≈0.47, endpoints J≈0.15
        rows.append((i + 10, " ".join(toks)))
    rows.append((99, "completely different text about nothing at all here"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["id"]: r["keeper_id"]
        for r in minhash_cluster_dedup(
            docs, "doc_id", "text", threshold=0.4, shingle_unit="token",
            shingle_k=3, bands=32,  # 4 rows/band: catch P ≈ 1 at J≈0.47
        ).collect()
    }
    assert out[99] == 99
    chain = {out[i + 10] for i in range(6)}
    assert chain == {10}, out
