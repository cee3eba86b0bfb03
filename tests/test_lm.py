"""Stupid-backoff n-gram LM (operators/lm.py) vs a 30-line pure-Python
reference implementation of the documented scoring semantics."""

import math
import random
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from hlld_spark.operators.lm import (
    ngram_counts,
    perplexity_filter,
    perplexity_scores,
    stupid_backoff_scores,
    train_stupid_backoff,
)


def _ref(train_texts, score_texts, alpha=0.4):
    tok = lambda t: re.findall("[a-z0-9]+", t.lower())
    c1, c2, c3 = Counter(), Counter(), Counter()
    for t in (tok(x) for x in train_texts):
        c1.update(t)
        c2.update(" ".join(t[i : i + 2]) for i in range(len(t) - 1))
        c3.update(" ".join(t[i : i + 3]) for i in range(len(t) - 2))
    n_total = sum(c1.values())
    out = []
    for t in (tok(x) for x in score_texts):
        lps = []
        for i, w in enumerate(t):
            m = min(3, i + 1)
            tri = " ".join(t[i - 2 : i + 1]) if i >= 2 else None
            big = " ".join(t[i - 1 : i + 1]) if i >= 1 else None
            if tri and c3[tri] > 0:
                s = c3[tri] / c2[" ".join(t[i - 2 : i])]
            elif big and c2[big] > 0:
                s = alpha ** (m - 2) * c2[big] / c1[t[i - 1]]
            elif c1[w] > 0:
                s = alpha ** (m - 1) * c1[w] / n_total
            else:
                s = alpha ** (m - 1) * alpha / n_total
            lps.append(math.log10(s))
        out.append((len(t), sum(lps) / len(lps)))
    return out


def _mk_corpus(seed, n_docs, vocab=24, lo=3, hi=40):
    rng = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    return [
        " ".join(rng.choice(words) for _ in range(rng.randrange(lo, hi)))
        for _ in range(n_docs)
    ]


@pytest.mark.spark
def test_ngram_counts_match_reference(spark):
    texts = _mk_corpus(1, 30)
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    tok = lambda t: re.findall("[a-z0-9]+", t.lower())
    want = Counter(
        " ".join(tok(t)[i : i + 2])
        for t in texts
        for i in range(len(tok(t)) - 1)
    )
    got = {r["gram"]: r["c"] for r in ngram_counts(df, "text", 2).collect()}
    assert got == dict(want)


@pytest.mark.spark
def test_self_scored_matches_reference(spark):
    texts = _mk_corpus(2, 40)
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logp"])
        for r in perplexity_scores(df, "doc_id", "text").collect()
    }
    want = _ref(texts, texts)
    for i, (n, lp) in enumerate(want):
        assert got[i][0] == n
        assert got[i][1] == pytest.approx(lp, rel=1e-9), i


@pytest.mark.spark
def test_held_out_unseen_tokens(spark):
    train = _mk_corpus(3, 25)
    heldout = ["w0 w1 zzznever seen w2 qqqalso", "zzz yyy xxx"]
    tdf = spark.createDataFrame([(t,) for t in train], "text string")
    sdf = spark.createDataFrame(list(enumerate(heldout)), "doc_id long, text string")
    counts = train_stupid_backoff(tdf, "text")
    total = counts[1].agg(F.sum("c")).collect()[0][0]
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logp"], r["ppl"])
        for r in stupid_backoff_scores(
            sdf, "doc_id", "text", counts, total
        ).collect()
    }
    want = _ref(train, heldout)
    for i, (n, lp) in enumerate(want):
        assert got[i][0] == n
        assert got[i][1] == pytest.approx(lp, rel=1e-9)
        assert got[i][2] == pytest.approx(10.0 ** -lp, rel=1e-9)


@pytest.mark.spark
def test_perplexity_filter_drops_noise(spark):
    texts = ["the data pipeline runs the data pipeline daily"] * 8 + [
        "zq xv jk qp wm zx cv bn"
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    scored = {
        r["doc_id"]: r["ppl"]
        for r in perplexity_scores(df, "doc_id", "text").collect()
    }
    assert scored[8] > max(scored[i] for i in range(8))
    kept = perplexity_filter(df, "doc_id", "text", max_ppl=scored[8] - 1e-6)
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == set(range(8))


@pytest.mark.spark
def test_broadcast_plan_shape(spark):
    """broadcast_counts=True: all five count joins are broadcast — the
    position stream's only Exchange is the final per-doc aggregation."""
    texts = _mk_corpus(4, 10)
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = perplexity_scores(df, "doc_id", "text", broadcast_counts=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 5, plan
    assert "SortMergeJoin" not in plan


@pytest.mark.spark
def test_pruned_join_path_matches_reference(spark):
    """``min_count`` prunes orders 2-3 of the join path's count tables;
    scores match the pruned reference on every doc, incl. short docs
    and held-out unseen tokens."""
    train = _mk_corpus(9, 35) + ["w0", "w1 w2", ""]
    score = train + ["zzz unseen qqq w3 w4"]
    tdf = spark.createDataFrame([(t,) for t in train], "text string")
    sdf = spark.createDataFrame(list(enumerate(score)), "doc_id long, text string")
    for mc in (1, 2):
        counts = train_stupid_backoff(tdf, "text", min_count=mc)
        total = counts[1].agg(F.sum("c")).collect()[0][0]
        got = {
            r["doc_id"]: (r["n_tokens"], r["avg_logp"], r["ppl"])
            for r in stupid_backoff_scores(sdf, "doc_id", "text", counts, total).collect()
        }
        want = _ref_pruned(train, score, mc)
        assert set(got) == set(want)
        for i in want:
            assert got[i][0] == want[i][0], i
            assert got[i][1] == pytest.approx(want[i][1], rel=1e-9), (mc, i)


def _ref_pruned(train_texts, score_texts, min_count, alpha=0.4):
    """Reference with min_count pruning of orders 2-3 (mirrors
    train_stupid_backoff)."""
    tok = lambda t: re.findall("[a-z0-9]+", t.lower())
    c1, c2, c3 = Counter(), Counter(), Counter()
    for t in (tok(x) for x in train_texts):
        c1.update(t)
        c2.update(" ".join(t[i : i + 2]) for i in range(len(t) - 1))
        c3.update(" ".join(t[i : i + 3]) for i in range(len(t) - 2))
    if min_count > 1:
        c2 = Counter({k: v for k, v in c2.items() if v >= min_count})
        c3 = Counter({k: v for k, v in c3.items() if v >= min_count})
    n_total = sum(c1.values())
    out = {}
    for di, t in enumerate(tok(x) for x in score_texts):
        if not t:
            continue
        lps = []
        for i, w in enumerate(t):
            m = min(3, i + 1)
            tri = " ".join(t[i - 2 : i + 1]) if i >= 2 else None
            ctx3 = " ".join(t[i - 2 : i]) if i >= 2 else None
            big = " ".join(t[i - 1 : i + 1]) if i >= 1 else None
            if tri and c3.get(tri, 0) > 0 and c2.get(ctx3, 0) > 0:
                s = c3[tri] / c2[ctx3]
            elif big and c2.get(big, 0) > 0 and c1.get(t[i - 1], 0) > 0:
                s = alpha ** (m - 2) * c2[big] / c1[t[i - 1]]
            elif c1.get(w, 0) > 0:
                s = alpha ** (m - 1) * c1[w] / n_total
            else:
                s = alpha ** (m - 1) * alpha / n_total
            lps.append(math.log10(s))
        out[di] = (len(t), sum(lps) / len(lps))
    return out
