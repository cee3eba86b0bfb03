"""As-of join (operators/temporal.py) vs a pure-python reference and
hand cases: backward semantics, exact-ts inclusion/exclusion, ties,
missing matches, and the one-exchange plan shape."""

import random

import pytest

from hlld_spark.operators.temporal import asof_join


def _ref_asof(left, right, allow_exact=True):
    # right rows: (k, t, v); ties pre-collapsed by max v
    best = {}
    for k, t, v in right:
        cur = best.get((k, t))
        if cur is None or v > cur:
            best[(k, t)] = v
    rr = sorted((k, t, v) for (k, t), v in best.items())
    out = {}
    for lk, lt, lid in left:
        cand = [
            (t, v)
            for (k, t, v) in rr
            if k == lk and (t <= lt if allow_exact else t < lt)
        ]
        out[lid] = max(cand)[1] if cand else None
    return out


@pytest.mark.spark
def test_asof_hand_case(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 5, "b"), (2, 7, "c"), (3, 9, "d")],
        "k long, t long, lid string",
    )
    right = spark.createDataFrame(
        [(1, 4, 100.0), (1, 10, 200.0), (2, 8, 300.0)],
        "k long, t long, price double",
    )
    out = {
        r["lid"]: r["price"]
        for r in asof_join(left, right, "k", "t", "t", ["price"]).collect()
    }
    # lid=a at t=10 sees the t=10 right row (allow_exact); b sees t=4;
    # c at 7 precedes the only k=2 row at 8 -> NULL; k=3 has no rows
    assert out == {"a": 200.0, "b": 100.0, "c": None, "d": None}

    strict = {
        r["lid"]: r["price"]
        for r in asof_join(
            left, right, "k", "t", "t", ["price"], allow_exact=False
        ).collect()
    }
    assert strict["a"] == 100.0  # the equal-ts row is now excluded


@pytest.mark.spark
def test_asof_random_matches_reference(spark):
    rng = random.Random(0xA50F)
    left = [(rng.randrange(6), rng.randrange(50), i) for i in range(300)]
    right = [
        (rng.randrange(6), rng.randrange(50), float(rng.randrange(1000)))
        for _ in range(120)
    ]
    ldf = spark.createDataFrame(left, "k long, t long, lid long")
    rdf = spark.createDataFrame(right, "k long, t long, v double")
    for allow in (True, False):
        got = {
            r["lid"]: r["v"]
            for r in asof_join(
                ldf, rdf, "k", "t", "t", ["v"], tie_col="v", allow_exact=allow
            ).collect()
        }
        assert got == _ref_asof(left, right, allow)


@pytest.mark.spark
def test_asof_single_exchange_plan(spark):
    ldf = spark.createDataFrame([(1, 1, 1)], "k long, t long, lid long")
    rdf = spark.createDataFrame([(1, 1, 1.0)], "k long, t long, v double")
    plan = (
        asof_join(ldf, rdf, "k", "t", "t", ["v"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # no join node at all: union + ONE keyed window (plus the right
    # side's pre-collapse aggregation)
    assert "Join" not in plan
    assert plan.count("Window") == 1
