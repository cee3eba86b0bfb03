"""Companion sketches through the full Spark two-phase pipeline, rollup
re-aggregation, and the distributed registry bulk path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hlld_spark.core.accumulator import HllSpec, deserialize_any
from hlld_spark.core.bloom import BloomSpec
from hlld_spark.core.cms import CmsSpec
from hlld_spark.core.kll import KllSpec
from hlld_spark.core.tdigest import TDigestSpec
from hlld_spark.operators.sketch import (
    build_sketches,
    merge_sketches,
    rollup_sketches,
    with_estimate,
)
from hlld_spark.registry import SketchRegistry

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").cache()


def test_cms_through_spark(spark, events):
    spec = CmsSpec(width=1024, depth=4)
    rows = build_sketches(events, ["event_type"], "user_id", spec).collect()
    exact = {r["event_type"]: r["n"] for r in events.groupBy("event_type").agg(F.count("user_id").alias("n")).collect()}
    for r in rows:
        acc, state, sp = deserialize_any(bytes(r["sketch"]))
        assert acc.estimate(state, sp) == exact[r["event_type"]]  # total is exact
        # shard-invariance: distributed == local single build
    # byte-identity across partitionings (counter sums are exact)
    a = {r["event_type"]: bytes(r["sketch"]) for r in rows}
    b = {
        r["event_type"]: bytes(r["sketch"])
        for r in build_sketches(events.repartition(13), ["event_type"], "user_id", spec).collect()
    }
    assert a == b


def test_bloom_through_spark(spark, events):
    spec = BloomSpec(bits=1 << 15, hashes=5)
    ev = events.withColumn("uid", F.col("user_id").cast("string"))
    row = build_sketches(ev, [], "uid", spec).collect()[0]
    acc, state, sp = deserialize_any(bytes(row["sketch"]))
    ids = [r["uid"] for r in ev.select("uid").distinct().collect()]
    assert acc.contains(state, ids, sp).all()  # no false negatives through Spark
    probes = [f"absent-{i}" for i in range(5000)]
    assert acc.contains(state, probes, sp).mean() < 0.05


def test_tdigest_through_spark(spark, events):
    spec = TDigestSpec(compression=200)
    row = build_sketches(events, [], "value", spec).collect()[0]
    acc, state, sp = deserialize_any(bytes(row["sketch"]))
    vals = np.sort(np.array([r["value"] for r in events.select("value").collect()]))
    for q in (0.1, 0.5, 0.9):
        est = acc.quantile(state, q, sp)
        rank = np.searchsorted(vals, est) / len(vals)
        assert abs(rank - q) < 0.02


def test_kll_through_spark(spark, events):
    spec = KllSpec(k=256)
    row = build_sketches(events, [], "value", spec).collect()[0]
    acc, state, sp = deserialize_any(bytes(row["sketch"]))
    assert state.n == events.filter(F.col("value").isNotNull()).count()
    vals = np.sort(np.array([r["value"] for r in events.select("value").collect()]))
    for q in (0.25, 0.5, 0.75):
        rank = np.searchsorted(vals, acc.quantile(state, q, sp)) / len(vals)
        assert abs(rank - q) < 0.03


def test_rollup_sketches(spark, events):
    ev = events.withColumn("day", F.to_date("ts"))
    spec = HllSpec(14)
    roll = with_estimate(rollup_sketches(ev, ["event_type", "day"], "user_id", spec)).cache()
    # finest grain rows + per-type rows + grand total
    n_types = events.select("event_type").distinct().count()
    assert roll.filter("grouping_level = 1").count() == n_types
    assert roll.filter("grouping_level = 2").count() == 1
    # grand total == direct global build, byte-identical
    direct = build_sketches(ev, [], "user_id", spec).collect()[0]
    total = roll.filter("grouping_level = 2").collect()[0]
    assert bytes(total["sketch"]) == bytes(direct["sketch"])
    assert total["n_rows"] == direct["n_rows"]
    # per-type == direct per-type build
    per_type = {r["event_type"]: bytes(r["sketch"]) for r in roll.filter("grouping_level = 1").collect()}
    direct_t = {r["event_type"]: bytes(r["sketch"]) for r in build_sketches(ev, ["event_type"], "user_id", spec).collect()}
    assert per_type == direct_t


_N_ROLLUP = 12000


def _rollup_frame(spark):
    """Keys a (3 values) × b (4 values), a string column u with repeats,
    and a double column v whose values per group are known exactly."""
    return spark.range(0, _N_ROLLUP, 1, 4).selectExpr(
        "cast(id % 3 as string) AS a",
        "cast(id % 4 as string) AS b",
        "cast(id % 5000 as string) AS u",
        "cast((id * 7919) % 10007 as double) AS v",
    )


@pytest.mark.parametrize(
    "spec",
    [HllSpec(12), CmsSpec(width=1024, depth=4), BloomSpec(bits=1 << 14, hashes=3), KllSpec(), TDigestSpec()],
    ids=lambda s: s.kind,
)
def test_rollup_levels_for_every_kind(spark, spec):
    """Level g of a rollup is the finest build merged to ``keys[:2-g]``.
    HLL, CMS and Bloom merges are exact, so the bytes equal both
    ``merge_sketches(finest, keys[:2-g])`` and a direct build at that grain.
    KLL and t-digest levels fold the finest sketches, whose merge order
    may change bytes; their contract is rank error (core/kll.py), so
    those levels are checked by ``n_rows`` and rank error ≤ 0.03."""
    keys = ["a", "b"]
    df = _rollup_frame(spark)
    col = "v" if spec.kind in ("kll", "tdigest") else "u"
    roll = rollup_sketches(df, keys, col, spec).collect()
    finest = build_sketches(df, keys, col, spec)
    ids = np.arange(_N_ROLLUP)
    values = ((ids * 7919) % 10007).astype(np.float64)
    for g in range(3):
        kept = keys[: 2 - g]
        level = {tuple(r[k] for k in kept): r for r in roll if r["grouping_level"] == g}
        assert all(r[k] is None for r in level.values() for k in keys[2 - g :])
        merged = {tuple(r[k] for k in kept): r for r in merge_sketches(finest, kept).collect()}
        direct = {tuple(r[k] for k in kept): r for r in build_sketches(df, kept, col, spec).collect()}
        assert set(level) == set(merged) == set(direct)
        for key, r in level.items():
            assert r["n_rows"] == merged[key]["n_rows"] == direct[key]["n_rows"]
            if spec.kind not in ("kll", "tdigest"):
                assert bytes(r["sketch"]) == bytes(merged[key]["sketch"]) == bytes(direct[key]["sketch"]), (g, key)
                continue
            mask = np.ones(_N_ROLLUP, dtype=bool)
            for k, m, val in zip(keys, (3, 4), key):
                mask &= ids % m == int(val)
            vals = np.sort(values[mask])
            acc, state, sp = deserialize_any(bytes(r["sketch"]))
            for q in (0.1, 0.25, 0.5, 0.75, 0.9):
                rank = np.searchsorted(vals, acc.quantile(state, q, sp)) / len(vals)
                assert abs(rank - q) <= 0.03, (g, key, q, rank)


def test_rollup_null_and_nan_keys(spark):
    """A real NULL group and a key aggregated out by the rollup are both
    NULL, but ``grouping_level`` keeps them apart, and a NaN key stays
    NaN: every level equals a direct build at that grain."""
    ks = [None, float("nan"), 1.5, -2.0]
    ss = [None, "x", "y"]
    rows = [(ks[i % 4], ss[i // 4 % 3], f"u{i % 700}") for i in range(6000)]
    df = spark.createDataFrame(rows, "k double, s string, v string").repartition(3)
    spec = HllSpec(12)
    keys = ["k", "s"]

    def key(vals):
        return tuple("nan" if v != v else v for v in vals)

    roll = rollup_sketches(df, keys, "v", spec).collect()
    for g, n_groups in ((0, 12), (1, 4), (2, 1)):
        kept = keys[: 2 - g]
        level = [r for r in roll if r["grouping_level"] == g]
        assert all(r[k] is None for r in level for k in keys[2 - g :])
        got = {key(r[k] for k in kept): (bytes(r["sketch"]), r["n_rows"]) for r in level}
        want = {
            key(r[k] for k in kept): (bytes(r["sketch"]), r["n_rows"])
            for r in build_sketches(df, kept, "v", spec).collect()
        }
        assert len(level) == len(got) == n_groups
        assert got == want, g
    assert sum(r["n_rows"] for r in roll) == 3 * 6000


def test_registry_add_dataframe(spark, events, tmp_path):
    reg = SketchRegistry(str(tmp_path / "reg"))
    reg.create("users", precision=14)
    reg.add_dataframe("users", events, "user_id")
    exact = events.select("user_id").distinct().count()
    got = reg.info("users")["size"]
    assert abs(got - exact) / exact < 0.05
    assert reg.info("users")["sets"] == events.filter(F.col("user_id").isNotNull()).count()
    # incremental distributed adds merge correctly (idempotent re-add)
    reg.add_dataframe("users", events, "user_id")
    assert reg.info("users")["size"] == got
