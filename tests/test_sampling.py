"""Deterministic sampling + blocklist (operators/sampling.py)."""

import hashlib

import pytest

from hlld_spark.operators.sampling import (
    blocklist_pattern,
    filter_blocklist,
    sample_threshold_hex,
    stratified_sample,
    with_blocklist_hits,
)


def _ref_keep(key, fraction, seed=0):
    h = hashlib.md5(f"{key}:{seed}".encode()).hexdigest()[:8]
    return h < sample_threshold_hex(fraction)


@pytest.mark.spark
def test_deterministic_sample_membership_matches_reference(spark):
    df = spark.createDataFrame([(i, "en") for i in range(2000)], "k long, lang string")

    def kept(seed):
        out = stratified_sample(df, "k", "lang", {"en": 0.3}, default_fraction=0.0, seed=seed)
        return {r["k"] for r in out.collect()}

    got = kept(7)
    assert got == {i for i in range(2000) if _ref_keep(i, 0.3, 7)}
    assert 0.25 < len(got) / 2000 < 0.35
    # rerun identical; different seed differs
    assert kept(7) == got
    assert kept(8) != got


@pytest.mark.spark
def test_stratified_fractions(spark):
    rows = [(i, "en" if i % 3 else "ta") for i in range(3000)]
    df = spark.createDataFrame(rows, "k long, lang string")
    out = stratified_sample(df, "k", "lang", {"en": 0.1}, default_fraction=1.0, seed=1)
    kept = [(r["k"], r["lang"]) for r in out.collect()]
    ta = [k for k, l in kept if l == "ta"]
    en = [k for k, l in kept if l == "en"]
    assert len(ta) == 1000  # default keeps every unlisted stratum row
    assert 120 < len(en) < 280
    for k in en:
        assert _ref_keep(k, 0.1, 1)


def test_threshold_edges():
    assert sample_threshold_hex(0.0) == "00000000"
    assert sample_threshold_hex(1.0) == "gggggggg"
    with pytest.raises(ValueError):
        sample_threshold_hex(1.5)


@pytest.mark.spark
def test_blocklist_counts_and_filter(spark):
    rows = [
        (0, "the Quick brown fox"),
        (1, "quicksilver is not the word quick here twice quick"),
        (2, "clean text entirely"),
        (3, "symbols c++ and .net need escaping"),
    ]
    df = spark.createDataFrame(rows, "i long, text string")
    hits = {
        r["i"]: r["blocklist_hits"]
        for r in with_blocklist_hits(df, "text", ["quick", "c++"]).collect()
    }
    # word boundaries: 'quicksilver' does not count; case-insensitive
    assert hits == {0: 1, 1: 2, 2: 0, 3: 1}
    kept = {r["i"] for r in filter_blocklist(df, "text", ["quick", "c++"]).collect()}
    assert kept == {2}
    kept1 = {
        r["i"]
        for r in filter_blocklist(df, "text", ["quick", "c++"], max_hits=1).collect()
    }
    assert kept1 == {0, 2, 3}


def test_blocklist_pattern_escapes():
    pat = blocklist_pattern(["a.b", "x(y)"])
    import re

    assert re.search(pat, "a.b") and not re.search(pat, "aXb")


@pytest.mark.spark
def test_plans_stay_in_codegen(spark):
    df = spark.createDataFrame([(1, "x", "en")], "k long, text string, lang string")
    for q in (
        stratified_sample(df, "k", "lang", {"en": 0.5}),
        filter_blocklist(df, "text", ["bad"]),
    ):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Python" not in plan


@pytest.mark.spark
def test_mix_corpora_matches_md5_reference(spark):
    """Weighted mixing: copy counts replicate the pure-python md5 rule
    exactly — floor(w) copies plus one iff the hash fraction < frac."""
    import hashlib

    from hlld_spark.operators.sampling import mix_corpora, sample_threshold_hex

    rows = [(i, f"text {i}", "en" if i % 2 else "de") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    srcs = {l: df.filter(df.lang == l) for l in ("en", "de")}
    w = {"en": 1.5, "de": 0.25}
    got = sorted(
        (r["source"], r["doc_id"], r["copy"])
        for r in mix_corpora(srcs, w, "doc_id", seed=3)
        .select("source", "doc_id", "copy")
        .collect()
    )
    exp = []
    for name, wt in w.items():
        whole = int(wt)
        thr = sample_threshold_hex(wt - whole)
        for i, _, l in rows:
            if l != name:
                continue
            h = hashlib.md5(f"{i}:3:{name}".encode()).hexdigest()[:8]
            exp += [(name, i, c) for c in range(whole + (1 if h < thr else 0))]
    assert got == sorted(exp)
    assert any(c == 1 for _, _, c in got)  # upsampled epochs exist


@pytest.mark.spark
def test_mix_corpora_zero_weight_and_validation(spark):
    from hlld_spark.operators.sampling import mix_corpora

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    assert mix_corpora({"a": df}, {"a": 0.0}, "doc_id").count() == 0
    with pytest.raises(ValueError):
        mix_corpora({"a": df}, {"b": 1.0}, "doc_id")
    with pytest.raises(ValueError):
        mix_corpora({"a": df}, {"a": -0.5}, "doc_id")
    with pytest.raises(ValueError):
        mix_corpora({}, {}, "doc_id")


@pytest.mark.spark
def test_mix_corpora_is_shuffle_free(spark):
    from hlld_spark.operators.sampling import mix_corpora

    df = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, text string")
    out = mix_corpora({"a": df, "b": df}, {"a": 2.0, "b": 0.5}, "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
