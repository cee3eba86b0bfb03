"""Gopher quality rules (Rae et al. 2021 §A.1.1).

Covers: each rule firing in isolation on hand-built docs, a clean doc
passing all seven, integer-arithmetic edge cases (empty text, exact
thresholds), and a plain-Python reference sweep over deterministic
synthetic docs.
"""

import re

import pytest

from hlld_spark.operators.text import (
    GOPHER_STOPWORDS,
    gopher_filter,
    with_gopher_signals,
)

GOOD = (
    "The quick brown fox jumps over the lazy dog and keeps running with "
    "steady pace because it must have reached the far side of that wide "
    "meadow before dusk settles in and the light finally fades away. "
    "Every word here is ordinary prose written to be long enough that "
    "the word count rule is satisfied without tripping any other rule."
)


def _py_signals(text: str, min_words=50, max_words=100_000) -> dict:
    words = [w for w in re.split(r"\s+", text.strip()) if w]
    lines = text.split("\n")
    n = len(words)
    chars = sum(len(w) for w in words)
    symbols = text.count("#") + text.count("...") + text.count("…")
    bullets = sum(1 for l in lines if re.search(r"^\s*([•‣▪*]|- )", l))
    ellipsis = sum(1 for l in lines if re.search(r"(\.\.\.|…)\s*$", l))
    alpha = sum(1 for w in words if re.search(r"[A-Za-z]", w))
    lw = [w.lower() for w in words]
    stops = sum(1 for s in GOPHER_STOPWORDS if s in lw)
    return {
        "gopher_n_words": n,
        "gopher_word_chars": chars,
        "gopher_symbols": symbols,
        "gopher_n_lines": len(lines),
        "gopher_bullet_lines": bullets,
        "gopher_ellipsis_lines": ellipsis,
        "gopher_alpha_words": alpha,
        "gopher_stop_hits": stops,
        "r_word_count": min_words <= n <= max_words,
        "r_mean_word_len": 3 * n <= chars <= 10 * n,
        "r_symbol_ratio": 10 * symbols <= n,
        "r_bullet_lines": 10 * bullets <= 9 * len(lines),
        "r_ellipsis_lines": 10 * ellipsis <= 3 * len(lines),
        "r_alpha_words": 5 * alpha >= 4 * n,
        "r_stopwords": stops >= 2,
    }


def _signals(spark, texts, **kw):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return {r["doc_id"]: r.asDict() for r in with_gopher_signals(df, **kw).collect()}


@pytest.mark.spark
def test_clean_doc_passes_and_each_rule_fires(spark):
    docs = [
        GOOD,  # 0: passes everything
        "too short to count",  # 1: word count
        "a b c d e f g h " * 8 + "the of and that",  # 2: mean word len < 3
        GOOD + " " + "#" * 30 + " ... ... ... ... ... ... ...",  # 3: symbols
        "\n".join(["- the bullet item with half a dozen plain words"] * 20),  # 4: bullets
        "\n".join(["the line that trails away into more dots..."] * 10),  # 5: ellipsis
        GOOD + " " + " ".join(["1234"] * 80),  # 6: alpha fraction
        " ".join(["lorem", "ipsum", "dolor", "sit", "amet"] * 12),  # 7: stopwords
    ]
    got = _signals(spark, docs)
    assert got[0]["gopher_pass"] is True
    failing_rule = {
        1: "r_word_count",
        2: "r_mean_word_len",
        3: "r_symbol_ratio",
        4: "r_bullet_lines",
        5: "r_ellipsis_lines",
        6: "r_alpha_words",
        7: "r_stopwords",
    }
    for i, rule in failing_rule.items():
        assert got[i]["gopher_pass"] is False, f"doc {i} should fail"
        assert got[i][rule] is False, f"doc {i} should fail {rule}"


@pytest.mark.spark
def test_matches_python_reference(spark):
    texts = []
    for i in range(60):
        base = GOOD.split()
        words = [base[(i * 7 + j) % len(base)] for j in range(10 + (i * 13) % 90)]
        if i % 4 == 1:
            words[::5] = ["#tag"] * len(words[::5])
        if i % 4 == 2:
            words = ["9" * (1 + i % 12) if j % 3 == 0 else w for j, w in enumerate(words)]
        text = " ".join(words)
        if i % 5 == 0:
            text = text.replace(" and ", "\n- and ").replace(" the ", " the...\n")
        if i % 7 == 0:
            text = text + "…"
        texts.append(text)
    texts += ["", "   ", "x", "\n\n\n"]
    got = _signals(spark, texts)
    for i, t in enumerate(texts):
        ref = _py_signals(t)
        row = got[i]
        for k, v in ref.items():
            assert row[k] == v, f"doc {i} col {k}: spark={row[k]} ref={v}\n{t[:80]!r}"


@pytest.mark.spark
def test_gopher_filter_drops_and_keeps_columns(spark):
    df = spark.createDataFrame(
        [(1, GOOD), (2, "tiny")], "doc_id long, text string"
    )
    kept = gopher_filter(df)
    assert [r["doc_id"] for r in kept.collect()] == [1]
    assert kept.columns == ["doc_id", "text"]


@pytest.mark.spark
def test_plan_is_pure_codegen(spark):
    df = spark.createDataFrame([(1, GOOD)], "doc_id long, text string")
    plan = with_gopher_signals(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


@pytest.mark.spark
def test_thresholds_are_inclusive_integer_arithmetic(spark):
    # exactly 50 words of exactly 3 chars each: word-count and mean-len
    # sit ON their thresholds and must pass; stopwords fail (by design)
    text = " ".join(["abc"] * 48 + ["the", "and"])
    row = _signals(spark, [text])[0]
    assert row["gopher_n_words"] == 50 and row["r_word_count"] is True
    assert row["gopher_word_chars"] == 150 and row["r_mean_word_len"] is True
    assert row["r_stopwords"] is True and row["gopher_pass"] is True
