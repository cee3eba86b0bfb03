"""C4 cleaning heuristics (Raffel et al. 2020 §2.2).

Covers: each line rule and page rule in isolation, the rebuilt-text
semantics of c4_filter, and a plain-Python reference sweep.
"""

import re

import pytest

from hlld_spark.operators.text import c4_filter, with_c4_signals

PAGE = (
    "This is a perfectly ordinary first sentence that ends properly.\n"
    "Here is another full sentence with plenty of words in it!\n"
    "Does this page have enough sentences to pass the filter?\n"
    "The fourth sentence keeps the page comfortably over the line.\n"
    "And a fifth one closes out the page with a period.\n"
    "Short line\n"
    "no terminal punctuation here either\n"
)


def _py_signals(text: str, min_sentences=5, min_line_words=3):
    def keep(l):
        if not re.search(r'[.!?"”]$', l.strip()):
            return False
        if len([w for w in re.split(r"\s+", l.strip()) if w]) < min_line_words:
            return False
        return not re.search(r"javascript", l.lower())

    kept = "\n".join(l for l in text.split("\n") if keep(l))
    n_sent = len(re.sub(r"[^.!?]", "", kept))
    return {
        "c4_text": kept,
        "c4_n_sentences": n_sent,
        "r_min_sentences": n_sent >= min_sentences,
        "r_no_lorem": "lorem ipsum" not in text.lower(),
        "r_no_brace": "{" not in text,
    }


def _signals(spark, texts, **kw):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return {r["doc_id"]: r.asDict() for r in with_c4_signals(df, **kw).collect()}


@pytest.mark.spark
def test_line_and_page_rules(spark):
    docs = [
        PAGE,  # 0: keeps the 5 sentences, drops the 2 junk lines
        PAGE + "Enable javascript to view this page.\n",  # 1: js line dropped, page kept
        "One sentence only, however long and well formed it might be.",  # 2: <5 sentences
        PAGE + "Lorem Ipsum dolor sit amet.",  # 3: lorem ipsum page drop
        PAGE + "if (x) { return; }",  # 4: brace page drop
        'He said "stop right there."\n"A quoted ending works too!"\nThird one here.\nFourth sentence now.\nFifth sentence done.',  # 5: quote terminals
    ]
    got = _signals(spark, docs)
    assert got[0]["c4_keep"] is True
    assert got[0]["c4_text"].count("\n") == 4  # 5 kept lines
    assert got[1]["c4_keep"] is True
    assert "javascript" not in got[1]["c4_text"]
    assert got[2]["c4_keep"] is False and got[2]["r_min_sentences"] is False
    assert got[3]["c4_keep"] is False and got[3]["r_no_lorem"] is False
    assert got[4]["c4_keep"] is False and got[4]["r_no_brace"] is False
    assert got[5]["c4_keep"] is True and got[5]["c4_n_sentences"] == 5


@pytest.mark.spark
def test_matches_python_reference(spark):
    texts = []
    lines = PAGE.split("\n")
    for i in range(40):
        sel = [lines[(i * 3 + j) % len(lines)] for j in range(1 + i % 9)]
        if i % 5 == 0:
            sel.append("check the Javascript console.")
        if i % 7 == 0:
            sel.append("lorem ipsum" if i % 2 else "x = {}")
        texts.append("\n".join(sel))
    texts += ["", "\n\n", "no punct at all"]
    got = _signals(spark, texts)
    for i, t in enumerate(texts):
        ref = _py_signals(t)
        for k, v in ref.items():
            assert got[i][k] == v, f"doc {i} col {k}: spark={got[i][k]!r} ref={v!r}"


@pytest.mark.spark
def test_c4_filter_rebuilds_text(spark):
    df = spark.createDataFrame([(1, PAGE), (2, "tiny.")], "doc_id long, text string")
    kept = c4_filter(df)
    rows = kept.collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["text"] == "\n".join(PAGE.strip().split("\n")[:5])
    assert kept.columns == ["doc_id", "text"]


@pytest.mark.spark
def test_plan_is_pure_codegen(spark):
    df = spark.createDataFrame([(1, PAGE)], "doc_id long, text string")
    plan = with_c4_signals(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
