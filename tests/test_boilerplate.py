"""Boilerplate removal (operators/boilerplate.py): block classification
rules, the context rule, and the Spark operator end-to-end against the
deterministic fixture truth."""

import os

import pandas as pd
import pytest

from hlld_spark.operators.boilerplate import (
    extract_main_text,
    extract_main_text_series,
    write_boilerplate_fixture,
)

CONTENT = (
    "The quick brown fox jumps over the lazy dog and then it was seen "
    "that all of the animals in the forest were very happy about this "
    "and many of them said so."
)
CONTENT2 = (
    "It is a truth universally acknowledged that a single man in "
    "possession of a good fortune must be in want of a wife and all "
    "the town knew it well."
)


def _extract_one(html, **kw):
    return extract_main_text_series(pd.Series([html]), **kw).iloc[0]


def test_link_wall_dropped_content_kept():
    html = (
        '<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>'
        f"<p>{CONTENT}</p>"
        '<footer>Copyright <a href="/t">Terms</a> <a href="/p">Privacy</a></footer>'
    )
    assert _extract_one(html) == CONTENT


def test_stopword_free_tag_cloud_dropped():
    cloud = " ".join(f"widget{i}" for i in range(30))
    html = f"<p>{CONTENT}</p><div>{cloud}</div>"
    assert _extract_one(html) == CONTENT


def test_context_rule_short_between_content_kept():
    html = f"<p>{CONTENT}</p><p>Short but relevant note.</p><p>{CONTENT2}</p>"
    assert _extract_one(html) == f"{CONTENT}\nShort but relevant note.\n{CONTENT2}"


def test_context_rule_short_at_edge_dropped():
    html = f"<p>Dangling teaser line.</p><p>{CONTENT}</p>"
    assert _extract_one(html) == CONTENT
    html2 = f"<p>{CONTENT}</p><p>Trailing teaser.</p>"
    assert _extract_one(html2) == CONTENT


def test_short_next_to_boilerplate_dropped():
    html = (
        f"<p>{CONTENT}</p><p>Orphan note.</p>"
        '<ul><li><a href="/x">x</a></li><li><a href="/y">y</a></li></ul>'
    )
    assert _extract_one(html) == CONTENT


def test_script_style_comments_removed():
    html = (
        "<script>var the_thing_of_it_all_was_that_it_is = 1;</script>"
        "<style>p { color: red } .the .of .and {}</style>"
        f"<!-- the comment of it all that was -->\n<p>{CONTENT}</p>"
    )
    assert _extract_one(html) == CONTENT


def test_inline_tags_and_whitespace_normalized():
    spaced = CONTENT.replace("fox jumps", "fox\n   <b>jumps</b>")
    html = f"<p>{spaced}</p>"
    assert _extract_one(html) == CONTENT


def test_empty_and_null_inputs():
    out = extract_main_text_series(pd.Series(["", None, "<p></p>"]))
    assert list(out) == ["", "", ""]


def test_fixture_truth_roundtrip(tmp_path):
    import pyarrow.parquet as pq

    d = str(tmp_path / "fx")
    write_boilerplate_fixture(d, 60)
    pages = pq.read_table(os.path.join(d, "pages.parquet")).to_pandas()
    truth = pq.read_table(os.path.join(d, "truth.parquet")).to_pandas()
    got = extract_main_text_series(pages["html"])
    assert list(got) == list(truth["main_text"])
    # chrome-only pages exist and extract to ''
    assert (truth["main_text"] == "").sum() > 0
    # regeneration is a no-op (byte-stable fixtures)
    m0 = os.path.getmtime(os.path.join(d, "pages.parquet"))
    write_boilerplate_fixture(d, 60)
    assert os.path.getmtime(os.path.join(d, "pages.parquet")) == m0


@pytest.mark.spark
def test_spark_operator_end_to_end(spark, tmp_path):
    d = str(tmp_path / "fx")
    write_boilerplate_fixture(d, 40)
    pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
    truth = {
        r["doc_id"]: r["main_text"]
        for r in spark.read.parquet(os.path.join(d, "truth.parquet")).collect()
    }
    out = extract_main_text(pages, "html")
    got = {r["doc_id"]: r["main_text"] for r in out.collect()}
    assert got == truth
