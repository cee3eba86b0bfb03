"""Block-level boilerplate removal — jusText-family main-text extraction.

Real crawl HTML is mostly chrome: navigation, footers, sidebars, cookie
banners. Training-data pipelines extract the MAIN text before any
dedup/quality stage (trafilatura/jusText in Common-Crawl-derived
corpora). This module implements the jusText-style block classifier
(Pomikálek 2011) in a vectorized form:

  1. drop <script>/<style>/<!-- --> subtrees;
  2. split the page into blocks at block-level tag boundaries
     (p, div, h1-h6, li, td, section, article, nav, footer, …);
  3. per block, compute text length, word count, LINK DENSITY (fraction
     of visible chars inside <a> anchors) and STOPWORD DENSITY (match
     fraction against a small function-word set);
  4. classify: high link density → boilerplate; long + stopword-dense →
     content; short blocks inherit CONTEXT (kept only when both nearest
     long neighbors are content — the jusText neighborhood rule,
     simplified to one pass);
  5. main text = content blocks joined by newlines.

Spark-first shape: one Arrow-batched pandas UDF per document batch; all
string work inside it is pandas ``.str`` / compiled-regex operations
over an EXPLODED block series (one vectorized pass per feature, not a
Python loop per block), and only the final per-doc block-vote walk is
per-document numpy. Payload HTML never leaves the worker; the operator
composes with ``sources/warc.py`` upstream and the cleaning pipeline
downstream.

Reference scope note: armon/hlld has no text layer; LLM-pipeline
companion, same family as operators/text.py.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

# a compact English function-word set — enough signal for the
# content/boilerplate split (full-text quality scoring lives in
# operators/text.py; language-aware stopword sets can be passed in)
STOPWORDS = (
    "the of and to in a is that it was for on are with as be at by this "
    "have from or had not but what all were when we there can an your "
    "which their said if do will each about how up out them she many some "
    "so these would other into has more her two like him see time could no "
    "than been its who now my made over did down only way find use may "
    "water long little very after words called just where most know"
).split()

_BLOCK_SPLIT = re.compile(
    r"</?(?:p|div|h[1-6]|li|ul|ol|td|th|tr|table|section|article|header|"
    r"footer|nav|aside|blockquote|pre|form|main|figure)\b[^>]*>|<br\s*/?>",
    re.I,
)
_DROP_SUBTREES = re.compile(
    r"<script\b.*?</script\s*>|<style\b.*?</style\s*>|<!--.*?-->",
    re.I | re.S,
)
_TAGS = re.compile(r"<[^>]*>")
_STOP_SET = frozenset(STOPWORDS)
_PUNCT_CHARS = ".,;:!?()[]{}\"'«»„“”‘’…—-"

# batched variants: the whole batch's blocks are processed as ONE
# sentinel-joined buffer (3 C-level regex calls instead of 3 calls per
# block — the profiled per-block subs were a major cost). The tag /
# anchor classes exclude the sentinel so no match can cross a block
# boundary; sentinel characters are stripped from the input first, so
# a crafted page can at worst mis-extract ITSELF, never a neighbor.
_SENT = "\ue000"  # block separator (private-use codepoint)
_TOKM = "\ue001"  # token-stream block marker
_TAGS_B = re.compile("<[^>\ue000]*>")
_ANCHORS_B = re.compile("<a\\b[^>\ue000]*>[^\ue000]*?</a\\s*>", re.I)
_WS_B = re.compile("[^\\S\ue000\ue001]+")


def extract_main_text_series(
    html: pd.Series,
    min_words: int = 15,
    max_link_density: float = 0.35,
    min_stop_density: float = 0.20,
) -> pd.Series:
    """Vectorized jusText-style extraction over a pandas Series of HTML
    strings/bytes -> Series of main text ('' when nothing qualifies).

    The whole batch is processed as ONE sentinel-joined buffer: three
    C-level regex passes (tag strip, anchor strip, whitespace collapse)
    plus one lowercase+translate+split for tokenization replace the
    per-block regex calls that profiling showed dominated. Sentinel
    codepoints are removed from the input first, so no page can affect
    a neighbor's segmentation."""
    s = html.map(
        lambda b: b.decode("utf-8", "replace")
        if isinstance(b, (bytes, bytearray))
        else ("" if b is None else str(b))
    )
    s = s.str.replace(_DROP_SUBTREES, "", regex=True)
    blocks = s.str.split(_BLOCK_SPLIT).explode()
    blocks = blocks[blocks.str.strip().str.len() > 0]
    if blocks.empty:
        return pd.Series([""] * len(s), index=s.index, dtype=object)

    raw = [
        b.replace(_SENT, "").replace(_TOKM, "") for b in blocks.to_numpy()
    ]
    buf = _SENT.join(raw)
    # visible text per block: ONE tag-strip over the batch buffer (the
    # tag class excludes the sentinel, so matches never cross blocks)
    tagless = _TAGS_B.sub("", buf)
    raw_vis_len = np.array([len(x) for x in tagless.split(_SENT)])
    # non-link visible chars: anchors (with their text) removed first
    nonlink_len = np.array(
        [len(x) for x in _TAGS_B.sub("", _ANCHORS_B.sub("", buf)).split(_SENT)]
    )
    link_chars = np.maximum(raw_vis_len - nonlink_len, 0)

    # whitespace-collapse + strip per block (one batched sub; the class
    # treats sentinels as non-whitespace so boundaries survive)
    vis_buf = _WS_B.sub(" ", tagless)
    vis_np = np.array([x.strip() for x in vis_buf.split(_SENT)], dtype=object)

    # tokenization: one lowercase + punctuation-delete + split of the
    # marker-joined visible buffer; marker tokens delimit blocks exactly
    tok_buf = (" " + _TOKM + " ").join(vis_np).lower()
    toks = tok_buf.split()
    if toks:
        # frozenset membership with a punctuation strip — O(1) C hash
        # per token (np.isin over object dtype fell back to python
        # comparisons and dominated the profile)
        S, P = _STOP_SET, _PUNCT_CHARS
        is_stop = np.fromiter(
            (t in S or t.strip(P) in S for t in toks), bool, len(toks)
        )
        marks = np.fromiter((t == _TOKM for t in toks), bool, len(toks))
        mark_pos = np.flatnonzero(marks)
        is_stop[mark_pos] = False
        bounds_tok = np.concatenate(([-1], mark_pos, [len(toks)]))
        n_words = (bounds_tok[1:] - bounds_tok[:-1] - 1).astype(np.int64)
        cums = np.concatenate(([0], np.cumsum(is_stop)))
        n_stop = cums[bounds_tok[1:]] - cums[bounds_tok[:-1] + 1]
    else:
        n_words = np.zeros(len(vis_np), dtype=np.int64)
        n_stop = np.zeros(len(vis_np))
    assert len(n_words) == len(vis_np)

    link_density = link_chars / np.maximum(raw_vis_len, 1)
    stop_density = n_stop / np.maximum(n_words, 1)

    # base classification: +1 content, -1 boilerplate, 0 short/undecided
    is_bad = (link_density > max_link_density) | (n_words == 0)
    is_good = (~is_bad) & (n_words >= min_words) & (stop_density >= min_stop_density)
    is_long = n_words >= min_words
    vote = np.where(is_bad, -1, np.where(is_good, 1, np.where(is_long, -1, 0)))
    # (long blocks that fail the stopword bar are boilerplate — lists of
    #  product names, tag clouds; short blocks resolve by context below)

    # explode preserves row order, so block doc-ids arrive grouped:
    # walk contiguous segments (linear, not a per-doc mask scan)
    doc_idx = blocks.index.to_numpy()
    bounds = np.concatenate(
        ([0], np.flatnonzero(doc_idx[1:] != doc_idx[:-1]) + 1, [len(doc_idx)])
    )
    out = {}
    for b0, b1 in zip(bounds[:-1], bounds[1:]):
        v = vote[b0:b1]
        keep = v == 1
        # context pass: an undecided short block is content only when
        # the nearest DECIDED neighbors on both sides are content
        undecided = np.flatnonzero(v == 0)
        if len(undecided):
            decided = np.flatnonzero(v != 0)
            for u in undecided:
                prev_d = decided[decided < u]
                next_d = decided[decided > u]
                if len(prev_d) and len(next_d) and v[prev_d[-1]] == 1 and v[next_d[0]] == 1:
                    keep[u] = True
        out[doc_idx[b0]] = "\n".join(vis_np[b0:b1][keep])
    return pd.Series(out, dtype=object).reindex(s.index, fill_value="")


_NOUNS = "pipeline dataset cluster index shard table sketch register".split()
_PLACES = "report survey archive logbook ledger summary".split()


def write_boilerplate_fixture(out_dir: str, n: int = 200) -> None:
    """Deterministic boilerplate-fixture pages: ``pages.parquet``
    (doc_id, html) + ``truth.parquet`` (doc_id, main_text). The html is
    constructed FROM the truth blocks (content paragraphs with heavy
    function-word usage) wrapped in classic chrome — nav/sidebar/footer
    link walls, an occasional stopword-free tag-cloud block, a short
    note BETWEEN two content paragraphs (exercises the context rule)
    and every 7th page chrome-only (truth = ''). Byte-stable per
    doc_id; already-written fixtures are left untouched."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(os.path.join(out_dir, "truth.parquet")):
        return
    os.makedirs(out_dir, exist_ok=True)
    ids, htmls, truths = [], [], []
    for i in range(n):
        noun = _NOUNS[i % len(_NOUNS)]
        noun2 = _NOUNS[(i * 3 + 1) % len(_NOUNS)]
        place = _PLACES[i % len(_PLACES)]
        paras = [
            f"The {noun} of the {noun2} was seen in the {place} and it "
            f"was said that all of them were there at the time and many "
            f"of the people knew about it from the start of run {i}.",
            f"It is known that the {noun2} had more than two of the "
            f"{noun} kinds and that each of them could be found in the "
            f"{place} when the work was done for day {i % 14}.",
        ]
        if i % 3 == 0:
            paras.append(
                f"After the review most of these were kept and some "
                f"were not but the {noun} stayed where it was and no "
                f"one said anything more about the {place} entry {i}."
            )
        short_note = f"See also the {noun} notes."
        nav = " ".join(
            f'<a href="/{w}">{w.title()}</a>' for w in _NOUNS[:4]
        )
        sidebar = "".join(f'<li><a href="/t/{w}">{w}</a></li>' for w in _PLACES)
        cloud = " ".join(f"{n_}{k}" for k, n_ in enumerate(_NOUNS * 3))
        footer = (
            'Copyright 2026 <a href="/tos">Terms</a> '
            '<a href="/privacy">Privacy</a> <a href="/imprint">Imprint</a>'
        )
        chrome_only = i % 7 == 3
        if chrome_only:
            body = f"<nav>{nav}</nav><ul>{sidebar}</ul><footer>{footer}</footer>"
            truth = ""
        else:
            mid = (
                f"<p>{paras[0]}</p><p>{short_note}</p>"
                + "".join(f"<p>{p}</p>" for p in paras[1:])
            )
            body = (
                f"<nav>{nav}</nav><div>{mid}</div>"
                + (f"<div>{cloud}</div>" if i % 3 == 1 else "")
                + f"<ul>{sidebar}</ul><footer>{footer}</footer>"
            )
            truth = "\n".join([paras[0], short_note] + paras[1:])
        html = (
            f"<html><head><title>Page {i}</title><style>p{{margin:0}}"
            f"</style></head><body>{body}"
            f"<script>var x={i};</script></body></html>"
        )
        ids.append(i)
        htmls.append(html)
        truths.append(truth)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "html": htmls}),
        os.path.join(out_dir, "pages.parquet"),
    )
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "main_text": truths}),
        os.path.join(out_dir, "truth.parquet"),
    )


def extract_main_text(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "main_text",
    min_words: int = 15,
    max_link_density: float = 0.35,
    min_stop_density: float = 0.20,
) -> DataFrame:
    """Add ``out_col`` with the page's boilerplate-stripped main text."""

    @F.pandas_udf(StringType())
    def _extract(h: pd.Series) -> pd.Series:
        return extract_main_text_series(
            h, min_words, max_link_density, min_stop_density
        )

    return df.withColumn(out_col, _extract(df[html_col]))
