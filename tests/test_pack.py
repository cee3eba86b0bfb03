"""Sequence packing (operators/pack.py): hierarchical prefix sum must be
bit-identical to a naive running sum; chunk math checked by hand and by
reconstruction invariants."""

import os
import random

import pytest
from pyspark.sql import functions as F

from hlld_spark.operators.pack import (
    chunk_documents,
    pack_sequences,
    packed_chunk_stats,
    with_global_token_offsets,
)


@pytest.mark.spark
def test_offsets_match_naive_prefix_sum(spark):
    rng = random.Random(7)
    # sparse, shuffled ids — bucket decomposition must not assume density
    ids = rng.sample(range(0, 10_000_000), 300)
    rows = [(i, rng.randrange(0, 900)) for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = {
        r["doc_id"]: r["token_offset"]
        for r in with_global_token_offsets(df, "doc_id", "n", bucket_span=1000).collect()
    }
    acc = 0
    for i, n in sorted(rows):
        assert got[i] == acc, i
        acc += n


def _naive_offsets(rows) -> dict:
    out, acc = {}, 0
    for i, n in sorted(rows):
        out[i] = acc
        acc += n
    return out


@pytest.mark.spark
def test_sparse_64bit_ids_plan_no_forced_broadcast(spark):
    """One bucket per doc (sparse 64-bit ids, span 1): the offsets are the
    running sum, and the prefix join carries no broadcast hint, so the
    optimizer sizes it."""
    rng = random.Random(5)
    ids = rng.sample(range(-(1 << 61), 1 << 61), 400)
    rows = [(i, rng.randrange(0, 50)) for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = with_global_token_offsets(df, "doc_id", "n", bucket_span=1)
    assert "broadcast" not in out._jdf.queryExecution().optimizedPlan().toString().lower()
    assert {r["doc_id"]: r["token_offset"] for r in out.collect()} == _naive_offsets(rows)


@pytest.mark.spark
def test_reliable_and_local_checkpoint_give_identical_offsets(spark, tmp_path):
    """With a checkpoint dir set, the bucketed rows go through a reliable
    checkpoint (files in that dir); without one, a local checkpoint. Both
    give the naive running sum."""
    rng = random.Random(9)
    rows = [(i, rng.randrange(0, 300)) for i in rng.sample(range(0, 1 << 40), 500)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    sc = spark.sparkContext

    def offsets():
        return {r["doc_id"]: r["token_offset"] for r in with_global_token_offsets(df, "doc_id", "n", bucket_span=1 << 30).collect()}

    assert sc.getCheckpointDir() is None
    local = offsets()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        reliable = offsets()
        # the reliable branch wrote its checkpoint files under the dir
        assert any(files for _, _, files in os.walk(tmp_path / "ckpt"))
    finally:
        # SparkContext has no public way to clear the dir again
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None
    assert local == reliable == _naive_offsets(rows)


@pytest.mark.spark
def test_bucket_span_invariance(spark):
    rows = [(i * 37 % 1009, (i * 13) % 50) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    a = with_global_token_offsets(df, "doc_id", "n", bucket_span=8).collect()
    b = with_global_token_offsets(df, "doc_id", "n", bucket_span=1 << 20).collect()
    assert {(r["doc_id"], r["token_offset"]) for r in a} == {
        (r["doc_id"], r["token_offset"]) for r in b
    }


@pytest.mark.spark
def test_pack_hand_case(spark):
    rows = [(0, "a b c d e"), (1, "f g h"), (2, ""), (3, "i j k l m n o p")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pack_sequences(df, "doc_id", 4, text_col="text").collect()}
    assert (out[0]["token_offset"], out[0]["first_chunk"], out[0]["last_chunk"],
            out[0]["start_in_first"]) == (0, 0, 1, 0)
    assert (out[1]["token_offset"], out[1]["first_chunk"], out[1]["last_chunk"],
            out[1]["start_in_first"]) == (5, 1, 1, 1)
    assert out[2]["n_tokens"] == 0 and out[2]["first_chunk"] is None
    assert (out[3]["token_offset"], out[3]["first_chunk"], out[3]["last_chunk"]) == (8, 2, 3)


@pytest.mark.spark
def test_chunk_stats_conservation(spark):
    rng = random.Random(11)
    rows = [(i, " ".join("w" for _ in range(rng.randrange(1, 40)))) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    packed = pack_sequences(df, "doc_id", 32, text_col="text")
    stats = packed_chunk_stats(packed, 32).collect()
    total = sum(len(t.split()) for _, t in rows)
    # every token lands in exactly one chunk
    assert sum(r["n_tokens"] for r in stats) == total
    # all chunks except the last are exactly full
    chunks = sorted(stats, key=lambda r: r["chunk"])
    assert [r["chunk"] for r in chunks] == list(range(len(chunks)))
    for r in chunks[:-1]:
        assert r["n_tokens"] == 32
    assert chunks[-1]["n_tokens"] == total - 32 * (len(chunks) - 1)


@pytest.mark.spark
def test_no_global_row_window_in_plan(spark):
    """The only unpartitioned window must run over bucket aggregates:
    assert the doc-scale window is partitioned by bucket."""
    df = spark.createDataFrame([(i, 5) for i in range(100)], "doc_id long, n long")
    plan = (
        with_global_token_offsets(df, "doc_id", "n", bucket_span=10)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("Window") == 2
    doc_windows = [
        ln for ln in plan.splitlines() if "Window" in ln and "sum(n#" in ln
    ]
    # the doc-scale running sum is PARTITIONED by __bucket (second
    # windowspecdefinition argument list names it as the partition key)
    assert len(doc_windows) == 1 and "windowspecdefinition(__bucket" in doc_windows[0]
    # the only unpartitioned window runs over __btot bucket aggregates
    bucket_windows = [ln for ln in plan.splitlines() if "sum(__btot" in ln]
    assert len(bucket_windows) == 1


@pytest.mark.spark
def test_chunk_documents_hand_case(spark):
    # 10 tokens, chunk 4, overlap 2 -> step 2, starts 0,2,4,6 (last
    # start = ceil((10-4)/2)*2 = 6), final chunk exactly fills
    text = "a b c d e f g h i j"
    df = spark.createDataFrame([(1, text), (2, "x y"), (3, "")],
                               "doc_id long, text string")
    rows = chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=2).collect()
    got = {(r["doc_id"], r["chunk_id"]): (r["n_chunk_tokens"], r["chunk_text"]) for r in rows}
    assert got[(1, 0)] == (4, "a b c d")
    assert got[(1, 1)] == (4, "c d e f")
    assert got[(1, 2)] == (4, "e f g h")
    assert got[(1, 3)] == (4, "g h i j")
    assert got[(2, 0)] == (2, "x y")
    assert len([k for k in got if k[0] == 1]) == 4
    assert not any(k[0] == 3 for k in got)  # empty doc -> no chunks


@pytest.mark.spark
def test_chunk_documents_ragged_tail_and_coverage(spark):
    import re as _re
    texts = {i: " ".join(f"w{j}" for j in range(i)) for i in (1, 4, 5, 6, 9, 13)}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    rows = chunk_documents(df, "doc_id", "text", chunk_tokens=5, overlap=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, text in texts.items():
        toks = text.split()
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_id"])
        step = 3
        # reconstruction: every token position covered; window starts correct
        seen = set()
        for c in chunks:
            start = c["chunk_id"] * step
            want = toks[start:start + 5]
            assert c["chunk_text"].split() == want, (i, c["chunk_id"])
            seen.update(range(start, min(start + 5, len(toks))))
        assert seen == set(range(len(toks))), i


@pytest.mark.spark
def test_chunk_documents_plan_no_python(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = chunk_documents(df, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan
