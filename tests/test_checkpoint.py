"""Kill-and-resume semantics: completed splits are never rescanned, task
retries are idempotent, and resumed results are byte-identical to an
uninterrupted run (FIXTURES.md F6)."""

import os

import pytest

from hlld_spark.checkpoint import checkpointed_build, completed_splits, lineage, plan_splits
from hlld_spark.core.accumulator import HllSpec
from hlld_spark.operators.sketch import build_sketches
from hlld_spark.sources.webpages import generate_web_pages

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wp") / "web")
    generate_web_pages(spark, 20000, partitions=8).write.parquet(d)
    return d


def test_kill_and_resume_byte_identical(spark, corpus_dir, tmp_path):
    ck = str(tmp_path / "ck")
    spec = HllSpec(12)
    # "killed" run: only 3 of 8 splits complete
    out = checkpointed_build(spark, corpus_dir, ["lang"], "url", spec, ckpt_dir=ck, job_id="j1", max_splits=3)
    assert out is None
    done_after_kill = completed_splits(ck, "j1")
    assert len(done_after_kill) == 3
    markers = {
        sid: os.path.getmtime(os.path.join(ck, "j1", f"split_{sid}.json")) for sid in done_after_kill
    }

    # resume: must finish, and must NOT touch the 3 completed splits
    out = checkpointed_build(spark, corpus_dir, ["lang"], "url", spec, ckpt_dir=ck, job_id="j1")
    assert out is not None
    for sid, mtime in markers.items():
        assert os.path.getmtime(os.path.join(ck, "j1", f"split_{sid}.json")) == mtime, "completed split was rebuilt"

    resumed = {r["lang"]: bytes(r["sketch"]) for r in out.collect()}
    direct = {
        r["lang"]: bytes(r["sketch"])
        for r in build_sketches(spark.read.parquet(corpus_dir), ["lang"], "url", spec).collect()
    }
    assert resumed == direct  # byte-identical to uninterrupted build


def test_lineage_manifests(spark, corpus_dir, tmp_path):
    ck = str(tmp_path / "ck2")
    checkpointed_build(spark, corpus_dir, ["lang"], "url", HllSpec(12), ckpt_dir=ck, job_id="j2")
    man = lineage(ck, "j2")
    splits = plan_splits(corpus_dir)
    assert len(man) == len(splits)
    total_rows = sum(m["rows"] for m in man)
    assert total_rows == 20000
    for m in man:
        assert m["build_secs"] >= 0 and m["sketch_bytes"] > 0 and m["n_groups"] >= 1
        assert os.path.exists(m["input_file"])


def test_rerun_is_noop(spark, corpus_dir, tmp_path):
    ck = str(tmp_path / "ck3")
    out1 = checkpointed_build(spark, corpus_dir, [], "url", HllSpec(14), ckpt_dir=ck, job_id="j3")
    row1 = out1.first()
    markers = {
        sid: os.path.getmtime(os.path.join(ck, "j3", f"split_{sid}.json"))
        for sid in completed_splits(ck, "j3")
    }
    out2 = checkpointed_build(spark, corpus_dir, [], "url", HllSpec(14), ckpt_dir=ck, job_id="j3")
    row2 = out2.first()
    assert bytes(row1["sketch"]) == bytes(row2["sketch"])
    for sid, m in markers.items():
        assert os.path.getmtime(os.path.join(ck, "j3", f"split_{sid}.json")) == m


def test_rewritten_same_size_file_invalidates_split(spark, tmp_path):
    """ADVICE fix: a rewritten input file with identical size but
    different contents must NOT be treated as already-completed — the
    split id includes mtime, so resume rebuilds it."""
    import shutil
    import time

    d = str(tmp_path / "in")
    os.makedirs(d)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(vals, path):
        pq.write_table(pa.table({"k": pa.array(vals, pa.string())}), path, compression="none")

    f = os.path.join(d, "part-0.parquet")
    write([f"a{i}" for i in range(100)], f)
    ck = str(tmp_path / "ck")
    out1 = checkpointed_build(spark, d, [], "k", HllSpec(12), ckpt_dir=ck, job_id="jr")
    est1 = out1.first()["n_rows"]
    old_ids = set(completed_splits(ck, "jr"))
    # rewrite with same row count/shape, different values → same size
    time.sleep(0.05)
    write([f"b{i}" for i in range(100)], f)
    out2 = checkpointed_build(spark, d, [], "k", HllSpec(12), ckpt_dir=ck, job_id="jr")
    new_ids = set(completed_splits(ck, "jr")) - old_ids
    assert new_ids, "rewritten file reused the stale checkpoint split"
    direct = build_sketches(spark.read.parquet(d), [], "k", HllSpec(12)).first()
    assert bytes(out2.first()["sketch"]) == bytes(direct["sketch"])


def test_ckpt_dir_is_a_required_keyword():
    """No default checkpoint directory exists: omitting ``ckpt_dir`` or
    passing it positionally fails at the call, before any job runs, and
    the same way under ``python -O``."""
    with pytest.raises(TypeError, match="ckpt_dir"):
        checkpointed_build(None, "in", [], "url", HllSpec(12), job_id="jx")
    with pytest.raises(TypeError):
        checkpointed_build(None, "in", [], "url", HllSpec(12), "ck")
