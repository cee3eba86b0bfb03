"""Checkpointed, resumable sketch builds with per-split lineage.

The reference's durability story is flush + fault-in: dirty registers
are persisted on a cadence and lazily re-mapped (src/set.c:157-196,
:320-401). At job scale that becomes: every input split writes its
partial sketch + a lineage manifest when done; a restarted job replans
the same splits, *skips every completed one*, and only scans the
remainder. Final sketches are byte-identical to a single uninterrupted
run (register-max merge is associative/commutative/idempotent).

Layout (one dir per job):
    <ckpt_dir>/<job_id>/
        split_<sid>.parquet   — partial sketch rows (keys..., sketch, n_rows)
        split_<sid>.json      — lineage: input file, rows, bytes read,
                                build seconds, sketch bytes, attempt id

Writes are atomic (tmp + rename), so a task killed mid-write never
poisons the checkpoint, and Spark task *retries* are idempotent: a
retry sees the marker and skips. Workers write to the checkpoint dir
directly (local fs here; a shared filesystem/object store on a real
cluster — same protocol).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from .core.accumulator import HllSpec, accumulator_for
from .operators.sketch import _make_build_partials_arrow, _merge_partials


def _split_id(path: str) -> str:
    # mtime_ns is part of the identity: a rewritten input file with the
    # same size but different contents must invalidate its checkpoint
    # marker instead of silently reusing the stale partial (ADVICE fix)
    st = os.stat(path)
    return hashlib.sha1(f"{path}:{st.st_size}:{st.st_mtime_ns}".encode()).hexdigest()[:16]


def plan_splits(input_path: str) -> list[tuple[str, str]]:
    """[(split_id, file)] — deterministic for a fixed input set."""
    from .operators.sketch import list_parquet_files

    return [(_split_id(f), f) for f in list_parquet_files(input_path)]


def completed_splits(ckpt_dir: str, job_id: str) -> set[str]:
    d = os.path.join(ckpt_dir, job_id)
    if not os.path.isdir(d):
        return set()
    return {
        os.path.basename(p)[len("split_") : -len(".json")]
        for p in glob.glob(os.path.join(d, "split_*.json"))
    }


def lineage(ckpt_dir: str, job_id: str) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(ckpt_dir, job_id, "split_*.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def checkpointed_build(
    spark: SparkSession,
    input_path: str,
    keys: list[str] | None,
    col: str,
    spec=None,
    ckpt_dir: str = None,
    job_id: str = "job0",
    max_splits: int | None = None,
) -> DataFrame | None:
    """Build per-key sketches over ``input_path`` with checkpoint/resume.

    Returns the merged sketch DataFrame, or None when ``max_splits``
    truncated the run before all splits completed (use it to simulate a
    killed job in tests; a real kill behaves identically).
    """
    spec = spec if spec is not None else HllSpec()
    keys = list(keys or [])
    accumulator_for(spec)
    assert ckpt_dir, "ckpt_dir is required"
    job_dir = os.path.join(ckpt_dir, job_id)
    os.makedirs(job_dir, exist_ok=True)

    splits = plan_splits(input_path)
    done = completed_splits(ckpt_dir, job_id)
    todo = [(sid, f) for sid, f in splits if sid not in done]
    if max_splits is not None:
        todo = todo[:max_splits]

    if todo:
        fkeys, fcol, fspec = keys, col, spec

        def build_split(rows):
            """Runs on the worker: one checkpointed partial per split."""
            import pyarrow as pa
            import pyarrow.parquet as pq

            for row in rows:
                sid, fp = row.sid, row.path
                marker = os.path.join(job_dir, f"split_{sid}.json")
                if os.path.exists(marker):
                    continue  # task retry / concurrent attempt: idempotent skip
                t0 = time.time()
                tbl = pq.read_table(fp, columns=fkeys + [fcol], use_threads=False)
                build = _make_build_partials_arrow(fkeys, fcol, fspec)
                batches = list(build(tbl.to_batches(32768)))
                out_path = os.path.join(job_dir, f"split_{sid}.parquet")
                if batches:  # empty splits write only the marker
                    tmp = out_path + ".tmp"
                    pq.write_table(pa.Table.from_batches(batches), tmp)
                    os.replace(tmp, out_path)
                man = {
                    "split_id": sid,
                    "input_file": fp,
                    "rows": tbl.num_rows,
                    "input_bytes": os.path.getsize(fp),
                    "build_secs": round(time.time() - t0, 4),
                    "sketch_bytes": sum(
                        sum(len(b) for b in rb.column(rb.schema.get_field_index("sketch")).to_pylist())
                        for rb in batches
                    ),
                    "n_groups": sum(rb.num_rows for rb in batches),
                    "completed_at": time.time(),
                }
                mtmp = marker + ".tmp"
                with open(mtmp, "w") as f:
                    json.dump(man, f)
                os.replace(mtmp, marker)
                yield (sid,)

        par = spark.sparkContext.defaultParallelism
        n_tasks = min(len(todo), 2 * par) or 1
        todo_df = spark.createDataFrame(
            spark.sparkContext.parallelize([(s, f) for s, f in todo], n_tasks), "sid string, path string"
        )
        todo_df.rdd.mapPartitions(build_split).count()  # execute; tiny output

    done = completed_splits(ckpt_dir, job_id)
    all_ids = {sid for sid, _ in splits}
    if not all_ids.issubset(done):
        return None  # truncated run (simulated kill): resume later

    partial_files = [
        p
        for sid in sorted(all_ids)
        if os.path.exists(p := os.path.join(job_dir, f"split_{sid}.parquet"))
    ]
    if not partial_files:
        raise ValueError("no non-empty splits — input had no usable rows")
    partials = spark.read.parquet(*partial_files)
    return _merge_partials(partials, keys, partials.schema)
