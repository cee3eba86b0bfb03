"""Streaming sketch aggregation: file-source micro-batches → stateful
sketch state → estimates match the batch build on the same data."""

import os

import pytest
from pyspark.sql import functions as F

from hlld_spark.core.accumulator import HllSpec
from hlld_spark.operators.sketch import build_sketches
from hlld_spark.sources.webpages import generate_web_pages
from hlld_spark.streaming.sketch_stream import sketch_stream, windowed_sketch_stream

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream") / "in")
    os.makedirs(d)
    # three "arriving" files
    wp = generate_web_pages(spark, 6000, partitions=3).withColumn(
        "pfile", F.spark_partition_id()
    )
    for i in range(3):
        wp.filter(F.col("pfile") == i).drop("pfile").coalesce(1).write.mode("append").parquet(d)
    return d


def _run_stream(spark, sdf, name, tmp):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(tmp, f"ck_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(f"select * from {name}")


def test_stream_matches_batch(spark, stream_dir, tmp_path):
    batch_df = spark.read.parquet(stream_dir)
    schema = batch_df.schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stream_dir)
    spec = HllSpec(12)
    out = sketch_stream(stream, ["lang"], "url", spec)
    result = _run_stream(spark, out, "stream_by_lang", str(tmp_path))
    # take the LAST emitted row per lang (update mode re-emits)
    import pandas as pd

    pdf = result.toPandas()
    last = pdf.groupby("lang").last()
    direct = {
        r["lang"]: (bytes(r["sketch"]), r["n_rows"])
        for r in build_sketches(batch_df, ["lang"], "url", spec).collect()
    }
    assert set(last.index) == set(direct)
    for lang, (sk, n) in direct.items():
        assert last.loc[lang, "n_rows"] == n
        assert bytes(last.loc[lang, "sketch"]) == sk, f"stream state != batch sketch for {lang}"


def test_windowed_stream(spark, stream_dir, tmp_path):
    batch_df = spark.read.parquet(stream_dir)
    stream = spark.readStream.schema(batch_df.schema).parquet(stream_dir)
    out = windowed_sketch_stream(stream, "warc_ts", [], "url", HllSpec(12), window="1 day")
    result = _run_stream(spark, out, "stream_by_day", str(tmp_path))
    pdf = result.toPandas().groupby("window_start").last()
    exact = {
        r["d"]: r["n"]
        for r in batch_df.groupBy(F.date_trunc("day", "warc_ts").alias("d"))
        .agg(F.count("url").alias("n"))
        .collect()
    }
    assert len(pdf) == len(exact) == 14
    for d, n in exact.items():
        assert pdf.loc[d, "n_rows"] == n


def test_windowed_state_eviction_soak(spark, tmp_path):
    """processingTime-trigger soak over ≥3 micro-batches: closed
    windows' state is REMOVED by the event-time timeout (ADVICE fix) —
    the state store holds only open windows at the end, not one entry
    per window ever seen."""
    import json
    import time as _t

    d = str(tmp_path / "in")
    os.makedirs(d)
    # four files, strictly advancing event time: one day each
    for day in range(4):
        spark.range(200).select(
            F.to_timestamp(F.lit(f"2024-01-0{day+1} 12:00:00")).alias("ts"),
            F.concat(F.lit(f"u{day}-"), F.col("id").cast("string")).alias("uid"),
        ).coalesce(1).write.mode("append").parquet(d)
        _t.sleep(1.1)  # distinct mtimes → deterministic file order
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    out = windowed_sketch_stream(stream, "ts", [], "uid", HllSpec(10), window="1 day", watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("evict_soak")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_evict"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    deadline = _t.time() + 120
    last_state_rows = None
    while _t.time() < deadline:
        p = q.lastProgress
        if p and p["batchId"] >= 5 and p["stateOperators"]:
            last_state_rows = p["stateOperators"][0]["numRowsTotal"]
            if last_state_rows is not None and last_state_rows <= 2:
                break
        _t.sleep(0.5)
    q.stop()
    # ≥4 data micro-batches ran (one per file) under the processingTime trigger
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 3, f"only {len(data_batches)} micro-batches"
    # days 1-2 evicted once the watermark passed their window end;
    # without state.remove() this would be 4
    assert last_state_rows is not None and last_state_rows <= 2, last_state_rows
    # emitted results still cover all four windows
    pdf = spark.sql("select * from evict_soak").toPandas()
    assert pdf["window_start"].nunique() == 4
    assert (pdf.groupby("window_start")["n_rows"].max() == 200).all()


def test_stream_generic_specs(spark, stream_dir, tmp_path):
    """The streaming operator is spec-generic: t-digest quantile state
    flows through the same applyInPandasWithState path. (t-digest
    compression is insertion-order dependent, so unlike HLL the state is
    not byte-identical across batchings — the contract is exact n_rows
    plus rank-accurate quantiles.)"""
    from hlld_spark.core.accumulator import deserialize_any
    from hlld_spark.core.tdigest import TDigestSpec

    base_schema = spark.read.parquet(stream_dir).schema
    batch_df = spark.read.parquet(stream_dir).withColumn("tlen", F.length("text").cast("double"))
    stream = (
        spark.readStream.schema(base_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .withColumn("tlen", F.length("text").cast("double"))
    )
    spec = TDigestSpec(compression=100)
    out = sketch_stream(stream, ["lang"], "tlen", spec)
    result = _run_stream(spark, out, "stream_td", str(tmp_path))
    pdf = result.toPandas().groupby("lang").last()
    exact_n = {r["lang"]: r["n"] for r in batch_df.groupBy("lang").agg(F.count("tlen").alias("n")).collect()}
    assert set(pdf.index) == set(exact_n)
    for lang, n in exact_n.items():
        assert pdf.loc[lang, "n_rows"] == n
        acc, state, sp = deserialize_any(bytes(pdf.loc[lang, "sketch"]))
        med = acc.quantile(state, 0.5, sp)
        vals = sorted(
            r["tlen"] for r in batch_df.filter(F.col("lang") == lang).select("tlen").collect()
        )
        rank = sum(1 for v in vals if v <= med) / len(vals)
        assert abs(rank - 0.5) <= 0.05, (lang, rank)


def test_interval_ms_grammar():
    """ADVICE r2: accept Spark-valid abbreviated and compound intervals."""
    from hlld_spark.streaming.sketch_stream import _interval_ms

    assert _interval_ms("30 sec") == 30_000
    assert _interval_ms("30 secs") == 30_000
    assert _interval_ms("5 min") == 300_000
    assert _interval_ms("2 mins") == 120_000
    assert _interval_ms("1 hr") == 3_600_000
    assert _interval_ms("1 hour 30 minutes") == 5_400_000
    assert _interval_ms("interval 1 day") == 86_400_000
    assert _interval_ms("250 ms") == 250
    assert _interval_ms("1 week") == 604_800_000
    assert _interval_ms("1.5 hours") == 5_400_000
    for bad in ("", "5", "5 fortnights", "abc hours"):
        with pytest.raises(ValueError):
            _interval_ms(bad)


def _write_daily_files(spark, d, days=4, rows=200):
    import time as _t

    for day in range(days):
        spark.range(rows).select(
            F.to_timestamp(F.lit(f"2024-01-0{day+1} 12:00:00")).alias("ts"),
            F.concat(F.lit(f"u{day}-"), F.col("id").cast("string")).alias("uid"),
        ).coalesce(1).write.mode("append").parquet(d)
        _t.sleep(1.1)  # distinct mtimes → deterministic file order


def test_windowed_eviction_non_utc_session(spark, tmp_path):
    """ADVICE r2: the eviction timeout must be timezone-exact. The window
    key's epoch-ms twin is computed JVM-side (unix_millis), so a
    west-of-UTC session no longer evicts open windows early (the old
    calendar.timegm over the naive session-tz datetime was off by the
    UTC offset)."""
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        d = str(tmp_path / "in")
        os.makedirs(d)
        _write_daily_files(spark, d)
        schema = spark.read.parquet(d).schema
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
        out = windowed_sketch_stream(
            stream, "ts", [], "uid", HllSpec(10), window="1 day", watermark="0 seconds"
        )
        q = (
            out.writeStream.format("memory")
            .queryName("evict_tz")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck_tz"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        pdf = spark.sql("select * from evict_tz").toPandas()
        # every window's FINAL n_rows is complete: no mid-window state
        # reset from a premature (tz-shifted) eviction
        assert pdf["window_start"].nunique() == 4
        assert (pdf.groupby("window_start")["n_rows"].max() == 200).all()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_windowed_append_mode_equals_batch(spark, tmp_path):
    """VERDICT r2 task 8 (emit-on-close): append mode emits each window
    exactly once, finalized; the raw emissions equal the batch GROUP BY
    with no downstream max()/dedup."""
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write_daily_files(spark, d)
    # two far-future sentinel files: first advances the watermark past
    # every real window, second triggers the batch where timeouts fire
    import time as _t

    for j in (30, 31):
        spark.range(1).select(
            F.to_timestamp(F.lit(f"2024-03-{j:02d} 12:00:00")).alias("ts"),
            F.lit("sentinel").alias("uid"),
        ).coalesce(1).write.mode("append").parquet(d)
        _t.sleep(1.1)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    out = windowed_sketch_stream(
        stream, "ts", [], "uid", HllSpec(12), window="1 day", watermark="0 seconds",
        output_mode="append",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("append_close")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_app"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    pdf = spark.sql("select * from append_close").toPandas()
    real = pdf[pdf["window_start"] < pd_ts("2024-03-01")]
    # exactly once per closed window, exact counts, no re-emissions
    assert len(real) == real["window_start"].nunique() == 4
    assert (real.set_index("window_start")["n_rows"] == 200).all()
    # still-open sentinel windows are never emitted
    assert len(pdf) == len(real) + 1 or len(pdf) == len(real)


def pd_ts(s):
    import pandas as pd

    return pd.Timestamp(s)


def test_streaming_decontamination_matches_batch(spark, tmp_path):
    """r4: the decontamination probe composes with Structured Streaming
    unchanged — `decontaminate` is one stateless mapInArrow over a
    broadcast gram table, so pointing it at a readStream yields exactly
    the batch flags as files arrive (the continuous-ingest counterpart
    of the batch cleaning pipeline)."""
    import pyspark.sql.functions as F

    from hlld_spark.operators.decontaminate import decontaminate

    passage = (
        "the committee concluded that the proposed method outperforms every "
        "baseline on all three held out evaluation suites by a wide margin"
    )
    rows = [(i, f"ordinary streaming document number {i} with plain words only here") for i in range(40)]
    rows += [(100 + i, f"intro {passage} outro number {i}") for i in range(6)]
    d = str(tmp_path / "stream_in")
    batch_df = spark.createDataFrame(rows, "doc_id long, text string")
    batch_df.repartition(4).write.parquet(d)
    ev = spark.createDataFrame([(0, passage)], "i long, text string")

    expected = sorted(
        (r["doc_id"], r["n_matched_grams"])
        for r in decontaminate(batch_df, ev, "doc_id", "text", n=13).collect()
    )
    assert len(expected) == 6  # the planted docs, token unit

    stream = (
        spark.readStream.schema(batch_df.schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    out = decontaminate(stream, ev, "doc_id", "text", n=13)
    q = (
        out.writeStream.format("memory")
        .queryName("decon_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["doc_id"], r["n_matched_grams"])
        for r in spark.sql("select * from decon_stream").collect()
    )
    assert got == expected


@pytest.mark.spark
def test_streaming_stateless_cleaning_ops(spark, tmp_path):
    """r6: the stateless cleaning operators (PII redaction, blocklist
    counting, RAG chunking) compose with Structured Streaming untouched
    — they are pure column expressions, so the micro-batch plan is the
    batch plan."""
    from hlld_spark.operators.pack import chunk_documents
    from hlld_spark.operators.pii import redact_pii, with_pii_counts
    from hlld_spark.operators.sampling import with_blocklist_hits

    rows = [
        (1, "mail a@b.co or call 555-123-4567 badterm " + "tok " * 40),
        (2, "clean text with nothing to hide " + "tok " * 40),
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "in")
    batch.write.parquet(d)
    stream = spark.readStream.schema(batch.schema).parquet(d)

    out = redact_pii(
        with_blocklist_hits(with_pii_counts(stream, "text"), "text", ["badterm"]),
        "text",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("clean_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.sql("select * from clean_stream").collect()}
    assert got[1]["email_count"] == 1 and got[1]["phone_count"] == 1
    assert got[1]["blocklist_hits"] == 1 and got[2]["blocklist_hits"] == 0
    assert "<|EMAIL|>" in got[1]["text"] and "a@b.co" not in got[1]["text"]

    q2 = (
        chunk_documents(stream, "doc_id", "text", chunk_tokens=16, overlap=4)
        .writeStream.format("memory")
        .queryName("chunk_stream")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    n = spark.sql("select count(*) c from chunk_stream").collect()[0]["c"]
    assert n >= 6  # both docs split into several overlapping chunks


@pytest.mark.spark
def test_streaming_text_normalization_ops(spark, tmp_path):
    """The front-of-pipeline text fixers (mojibake repair, unicode
    normalization, within-doc line dedup) are stateless per-row maps —
    pointing them at a readStream yields exactly the batch results as
    files arrive."""
    import unicodedata

    from hlld_spark.operators.dedup import dedup_lines_within_doc
    from hlld_spark.operators.encoding import mojibake_corrupt, with_encoding_repair
    from hlld_spark.operators.normalize import with_unicode_normalization

    rows = [
        (1, mojibake_corrupt("café crème body", "cp1252", 1)),
        (2, unicodedata.normalize("NFD", "über résumé words")),
        (3, "nav\ncontent here\nnav"),
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "in")
    batch.write.parquet(d)
    stream = spark.readStream.schema(batch.schema).parquet(d)

    def clean(df):
        fixed = with_encoding_repair(df, "text", out_col="text2")
        normed = with_unicode_normalization(fixed, "text2", "NFC", "text3")
        return dedup_lines_within_doc(normed, "text3", out_col="final").select(
            "doc_id", "final", "mojibake_rounds"
        )

    expected = sorted(tuple(r) for r in clean(batch).collect())
    q = (
        clean(stream)
        .writeStream.format("memory")
        .queryName("norm_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.sql("select * from norm_stream").collect())
    assert got == expected
    by_id = {t[0]: t for t in got}
    assert by_id[1][1] == "café crème body" and by_id[1][2] == 1
    assert by_id[2][1] == "über résumé words"
    assert by_id[3][1] == "nav\ncontent here"
