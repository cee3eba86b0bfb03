"""Dedup, similarity-search, and text-analysis operators over the
driver testdata (documents, embeddings) + synthetic near-dup corpora."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hlld_spark.operators.dedup import (
    dedup_exact,
    embedding_cosine_dedup,
    minhash_lsh_dedup,
    minhash_signature_df,
    ngram_jaccard_pairs,
    simhash_dedup,
    simhash_df,
)
from hlld_spark.operators.similarity import cosine_topk
from hlld_spark.operators.text import (
    fingerprint_overlap_pairs,
    with_fingerprint,
    with_lang_id,
    with_quality_score,
    with_token_counts,
)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def neardup_docs(spark):
    """Deterministic corpus with known near-dup structure: 40 base docs,
    each with 2 near-copies (small edits) and unrelated filler."""
    rows = []
    rng = np.random.RandomState(0)
    words = [f"w{i}" for i in range(200)]
    did = 0
    for base in range(40):
        toks = [words[rng.randint(200)] for _ in range(80)]
        text = " ".join(toks)
        rows.append((did, base, "orig", text)); did += 1
        for v in range(2):  # near-copies: edit 3 tokens
            t2 = list(toks)
            for _ in range(3):
                t2[rng.randint(80)] = words[rng.randint(200)]
            rows.append((did, base, f"copy{v}", " ".join(t2))); did += 1
    for f in range(60):  # unrelated filler
        rows.append((did, -1, "filler", " ".join(words[rng.randint(200)] for _ in range(80)))); did += 1
    return spark.createDataFrame(rows, "doc_id long, family int, kind string, text string").cache()


# --- exact dedup -------------------------------------------------------------


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa"), (5, "ccc")], ["id", "t"]
    )
    kept = sorted(r["id"] for r in dedup_exact(df, "id", ["t"]).collect())
    assert kept == [1, 2, 5]


def test_dedup_exact_multicol(spark, docs):
    out = dedup_exact(docs, "doc_id", ["text", "lang"])
    exact = docs.groupBy("text", "lang").agg(F.min("doc_id").alias("doc_id")).count()
    assert out.count() == exact


def test_dedup_exact_nonunique_ids(spark):
    """Refetch-shaped input: the same id appears on several identical
    rows; unique_ids=False keeps exactly one row per keeper id."""
    df = spark.createDataFrame(
        [("u1", "aaa"), ("u1", "aaa"), ("u2", "aaa"), ("u3", "bbb"), ("u3", "bbb")],
        ["url", "t"],
    )
    out = dedup_exact(df, "url", ["t"], unique_ids=False).collect()
    assert sorted(r["url"] for r in out) == ["u1", "u3"]


def test_dedup_exact_string_ids(spark):
    df = spark.createDataFrame(
        [("b", "x"), ("a", "x"), ("c", "y")], ["name", "t"]
    )
    kept = sorted(r["name"] for r in dedup_exact(df, "name", ["t"]).collect())
    assert kept == ["a", "c"]


def test_dedup_exact_plan_no_payload_shuffle(spark, sf_dir):
    """The VERDICT-mandated scale shape: no Exchange in the dedup plan
    carries the text payload (hash+id only), and no Window/sort of full
    rows exists — the old full-row window design is gone."""
    from hlld_spark.plans.explain_tools import exchange_inputs, executed_plan

    spark.catalog.clearCache()
    fresh = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup_exact(fresh, "doc_id", ["text"]).select("doc_id")
    plan = executed_plan(out)
    assert "Window" not in plan
    assert "LeftSemi" in plan
    for inp in exchange_inputs(out):
        assert "text#" not in inp, f"payload column crosses an exchange: {inp}"
    assert out.count() == fresh.select("text").distinct().count()


def test_dedup_exact_keys_single_tiny_exchange(spark, sf_dir):
    """The survivor-count primitive: exactly one Exchange, carrying only
    the 16-byte hash + id (partial min pre-aggregated map-side)."""
    from hlld_spark.operators.dedup import dedup_exact_keys
    from hlld_spark.plans.explain_tools import exchange_inputs, executed_plan

    spark.catalog.clearCache()
    fresh = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup_exact_keys(fresh, "doc_id", ["text"])
    plan = executed_plan(out)
    assert "Window" not in plan and "Join" not in plan
    inputs = set(exchange_inputs(out))
    assert len(inputs) == 1, inputs
    (inp,) = inputs
    assert "text#" not in inp and "__h#" in inp, inp
    assert "partial_min" in plan or "partial" in plan.lower()
    assert out.count() == fresh.select("text").distinct().count()
    # agrees with the row-materializing variant
    keys = {r["doc_id"] for r in out.collect()}
    rows = {r["doc_id"] for r in dedup_exact(fresh, "doc_id", ["text"]).select("doc_id").collect()}
    assert keys == rows


def test_minhash_hot_bucket_cap(spark):
    """Buckets hotter than max_bucket_pairwise still dedup via the
    bucket-min anchor path."""
    docs = [(i, "identical content repeated for every doc in the corpus") for i in range(1, 13)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = minhash_lsh_dedup(df, "doc_id", "text", num_perm=32, bands=8, max_bucket_pairwise=3)
    assert all(r["keeper_id"] == 1 for r in out.collect())


def test_minhash_string_ids(spark, neardup_docs):
    """Non-integer doc ids flow through the whole LSH pipeline (ADVICE:
    pair/label schemas must inherit the input id type)."""
    sdocs = neardup_docs.withColumn("sid", F.concat(F.lit("doc-"), F.format_string("%04d", "doc_id")))
    out = minhash_lsh_dedup(sdocs, "sid", "text", num_perm=64, bands=16, threshold=0.5)
    rows = out.collect()
    assert all(isinstance(r["id"], str) and isinstance(r["keeper_id"], str) for r in rows)
    merged = sum(1 for r in rows if r["keeper_id"] != r["id"])
    assert merged >= 60  # the 80 near-copies mostly collapse


def test_simhash_string_ids(spark, neardup_docs):
    sdocs = neardup_docs.withColumn("sid", F.concat(F.lit("d"), F.col("doc_id").cast("string")))
    rows = simhash_dedup(sdocs, "sid", "text", hamming_threshold=8).collect()
    assert all(isinstance(r["id"], str) for r in rows)


def test_embedding_dedup_string_ids(spark):
    rng = np.random.RandomState(9)
    base = rng.standard_normal((10, 8))
    rows = []
    for i in range(10):
        rows.append((f"v{i:03d}a", base[i].tolist()))
        rows.append((f"v{i:03d}b", (base[i] + rng.standard_normal(8) * 0.001).tolist()))
    df = spark.createDataFrame(rows, "id string, vec array<double>")
    out = {r["id"]: r["keeper_id"] for r in embedding_cosine_dedup(df, "id", "vec", threshold=0.99, planes=6).collect()}
    hit = sum(1 for i in range(10) if out[f"v{i:03d}b"] == f"v{i:03d}a")
    assert hit >= 7


# --- minhash -----------------------------------------------------------------


def test_minhash_signature_deterministic(spark, neardup_docs):
    a = {r["doc_id"]: bytes(r["signature"]) for r in minhash_signature_df(neardup_docs, "doc_id", "text", 64).collect()}
    b = {r["doc_id"]: bytes(r["signature"]) for r in minhash_signature_df(neardup_docs.repartition(7), "doc_id", "text", 64).collect()}
    assert a == b


def test_minhash_lsh_finds_neardups(spark, neardup_docs):
    out = minhash_lsh_dedup(neardup_docs, "doc_id", "text", num_perm=128, bands=32, threshold=0.5)
    j = out.join(neardup_docs.select(F.col("doc_id").alias("id"), "family", "kind"), "id").collect()
    fam_of = {r["doc_id"]: r["family"] for r in neardup_docs.collect()}
    # recall: copies should be mapped to a keeper in their own family
    copies = [r for r in j if r["kind"].startswith("copy")]
    found = sum(1 for r in copies if r["keeper_id"] != r["id"] and fam_of[r["keeper_id"]] == r["family"])
    assert found / len(copies) > 0.85, f"recall {found}/{len(copies)}"
    # precision: fillers must keep themselves
    fillers = [r for r in j if r["kind"] == "filler"]
    wrong = sum(1 for r in fillers if r["keeper_id"] != r["id"])
    assert wrong <= 1


def test_ngram_jaccard_pairs(spark):
    pairs = spark.createDataFrame(
        [("abcdefgh", "abcdefgh"), ("abcdefgh", "zzzzzzzz"), ("abcdef", "abcdxy")],
        ["a", "b"],
    )
    got = [r["jaccard"] for r in ngram_jaccard_pairs(pairs, "a", "b").collect()]
    assert got[0] == 1.0
    assert got[1] == 0.0
    assert 0 < got[2] < 1


# --- simhash -----------------------------------------------------------------


def test_simhash_deterministic_and_neardup(spark, neardup_docs):
    a = {r["doc_id"]: r["simhash"] for r in simhash_df(neardup_docs, "doc_id", "text").collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash_df(neardup_docs.repartition(5), "doc_id", "text").collect()}
    assert a == b
    out = simhash_dedup(neardup_docs, "doc_id", "text", hamming_threshold=8)
    j = out.join(neardup_docs.select(F.col("doc_id").alias("id"), "family", "kind"), "id").collect()
    copies = [r for r in j if r["kind"].startswith("copy")]
    found = sum(1 for r in copies if r["keeper_id"] != r["id"])
    assert found / len(copies) > 0.6  # simhash is coarser than minhash


# --- embedding cosine dedup ----------------------------------------------------


def test_embedding_cosine_dedup(spark):
    rng = np.random.RandomState(4)
    base = rng.standard_normal((30, 16))
    rows = []
    vid = 0
    for i in range(30):
        rows.append((vid, base[i].tolist())); vid += 1
        near = base[i] + rng.standard_normal(16) * 0.01  # near-dup
        rows.append((vid, near.tolist())); vid += 1
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    out = embedding_cosine_dedup(df, "id", "vec", threshold=0.99, planes=8)
    dup_rows = [r for r in out.collect() if r["id"] % 2 == 1]  # odd ids are the copies
    found = sum(1 for r in dup_rows if r["keeper_id"] == r["id"] - 1)
    assert found / len(dup_rows) > 0.7


# --- similarity search ----------------------------------------------------------


def test_cosine_topk_matches_numpy(spark, emb):
    pdf = emb.select("vec_id", "embedding").toPandas()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    q = mat[0]
    cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    expect = set(pdf["vec_id"].to_numpy()[np.argsort(-cos)[:10]])
    got = [r["vec_id"] for r in cosine_topk(emb, "vec_id", "embedding", q, 10).collect()]
    assert len(got) == 10
    assert len(set(got) & expect) >= 9  # allow 1 tie-order difference
    assert got[0] == pdf["vec_id"].iloc[0]  # self is most similar


def test_pq_codebook_sample_spans_clustered_partitions(spark):
    """On a corpus whose partitions are cluster-sorted (the normal crawl
    layout), the codebook training sample must span ALL partitions — a
    ``.limit(sample)`` takes only the first partition's rows, fitting
    every centroid to one shard.

    Fixture: 4 well-separated clusters, one partition each (union of
    4 single-cluster frames preserves partition order). sample=400 <
    one cluster's 500 rows, so a first-partition sample would see
    cluster 0 only. With m=1 the one codebook is plain k-means: assert
    every true cluster center has a fitted centroid nearby and the
    centroid→cluster assignment is balanced."""
    from hlld_spark.operators.similarity import fit_pq_codebooks

    rng = np.random.RandomState(11)
    centers = np.eye(4, 8) * 50.0  # inter-center distance ~70, noise ~1
    rows = []
    for c in range(4):
        vecs = centers[c] + rng.randn(500, 8)
        rows.extend(
            (int(c * 500 + i), [float(x) for x in v]) for i, v in enumerate(vecs)
        )
    df = (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        .repartitionByRange(4, "vec_id")  # id-ranges == clusters: sorted layout
        .sortWithinPartitions("vec_id")
    )
    assert df.rdd.getNumPartitions() == 4
    cent = fit_pq_codebooks(df, "embedding", m=1, n_centroids=4, sample=400, seed=3)[0]
    # nearest fitted centroid per TRUE center must be near (noise scale),
    # and all 4 centroids must claim a distinct cluster
    d = ((centers[:, None, :] - cent[None, :, :]) ** 2).sum(-1) ** 0.5
    assert d.min(axis=1).max() < 5.0, d.min(axis=1)
    assert len(set(d.argmin(axis=0))) == 4


# --- text analysis ----------------------------------------------------------------


def test_token_counts(spark):
    df = spark.createDataFrame([("hello world",), ("a b  c",), ("",), ("one2three!",)], ["text"])
    rows = with_token_counts(df).collect()
    assert [r["whitespace_tokens"] for r in rows] == [2, 3, 0, 1]
    assert rows[3]["bpe_tokens"] == 4  # one|2|three|!


def test_quality_score_ranges(spark, docs):
    out = with_quality_score(docs).select("quality_score", "punct_ratio", "stopword_ratio").collect()
    for r in out:
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0


def test_quality_score_ordering(spark):
    df = spark.createDataFrame(
        [
            ("good", "the cat sat on the mat and it was a good day for all of us to be here"),
            ("junk", "!!! ### 12345 @@@ %% ^^ && ** (( )) 99999 !!!"),
        ],
        ["kind", "text"],
    )
    rows = {r["kind"]: r["quality_score"] for r in with_quality_score(df).collect()}
    assert rows["good"] > rows["junk"]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("en", "the quick brown fox is one of the animals that jumped over"),
            ("es", "el perro de la casa que corre en los campos de la tierra"),
            ("de", "der hund und die katze sind nicht das gleiche tier und das ist gut"),
            ("ru", "собака и кошка бегут по полю возле дома"),
            ("zh", "狗和猫在田野里奔跑这是一个很长的句子"),
            ("und", ""),
        ],
        ["expected", "text"],
    )
    rows = with_lang_id(df).collect()
    for r in rows:
        assert r["lang_id"] == r["expected"], (r["expected"], r["lang_id"])


def test_lang_id_batch_vectorized_consistency(spark):
    """The batch-vectorized path agrees with itself across batch shapes
    (one doc per batch vs all docs in one batch) and handles edge docs."""
    from hlld_spark.operators.text import _lang_id_batch

    texts = [
        "the quick brown fox is one of the animals that jumped over",
        "el perro de la casa que corre en los campos de la tierra",
        "der hund und die katze sind nicht das gleiche tier und das ist gut",
        "собака и кошка бегут по полю возле дома",
        "狗和猫在田野里奔跑这是一个很长的句子",
        "",
        "zzz qqq xxx",  # no markers → und
        "le chat de la maison et les oiseaux des champs",
    ]
    whole = _lang_id_batch(pd.Series(texts)).to_pylist()
    single = [_lang_id_batch(pd.Series([t])).to_pylist()[0] for t in texts]
    assert whole == single
    assert whole == ["en", "es", "de", "ru", "zh", "und", "und", "fr"]


def test_fingerprint_hot_cap(spark):
    """An adversarial shingle shared by every doc must not quadratic the
    self-join: with the cap it is dropped, and pair counts stay bounded."""
    from hlld_spark.operators.text import hot_fingerprints

    boiler = "this exact boilerplate footer appears on every single page of the site"
    df = spark.createDataFrame(
        [(i, f"unique body {i} with its own words " * 3 + boiler) for i in range(20)],
        ["doc_id", "text"],
    )
    fp = with_fingerprint(df, "text").cache()
    hot = hot_fingerprints(fp, "doc_id", max_doc_freq=10)
    assert hot.count() > 0  # the boilerplate fingerprints exceed the cap
    pairs = fingerprint_overlap_pairs(fp, "doc_id", min_shared=2, max_doc_freq=10)
    # capped: boilerplate-only overlap no longer pairs all 190 combos
    assert pairs.count() < 190
    uncapped = fingerprint_overlap_pairs(fp, "doc_id", min_shared=2, max_doc_freq=10**9)
    assert uncapped.count() == 190


def test_fingerprints_detect_overlap(spark):
    shared = "the quick brown fox jumps over the lazy dog again and again in the field"
    df = spark.createDataFrame(
        [
            (1, shared + " alpha beta gamma delta epsilon zeta"),
            (2, "totally different content with nothing in common here at all whatsoever"),
            (3, "prefix words then " + shared),
        ],
        ["doc_id", "text"],
    )
    fp = with_fingerprint(df, "text")
    pairs = fingerprint_overlap_pairs(fp, "doc_id", min_shared=2).collect()
    assert any(r["id_a"] == 1 and r["id_b"] == 3 for r in pairs)
    assert not any(r["id_a"] == 2 or r["id_b"] == 2 for r in pairs)


def test_fingerprint_deterministic(spark):
    df = pd.DataFrame({"text": ["some repeated document body for fingerprinting"] * 2})
    from hlld_spark.operators.text import _rolling_fingerprints

    a, b = _rolling_fingerprints(df["text"])
    assert a == b


def test_minhash_empty_and_single_docs(spark):
    """Degenerate inputs: empty strings and single-doc corpora."""
    from hlld_spark.operators.dedup import minhash_lsh_dedup

    df = spark.createDataFrame([(1, ""), (2, ""), (3, "some real text here")], "doc_id long, text string")
    out = {r["id"]: r["keeper_id"] for r in minhash_lsh_dedup(df, "doc_id", "text", num_perm=32, bands=8).collect()}
    assert out[1] == 1  # empty docs dedup to the min-id empty doc
    assert out[2] == 1
    assert out[3] == 3


def test_minhash_keeper_pointers_idempotent(spark, neardup_docs):
    """After pointer-jumping closure, keeper(keeper(x)) == keeper(x)."""
    from hlld_spark.operators.dedup import minhash_lsh_dedup

    out = minhash_lsh_dedup(neardup_docs, "doc_id", "text", num_perm=64, bands=16, threshold=0.5).cache()
    k = {r["id"]: r["keeper_id"] for r in out.collect()}
    for i, kp in k.items():
        assert k[kp] == kp, f"keeper chain not collapsed: {i} -> {kp} -> {k[kp]}"


def test_minhash_dedup_against_persisted_corpus(spark, neardup_docs, tmp_path):
    """Incremental crawl dedup: new near-copies match their family's
    corpus doc via a PERSISTED signature table (no corpus re-signing);
    novel docs come back unmatched."""
    from hlld_spark.operators.dedup import minhash_dedup_against, minhash_signature_df

    corpus = neardup_docs.filter(F.col("kind") == "orig")
    sig_path = str(tmp_path / "corpus_sigs")
    minhash_signature_df(corpus, "doc_id", "text", 128, 5).withColumnRenamed(
        "doc_id", "corpus_id"
    ).write.parquet(sig_path)
    stored = spark.read.parquet(sig_path)

    new = neardup_docs.filter(F.col("kind") != "orig")  # copies + fillers
    out = minhash_dedup_against(
        new, "doc_id", "text", stored, corpus_id_col="corpus_id",
        num_perm=128, bands=32, threshold=0.5,
    )
    j = {r["id"]: r["match_id"] for r in out.collect()}
    fam = {r["doc_id"]: r["family"] for r in neardup_docs.collect()}
    copies = [r["doc_id"] for r in new.filter(F.col("kind").startswith("copy")).collect()]
    hit = sum(1 for d in copies if j[d] is not None and fam[j[d]] == fam[d])
    assert hit / len(copies) > 0.85, f"{hit}/{len(copies)}"
    fillers = [r["doc_id"] for r in new.filter(F.col("kind") == "filler").collect()]
    assert sum(1 for d in fillers if j[d] is not None) <= 1

    # ADVICE r4: the signature parameters are stamped into column
    # metadata, survive the parquet round-trip, and a probe with
    # different parameters refuses instead of silently missing
    assert dict(stored.schema["signature"].metadata) == {
        "num_perm": 128, "shingle_k": 5, "shingle_unit": "char",
    }
    import pytest as _pytest

    for bad_kwargs in (
        {"num_perm": 64, "bands": 16},
        {"shingle_k": 7},
        {"shingle_unit": "token"},
    ):
        kwargs = dict(num_perm=128, bands=32, shingle_k=5, shingle_unit="char")
        kwargs.update(bad_kwargs)
        with _pytest.raises(ValueError, match="different minhash parameters"):
            minhash_dedup_against(
                new, "doc_id", "text", stored, corpus_id_col="corpus_id", **kwargs
            )


def test_unicode_robustness_lang_and_minhash(spark):
    """Astral-plane emoji, CJK, mixed scripts: byte-level kernels stay
    consistent (utf-8 marker scan, utf-32 script ratios, shingle hashes
    deterministic across batch shapes)."""
    from hlld_spark.operators.dedup import minhash_signature_df
    from hlld_spark.operators.text import _lang_id_batch

    texts = [
        "the quick brown fox 🦊 jumps over the lazy dog 🐶 in the field",
        "狗和猫在田野里奔跑这是一个很长的句子😀还有更多的汉字内容在这里",
        "собака и кошка бегут по полю 🏃 возле дома",
        "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𝔪𝔞𝔱𝔥 𝔰𝔱𝔶𝔩𝔢𝔡 𝔱𝔢𝔵𝔱 with the usual words of the day",
    ]
    got = _lang_id_batch(pd.Series(texts)).to_pylist()
    assert got[0] == "en" and got[1] == "zh" and got[2] == "ru" and got[3] == "en"
    single = [_lang_id_batch(pd.Series([t])).to_pylist()[0] for t in texts]
    assert got == single  # batch-shape invariant with multi-byte chars
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    a = {r["doc_id"]: bytes(r["signature"]) for r in minhash_signature_df(df, "doc_id", "text", 32).collect()}
    b = {r["doc_id"]: bytes(r["signature"]) for r in minhash_signature_df(df.repartition(3), "doc_id", "text", 32).collect()}
    assert a == b


def test_ngram_jaccard_vectorized_agrees(spark, neardup_docs):
    """The default hashed-shingle fast path agrees with the python-set
    exact path (exact=True opt-in) on real pairs."""
    pairs = (
        neardup_docs.filter(F.col("kind") == "orig")
        .select(F.col("text").alias("ta"))
        .limit(20)
        .crossJoin(neardup_docs.filter(F.col("kind") != "orig").select(F.col("text").alias("tb")).limit(10))
    )
    a = [
        round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(pairs, "ta", "tb", n=4, exact=True).orderBy("ta", "tb").collect()
    ]
    b = [round(r["jaccard"], 9) for r in ngram_jaccard_pairs(pairs, "ta", "tb", n=4).orderBy("ta", "tb").collect()]
    assert a == b


def test_ngram_jaccard_unicode_agrees(spark):
    """ADVICE r2: the hashed path shingles CODE POINTS (utf-32 lanes),
    so it agrees with the character-set exact path on non-ASCII text
    where byte-shingling diverged (multi-byte chars split across byte
    n-grams)."""
    texts = [
        ("机器学习的数据管道处理海量文本", "机器学习的数据管道处理大量文本"),
        ("Ψαρεύω στη θάλασσα κάθε πρωί", "Ψαρεύω στη λίμνη κάθε πρωί"),
        ("дедупликация корпуса текстов", "дедупликация корпуса данных"),
        ("naïve café déjà-vu über alles", "naïve café déjà-vu unter alles"),
        ("mixed ascii 和中文 together", "mixed ascii 和日文 together"),
    ]
    pairs = spark.createDataFrame(texts, ["ta", "tb"])
    a = [
        round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(pairs, "ta", "tb", n=3, exact=True).orderBy("ta").collect()
    ]
    b = [round(r["jaccard"], 9) for r in ngram_jaccard_pairs(pairs, "ta", "tb", n=3).orderBy("ta").collect()]
    assert a == b
    assert all(0 < x < 1 for x in a)  # genuinely partial overlaps


def test_dedup_exact_duplicate_id_cross_content(spark):
    """ADVICE r2: with repeating ids, a keeper id that also labels OTHER
    content must not drag those rows through, and no content group may
    vanish. unique_ids=False keys the semi-join on (content-hash, id):
    exactly one row per content group survives."""
    df = spark.createDataFrame(
        [("u1", "aaa"), ("u1", "bbb"), ("u2", "bbb"), ("u2", "aaa"), ("u9", "ccc")],
        ["url", "t"],
    )
    out = sorted((r["url"], r["t"]) for r in dedup_exact(df, "url", ["t"], unique_ids=False).collect())
    # groups: aaa->min u1, bbb->min u1, ccc->u9 — BOTH u1 groups survive
    assert out == [("u1", "aaa"), ("u1", "bbb"), ("u9", "ccc")]


def _fold_bucket(ids, score, is_hit, cap, batch_rows=5):
    """(ids, keeper_ids, scores) of ONE bucket through the sorted-run
    verify fold, fed as ``batch_rows``-row Arrow batches; each row's
    value is its id, so ``score`` sees id arrays."""
    import pyarrow as pa

    from hlld_spark.operators.dedup import _verify_fold

    rb = pa.RecordBatch.from_arrays([pa.array(np.zeros(len(ids), np.int64)), pa.array(ids)], names=["k", "id"])
    fold = _verify_fold(["k"], "id", lambda b: b.column("id").to_numpy(), score, is_hit, cap)
    out = list(fold(rb.slice(lo, batch_rows) for lo in range(0, len(ids), batch_rows)))
    return tuple(
        np.concatenate([b.column(c).to_numpy() for b in out]) if out else np.zeros(0)
        for c in ("id", "keeper_id", "score")
    )


def test_capped_cluster_pairs_hot_bucket_recall():
    """VERDICT r2 #6 unit: in a bucket hotter than the cap, (a) pairs
    co-resident in an overflow chunk and (b) clusters reaching the head
    chunk are all recovered by the verify fold — min-only anchoring
    found neither when the bucket min wasn't in the cluster."""
    ids = np.arange(40)
    cluster = {i: 0 for i in list(range(8)) + [20, 21]}  # reaches the head chunk
    cluster.update({25: 1, 26: 1})  # pair entirely inside one overflow chunk
    sim = np.zeros((40, 40))
    for a in range(40):
        for b in range(40):
            if cluster.get(a, f"a{a}") == cluster.get(b, f"b{b}"):
                sim[a, b] = 1.0
    i, k, s = _fold_bucket(ids, lambda ia, ib: sim[np.ix_(ia, ib)], lambda S: S >= 0.5, cap=8)
    got = dict(zip(i.tolist(), k.tolist()))
    # head-cluster members anywhere in the bucket anchor to the min id
    assert all(got[x] == 0 for x in list(range(1, 8)) + [20, 21])
    # the overflow-tail pair is found (old code: missed — neither matched row 0)
    assert got[26] == 25
    # no false pairs
    assert set(got) == set(list(range(1, 8)) + [20, 21, 26])


def test_minhash_hot_bucket_overflow_recall(spark):
    """Integration: a near-dup cluster 4x hotter than max_bucket_pairwise
    keeps 100% recall (every member labels to the cluster min)."""
    from hlld_spark.operators.dedup import minhash_lsh_dedup

    base = " ".join(f"tok{i}" for i in range(120))
    rows = [(i, base + f" tail{i}") for i in range(32)]
    rows += [(100 + i, f"unique doc {i} " + " ".join(f"w{i}-{j}" for j in range(100))) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    out = minhash_lsh_dedup(df, "doc_id", "text", threshold=0.8, max_bucket_pairwise=8)
    got = {r["id"]: r["keeper_id"] for r in out.collect()}
    assert all(got[i] == 0 for i in range(32)), {i: got[i] for i in range(32) if got[i] != 0}
    assert all(got[100 + i] == 100 + i for i in range(10))


def test_repetition_signals(spark):
    """Gopher-style repetition signals: exact ratios, edge cases, and
    the zero-Python/zero-shuffle plan claim."""
    from hlld_spark.operators.text import with_repetition_signals

    df = spark.createDataFrame(
        [
            (0, "a a a a"),                      # 4 words, 1 distinct
            (1, "one two three four"),            # no repetition
            (2, ""),                              # empty
            (3, "x"),                             # single word
            (4, "line\nline\nother"),             # duplicate lines
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_repetition_signals(df).collect()}
    assert rows[0]["n_words"] == 4 and rows[0]["n_distinct_words"] == 1
    assert rows[0]["dup_word_ratio"] == 0.75
    assert rows[1]["dup_word_ratio"] == 0.0
    assert rows[2]["n_words"] == 0 and rows[2]["dup_word_ratio"] == 0.0
    assert rows[3]["dup_word_ratio"] == 0.0
    assert rows[4]["dup_line_ratio"] == pytest.approx(1 - 2 / 3, abs=1e-6)
    plan = with_repetition_signals(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_capped_cluster_pairs_worst_case_guarantee():
    """VERDICT r3 #8 — the PRECISE guarantee of the verify fold's chunked
    hot-bucket rule, encoded adversarially: with ids sorted and chunked by cap, a
    matching pair (i, j) is emitted iff
        (a) i and j fall in the same cap-chunk, OR
        (b) at least one of them lies in the HEAD chunk (the cap
            smallest ids).
    A pair spanning two non-head chunks is MISSED by this path — that is
    the documented bound (DEVNOTES), not a bug: within one band-bucket
    the cost stays <= 2*n*cap, and a true near-dup pair gets an
    independent co-chunk/head chance in every OTHER band whose bucket it
    shares, which is what restores recall at the operator level."""
    cap = 4
    n = 16
    ids = np.arange(n)
    # clusters: {2, 9} head-anchored; {6, 7} co-chunk (chunk 1);
    # {5, 10} adversarial (chunks 1 and 2, neither in head);
    # {4, 11, 13} adversarial 3-cluster spread over chunks 1, 2, 3
    cluster = {2: 1, 9: 1, 6: 2, 7: 2, 5: 3, 10: 3, 4: 4, 11: 4, 13: 4}

    def score(ia, ib):
        ca = np.array([cluster.get(int(ids[x]), -1000 - int(ids[x])) for x in ia])
        cb = np.array([cluster.get(int(ids[x]), -2000 - int(ids[x])) for x in ib])
        return (ca[:, None] == cb[None, :]).astype(float)

    got_i, got_k, _ = _fold_bucket(ids, score, lambda S: S >= 0.5, cap)
    found = dict(zip(got_i.tolist(), got_k.tolist()))
    # (b) head-anchored pair: found, keeper = head id
    assert found.get(9) == 2
    # (a) co-chunk pair: found
    assert found.get(7) == 6
    # worst case: pair spans chunks 1 and 2, neither in head -> missed
    assert 5 not in found and 10 not in found
    # 3-cluster spread over three non-head chunks: also missed entirely
    assert 4 not in found and 11 not in found and 13 not in found
    # and nothing spurious
    assert set(found) == {9, 7}


def test_minhash_operator_recall_despite_adversarial_bucket(spark):
    """Operator-level counterpart: pairs that a SINGLE band's chunked
    verify would miss are still caught end-to-end, because identical
    texts collide in EVERY band — each band re-chunks an (id-sorted)
    bucket, and the keeper-label union over bands anchors the cluster.
    Construct a bucket hotter than 3x cap from identical docs: whatever
    the chunking, all-pairs-within-chunk + head anchoring must label
    every member with the global min id."""
    import pyspark.sql.functions as F

    from hlld_spark.operators.dedup import minhash_lsh_dedup

    n = 40  # > 3 * cap below
    rows = [(i, "the very same duplicated boilerplate sentence repeated verbatim") for i in range(n)]
    rows += [(1000 + i, " ".join(f"tok{i}q{j}" for j in range(10))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    out = minhash_lsh_dedup(df, "doc_id", "text", max_bucket_pairwise=12)
    lab = {r["id"]: r["keeper_id"] for r in out.collect()}
    # every clone labeled with the global min id 0 (head-chunk anchoring:
    # the head of every band's bucket contains id 0)
    assert all(lab[i] == 0 for i in range(n)), {i: lab[i] for i in range(n) if lab[i] != 0}
    # uniques keep themselves
    assert all(lab[1000 + i] == 1000 + i for i in range(20))


def test_minhash_token_shingles(spark):
    """r4: shingle_unit='token' — minhash over whitespace-token n-grams
    (the production web-dedup convention). Word-reordered docs that
    share most token 3-grams cluster; docs sharing characters but not
    token sequences don't."""
    from hlld_spark.operators.dedup import minhash_lsh_dedup

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 4
    near = base + "kilo lima"                      # high token-gram overlap
    far = " ".join(w[::-1] for w in base.split())  # same chars, reversed tokens
    rows = [(0, base), (1, near), (2, far)]
    rows += [(10 + i, " ".join(f"w{i}t{j}" for j in range(30))) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_lsh_dedup(
        df, "doc_id", "text", shingle_k=3, shingle_unit="token", threshold=0.7
    )
    lab = {r["id"]: r["keeper_id"] for r in out.collect()}
    assert lab[1] == 0      # near-dup by token grams
    assert lab[2] == 2      # reversed tokens: not a dup despite char overlap
    assert all(lab[10 + i] == 10 + i for i in range(5))


def test_minhash_token_signature_determinism(spark):
    """Token-unit signatures are deterministic across jobs (the
    incremental-dedup contract holds for the new unit)."""
    from hlld_spark.operators.dedup import minhash_signature_df

    rows = [(i, f"some shared words plus unique token u{i} at the end here") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: bytes(r["signature"]) for r in minhash_signature_df(df, "doc_id", "text", 64, 3, "token").collect()}
    b = {r["doc_id"]: bytes(r["signature"]) for r in minhash_signature_df(df.repartition(5), "doc_id", "text", 64, 3, "token").collect()}
    assert a == b
    c = {r["doc_id"]: bytes(r["signature"]) for r in minhash_signature_df(df, "doc_id", "text", 64, 3, "char").collect()}
    assert a != c  # different unit -> different signature space


@pytest.mark.spark
def test_pq_encode_and_adc_search(spark):
    """Product quantization (r6): codes are m bytes; ADC top-k finds the
    planted nearest cluster; recall@10 vs exact cosine is high on
    clustered data; training/encoding is deterministic."""
    import numpy as np

    from hlld_spark.operators.similarity import (
        fit_pq_codebooks,
        pq_encode,
        pq_topk_batch,
    )

    rng = np.random.RandomState(11)
    centers = rng.randn(6, 64) * 4
    rows = []
    for i in range(600):
        v = centers[i % 6] + rng.randn(64) * 0.3
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(6)
    books = fit_pq_codebooks(df, "embedding", m=8, n_centroids=64, sample=600)
    assert books.shape == (8, 64, 8)
    codes = pq_encode(df, "vec_id", "embedding", books)
    first = codes.orderBy("vec_id").limit(3).collect()
    assert all(len(bytes(r["pq_code"])) == 8 for r in first)
    # determinism: same table -> same codebooks and codes
    books2 = fit_pq_codebooks(df, "embedding", m=8, n_centroids=64, sample=600)
    assert np.array_equal(books, books2)
    # queries = 3 cluster centers; ADC top-10 must be points of that cluster
    qm = centers[:3]
    res = pq_topk_batch(codes, "vec_id", qm, books, k=10).collect()
    assert len(res) == 30
    byq = {}
    for r in res:
        byq.setdefault(r["query_idx"], []).append(r["vec_id"])
    for qi in range(3):
        assert all(v % 6 == qi for v in byq[qi]), byq[qi]
    # ADC values are exactly the sum of the m table lookups: recompute
    # offline for every returned row and match
    code_map = {r["vec_id"]: np.frombuffer(bytes(r["pq_code"]), np.uint8) for r in codes.collect()}
    for r in pq_topk_batch(codes, "vec_id", qm, books, k=10).collect():
        q = qm[r["query_idx"]]
        code = code_map[r["vec_id"]]
        want = sum(
            ((q[j * 8 : (j + 1) * 8] - books[j][code[j]]) ** 2).sum() for j in range(8)
        )
        assert abs(r["adc_dist"] - want) < 1e-9
    # on SPREAD data (no tight clusters) each point quantizes near its
    # own centroid: a probe's own vector is rank 1 — the driver-gate
    # property (quantization error << random-point spacing)
    spread = [(i, [float(x) for x in rng.randn(64) * 3]) for i in range(400)]
    sdf = spark.createDataFrame(spread, "vec_id long, embedding array<float>").repartition(4)
    sbooks = fit_pq_codebooks(sdf, "embedding", m=8, n_centroids=128, sample=400)
    scodes = pq_encode(sdf, "vec_id", "embedding", sbooks)
    sq = np.stack([np.asarray(v) for _i, v in spread[:5]])
    sres = pq_topk_batch(scodes, "vec_id", sq, sbooks, k=10).collect()
    top1 = {r["query_idx"]: r["vec_id"] for r in sres if r["rank"] == 1}
    assert top1 == {i: i for i in range(5)}


@pytest.mark.spark
def test_pq_rejects_bad_shapes(spark):
    import numpy as np
    import pytest as _pt

    from hlld_spark.operators.similarity import fit_pq_codebooks, pq_topk_batch

    df = spark.createDataFrame([(0, [1.0] * 30)], "vec_id long, embedding array<float>")
    with _pt.raises(ValueError, match="not divisible"):
        fit_pq_codebooks(df, "embedding", m=8, sample=4)
    with _pt.raises(ValueError, match="matrix"):
        pq_topk_batch(df, "vec_id", np.zeros(30), np.zeros((8, 4, 4)))


def test_duplicated_span_counts_hand_fixture(spark):
    """r6 exact-substring signal: hand-checkable corpus — a 30-char
    passage shared by docs 1 and 2 yields exactly (30 - span + 1)
    duplicated positions each; doc 3 is clean; short docs contribute
    nothing (no sentinel leakage)."""
    from hlld_spark.operators.dedup import duplicated_span_counts

    shared = "the quick brown fox jumps over"  # 30 chars
    rows = [
        (1, "AAAA " + shared + " tail one"),
        (2, "BB " + shared + " other tail"),
        (3, "completely unrelated text without repeats"),
        (4, "tiny"),  # shorter than span
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["dup_positions"] for r in duplicated_span_counts(df, "doc_id", "text", span=25).collect()}
    # the shared region INCLUDING its flanking spaces is 32 chars:
    # 32 - 25 + 1 = 8 duplicated windows per doc
    assert got == {1: 8, 2: 8}


def test_duplicated_span_counts_matches_duckdb(spark, sf_dir):
    import duckdb

    from hlld_spark.operators.dedup import duplicated_span_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {r["doc_id"]: r["dup_positions"] for r in duplicated_span_counts(docs, "doc_id", "text", span=25).collect()}
    want = dict(
        duckdb.sql(
            f"""
        WITH w AS (
          SELECT doc_id, substr(text, i, 25) AS g
          FROM read_parquet('{sf_dir}/documents.parquet'),
               LATERAL (SELECT UNNEST(range(1, length(text) - 25 + 2)) AS i)
          WHERE length(text) >= 25
        ), dup AS (SELECT g FROM w GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2)
        SELECT doc_id, COUNT(*) FROM w JOIN dup USING (g) GROUP BY doc_id"""
        ).fetchall()
    )
    assert got == want


def test_duplicated_span_single_gram_exchange(spark, sf_dir):
    """Scale contract: the gram stream crosses exactly ONE exchange (the
    explicit gram_hash repartition); both aggregations and the join
    reuse that partitioning."""
    from hlld_spark.operators.dedup import duplicated_span_counts

    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = duplicated_span_counts(docs, "doc_id", "text", span=25)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]  # AQE prints the plan twice
    assert final.count("Exchange hashpartitioning(gram_hash") == 1, final
    # the docs-per-gram window reuses that partitioning: sort only
    assert "Window" in final and final.count("Exchange") == 2, final


def test_duplicated_span_stride_samples_positions(spark):
    from hlld_spark.operators.dedup import duplicated_span_counts

    shared = "x" * 10 + "the quick brown fox jumps over the lazy dog wall"
    df = spark.createDataFrame(
        [(1, shared), (2, shared)], "doc_id long, text string"
    )
    full = {r["doc_id"]: r["dup_positions"] for r in duplicated_span_counts(df, "doc_id", "text", span=20).collect()}
    s3 = {r["doc_id"]: r["dup_positions"] for r in duplicated_span_counts(df, "doc_id", "text", span=20, stride=3).collect()}
    n_pos = len(shared) - 20 + 1
    assert full == {1: n_pos, 2: n_pos}
    import math

    assert s3 == {1: math.ceil(n_pos / 3), 2: math.ceil(n_pos / 3)}


# ---------------------------------------------------------------------------
# remove_duplicated_spans (r6)
# ---------------------------------------------------------------------------


def _ref_remove_spans(texts, span, min_docs):
    """Pure-python reference: flag positions whose span-gram occurs in
    >= min_docs distinct docs, merge [p, p+span) intervals, cut."""
    from collections import defaultdict

    owners = defaultdict(set)
    for i, t in texts.items():
        for p in range(max(len(t) - span + 1, 0)):
            owners[t[p : p + span]].add(i)
    out = {}
    for i, t in texts.items():
        flag = [
            p
            for p in range(max(len(t) - span + 1, 0))
            if len(owners[t[p : p + span]]) >= min_docs
        ]
        cut = [False] * len(t)
        for p in flag:
            for j in range(p, min(p + span, len(t))):
                cut[j] = True
        out[i] = "".join(ch for ch, c in zip(t, cut) if not c)
    return out


@pytest.mark.spark
def test_remove_duplicated_spans_hand_case(spark):
    from hlld_spark.operators.dedup import remove_duplicated_spans

    shared = "AAAAAAAAAABBBBBBBBBB"
    rows = [
        (1, "xx" + shared + "yy"),
        (2, "pp" + shared + "qq" + shared + "rr"),
        (3, "totally unique text here ok"),
        (4, "sh"),  # shorter than span
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in remove_duplicated_spans(df, "doc_id", "text", span=10).collect()
    }
    assert got == {1: "xxyy", 2: "ppqqrr", 3: "totally unique text here ok", 4: "sh"}


@pytest.mark.spark
def test_remove_duplicated_spans_random_matches_reference(spark):
    import random

    from hlld_spark.operators.dedup import remove_duplicated_spans

    rng = random.Random(0xDED0)
    shared_blocks = ["".join(rng.choice("abcd") for _ in range(25)) for _ in range(4)]
    texts = {}
    for i in range(30):
        parts = []
        for _ in range(rng.randrange(1, 5)):
            if rng.random() < 0.5:
                parts.append(rng.choice(shared_blocks))
            else:
                parts.append("".join(rng.choice("wxyz") for _ in range(rng.randrange(3, 30))))
        texts[i] = "".join(parts)
    df = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in remove_duplicated_spans(df, "doc_id", "text", span=12).collect()
    }
    want = _ref_remove_spans(texts, 12, 2)
    assert got == want


@pytest.mark.spark
def test_remove_duplicated_spans_out_col_and_nested_overlap(spark):
    from hlld_spark.operators.dedup import remove_duplicated_spans

    # overlapping flagged regions in ONE doc against two partners:
    # intervals must merge through the running-max-end island logic
    a = "0123456789"
    b = "abcdefghij"
    rows = [
        (1, a + b + "TAIL"),
        (2, "x" + a + "x"),
        (3, "y" + b + "y"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["text"], r["clean"])
        for r in remove_duplicated_spans(
            df, "doc_id", "text", span=10, out_col="clean"
        ).collect()
    }
    # doc1: both halves cut (adjacent intervals merge), TAIL survives
    assert got[1] == (a + b + "TAIL", "TAIL")
    assert got[2][1] == "xx" and got[3][1] == "yy"


@pytest.mark.spark
def test_crawl_delta(spark):
    from hlld_spark.operators.dedup import crawl_delta

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "gone")],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed now"), (4, "brand new")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r["status"]
        for r in crawl_delta(old, new, "doc_id", ["text"]).collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


@pytest.mark.spark
def test_crawl_delta_payload_free_exchange(spark):
    from hlld_spark.operators.dedup import crawl_delta

    old = spark.createDataFrame([(1, "x" * 1000)], "doc_id bigint, text string")
    new = spark.createDataFrame([(1, "x" * 1000)], "doc_id bigint, text string")
    plan = (
        crawl_delta(old, new, "doc_id", ["text"])
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # text is hashed before any join: the Join node's condition and
    # output never reference the raw text column
    assert "md5" in plan
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines and not any("text#" in ln for ln in join_lines)
