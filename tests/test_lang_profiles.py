"""Natural-text language ID — trigram-profile path (VERDICT r2 #4).

The marker heuristic (`text.with_lang_id`) is the synthetic fast-path;
`lang_profiles.with_lang_id_profiles` is the natural-text path. These
tests pin: 100% accuracy on the held-out evaluation corpus, batch/single
consistency (no cross-doc leakage in the shared-buffer kernel), honest
"und" on no-evidence inputs, and the Spark column path.
"""

import numpy as np
import pandas as pd
import pytest

from hlld_spark.operators.lang_profiles import (
    EVAL_SENTENCES,
    _build_profile_table,
    _profile_lang_batch,
    with_lang_id_profiles,
)


def _corpus():
    texts, labels = [], []
    for lang, sents in EVAL_SENTENCES.items():
        for s in sents:
            texts.append(s)
            labels.append(lang)
    return texts, labels


def test_eval_corpus_exact():
    """Every held-out natural sentence (10 languages, open-class
    vocabulary the profiles never saw) is labeled correctly."""
    texts, labels = _corpus()
    pred = list(_profile_lang_batch(pd.Series(texts)))
    assert pred == labels


def test_batch_equals_single_doc():
    """The shared concatenated-buffer kernel must not leak trigrams
    across document boundaries: scoring each doc alone gives the same
    label as scoring the whole batch."""
    texts, _ = _corpus()
    whole = list(_profile_lang_batch(pd.Series(texts)))
    single = [_profile_lang_batch(pd.Series([t])).iloc[0] for t in texts]
    assert whole == single


def test_no_evidence_is_und():
    out = list(_profile_lang_batch(pd.Series(["", None, "12345 !!!", "ok", "zzz qqq"])))
    assert out == ["und"] * 5


def test_case_insensitive():
    texts, labels = _corpus()
    shouted = [t.upper() for t in texts]
    assert list(_profile_lang_batch(pd.Series(shouted))) == labels


def test_profile_table_shape():
    hashes, weights = _build_profile_table()
    assert hashes.dtype == np.uint64
    assert np.all(np.diff(hashes.astype(np.int64)) != 0)  # unique
    assert np.all(hashes[:-1] < hashes[1:])  # sorted
    assert weights.shape == (len(hashes), 16)  # r4: 16 word-profile langs (incl vi)
    assert np.all(weights >= 0)
    # every language contributes some positive-weight trigrams
    assert np.all((weights > 0).sum(axis=0) > 50)


def test_spark_column_path(spark):
    texts, labels = _corpus()
    df = spark.createDataFrame(
        [(i, l, t) for i, (t, l) in enumerate(zip(texts, labels))],
        "doc_id long, lang string, text string",
    )
    bad = (
        with_lang_id_profiles(df, "text")
        .filter("lang_id != lang")
        .count()
    )
    assert bad == 0


def test_mixed_with_marker_path(spark):
    """Profile path and marker path coexist on one DataFrame (different
    output columns) without interference."""
    from pyspark.sql import functions as F

    from hlld_spark.operators.text import with_lang_id

    df = spark.createDataFrame(
        [(0, "the of and to in is that it the and"), (1, "de la que el en los de la")],
        "doc_id long, text string",
    )
    out = with_lang_id_profiles(with_lang_id(df, "text", out="marker_lang"), "text", out="profile_lang")
    rows = {r["doc_id"]: r for r in out.orderBy("doc_id").collect()}
    assert rows[0]["marker_lang"] == rows[0]["profile_lang"] == "en"
    assert rows[1]["marker_lang"] == rows[1]["profile_lang"] == "es"


def test_round4_new_languages_present():
    """The r4 widening: 30 languages, each with a 5-sentence held-out
    gate — 16 word-trigram profiles (incl. diacritic-saturated vi) and
    14 script-ratio languages (4 of which backstop a profile)."""
    assert set(EVAL_SENTENCES) == {
        "en", "es", "de", "fr", "pt", "it", "nl", "ru", "zh", "ja",
        "tr", "pl", "sv", "cs", "el", "he", "ar", "ko", "hi", "th",
        "vi", "bn", "ta", "te", "ka", "hy", "am", "km", "my", "lo",
    }
    for lang, sents in EVAL_SENTENCES.items():
        assert len(sents) == 5, lang


def test_extended_heldout_gate():
    """r5 (VERDICT r4 #5): ≥25 held-out sentences per language (the 5
    originals + 20 extended), 100% per-language accuracy — wide enough
    to catch a profile regression in any single language. The
    per-language table in COVERAGE.md is generated from this corpus
    (scripts/lang_accuracy_table.py)."""
    from tests.lang_eval_extended import EXTENDED_SENTENCES

    assert set(EXTENDED_SENTENCES) == set(EVAL_SENTENCES)
    texts, labels = [], []
    for lang in sorted(EVAL_SENTENCES):
        sents = EVAL_SENTENCES[lang] + EXTENDED_SENTENCES[lang]
        assert len(sents) >= 25, lang
        assert len(set(sents)) == len(sents), lang  # no duplicates
        texts += sents
        labels += [lang] * len(sents)
    pred = list(_profile_lang_batch(pd.Series(texts)))
    wrong = [(l, p, t) for l, p, t in zip(labels, pred, texts) if l != p]
    per: dict = {}
    for lang, p in zip(labels, pred):
        ok, tot = per.get(lang, (0, 0))
        per[lang] = (ok + (p == lang), tot + 1)
    bad = {lang: f"{ok}/{tot}" for lang, (ok, tot) in per.items() if ok != tot}
    assert not bad, (bad, wrong[:10])


def test_batch_trigram_hashes_matches_shared_kernel():
    """r5: the lang kernel skips splitmix64 finalization (a bijection —
    can't change equality) and addresses per-doc regions of one shared
    buffer. Pin both claims: splitmix64(region hashes) must be
    byte-identical to the shared shingle kernel's finalized trigram
    stream for every doc, on unicode input including empty docs."""
    from hlld_spark.operators.dedup import _char_shingle_hashes, _splitmix
    from hlld_spark.operators.lang_profiles import _batch_trigram_hashes

    docs = [
        "the cat sat",
        "",
        "ab",  # shorter than a trigram
        "čerstvé pečivo už není",
        "日本語のテキストです",
        "mixed ascii и кириллица",
        " leading and trailing  ",
    ]
    h, bases, counts = _batch_trigram_hashes(docs)
    for d, text in enumerate(docs):
        region = h[bases[d] : bases[d] + counts[d]]
        expect, _, _ = _char_shingle_hashes(pd.Series([f" {text} "]), 3)
        if len(text) == 0:
            assert counts[d] == 0  # shared kernel emits a sentinel; lang kernel nothing
            continue
        assert np.array_equal(_splitmix(region), expect), (d, text)


def test_max_chars_prefix_scoring():
    """r5: max_chars caps the scored prefix (CLD2-style). A document
    whose first 1000 chars are German followed by 100k chars of
    profile-free junk is labeled from the prefix at the default cap,
    identically to scoring the prefix alone; max_chars=None scores the
    whole document; short docs are unaffected by the cap."""
    de = (
        "Das Wetter war heute Morgen kalt und die Straßen waren ruhig. "
        "Er öffnete das Fenster und schaute eine Weile über den Fluss. "
    )
    prefix = (de * 20)[:1000]
    junk = " qq zz xx vv kk jj ww " * 5000  # >100k chars, no profile trigrams
    long_doc = prefix + junk
    assert len(long_doc) > 100_000
    capped = _profile_lang_batch(pd.Series([long_doc]))
    assert list(capped) == ["de"]
    assert list(capped) == list(_profile_lang_batch(pd.Series([prefix])))
    # whole-doc scoring is still available and dilution-prone by design
    whole = _profile_lang_batch(pd.Series([long_doc]), max_chars=None)
    assert list(whole) == ["de"]  # junk matches nothing, so de still wins
    # short docs: capped == uncapped
    texts, labels = _corpus()
    assert list(_profile_lang_batch(pd.Series(texts), max_chars=None)) == labels


def test_distinctive_char_votes_rescue_short_sentences():
    """A short Czech sentence whose only function words (a, se, na) are
    shared with Romance/Slavic neighbors is decided by its ř/í — the
    distinctive-character vote path (r4)."""
    out = _profile_lang_batch(
        pd.Series(
            [
                "Otevřel okno a chvíli se díval na řeku.",
                "Już późno, ale jeszcze czytał książkę.",
                "Yağmur yağıyordu ve sokaklar ıslaktı.",
            ]
        )
    )
    assert list(out) == ["cs", "pl", "tr"]


def test_script_ratio_languages():
    """ko/hi/th have no word profiles — script ratios identify them;
    el/he/ar profiles engage without script help."""
    out = _profile_lang_batch(
        pd.Series(
            [
                "서울의 거리는 밤에도 매우 밝습니다",
                "भारत में बहुत सारी भाषाएँ बोली जाती हैं",
                "ประเทศไทยมีอาหารอร่อยมากมาย",
                "Η θάλασσα ήταν ήρεμη και γαλάζια.",
                "השמש זרחה מעל ההרים הגבוהים.",
                "كانت الشمس مشرقة فوق الجبال العالية.",
            ]
        )
    )
    assert list(out) == ["ko", "hi", "th", "el", "he", "ar"]


@pytest.mark.spark
def test_parquet_path_equivalence(spark, tmp_path):
    """lang_id_profiles_parquet (worker-side scan) labels exactly what
    the DataFrame path labels on the same table."""
    from hlld_spark.operators.lang_profiles import lang_id_profiles_parquet

    rows = []
    i = 0
    for lang, sents in EVAL_SENTENCES.items():
        for s in sents:
            rows.append((i, s))
            i += 1
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(p)
    df = spark.read.parquet(p)
    base = {
        r["doc_id"]: r["lang_id"]
        for r in with_lang_id_profiles(df, "text").select("doc_id", "lang_id").collect()
    }
    got = {
        r["doc_id"]: r["lang_id"]
        for r in lang_id_profiles_parquet(spark, p, "text", carry_cols=["doc_id"]).collect()
    }
    assert got == base and len(got) == 150


def test_script_table_ranges_disjoint_sorted():
    """The one-searchsorted classifier requires the script ranges to be
    sorted and pairwise disjoint."""
    from hlld_spark.operators.lang_profiles import _SCRIPT_RANGES

    prev_hi = -1
    for lang, lo, hi in _SCRIPT_RANGES:
        assert lo > prev_hi, (lang, hex(lo), hex(prev_hi))
        assert hi >= lo
        prev_hi = hi


def test_round4b_script_languages():
    out = _profile_lang_batch(
        pd.Series(
            [
                "নদীর ধারে একটি পুরনো মন্দির আছে",
                "கடற்கரையில் நிறைய மக்கள் இருந்தனர்",
                "పుస్తకాలు చదవడం నాకు చాలా ఇష్టం",
                "თბილისი საქართველოს დედაქალაქია",
                "Երևանը Հայաստանի մայրաքաղաքն է",
                "አዲስ አበባ የኢትዮጵያ ዋና ከተማ ናት",
                "ភ្នំពេញជារាជធានីនៃកម្ពុជា",
                "ရန်ကုန်သည် မြန်မာနိုင်ငံ၏ အကြီးဆုံးမြို့ဖြစ်သည်",
                "ວຽງຈັນເປັນນະຄອນຫຼວງຂອງລາວ",
                "Hà Nội là thủ đô của Việt Nam.",
            ]
        )
    )
    assert list(out) == ["bn", "ta", "te", "ka", "hy", "am", "km", "my", "lo", "vi"]
