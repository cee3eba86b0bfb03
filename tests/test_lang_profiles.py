"""Natural-text language ID — trigram-profile path (VERDICT r2 #4).

The marker heuristic (`text.with_lang_id`) is the synthetic fast-path;
`lang_profiles.with_lang_id_profiles` is the natural-text path. These
tests pin: 100% accuracy on the held-out evaluation corpus, batch/single
consistency (no cross-doc leakage in the shared-buffer kernel), honest
"und" on no-evidence inputs, and the Spark column path.
"""

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from hlld_spark.operators.dedup import _POLY_B
from hlld_spark.operators.lang_profiles import (
    _CHAR_VOTE_CPS,
    _CHAR_VOTE_LANG,
    _CHAR_VOTE_W,
    _PROFILE_LANGS,
    _SCRIPT_RANGES,
    _SCRIPT_RULES,
    EVAL_SENTENCES,
    _build_profile_table,
    _profile_lang,
    _table,
    with_lang_id_profiles,
)
from hlld_spark.operators.text import _LANG_MARKERS, _MARKER_LANGS, _lang_id_batch
from tests.test_ascii_fastpath import text_batches


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
    pred = _profile_lang(pd.Series(texts)).to_pylist()
    assert pred == labels


def test_batch_equals_single_doc():
    """The shared concatenated-buffer kernel must not leak trigrams
    across document boundaries: scoring each doc alone gives the same
    label as scoring the whole batch."""
    texts, _ = _corpus()
    whole = _profile_lang(pd.Series(texts)).to_pylist()
    single = [_profile_lang(pd.Series([t])).to_pylist()[0] for t in texts]
    assert whole == single


def test_no_evidence_is_und():
    out = _profile_lang(pd.Series(["", None, "12345 !!!", "ok", "zzz qqq"])).to_pylist()
    assert out == ["und"] * 5


def test_case_insensitive():
    texts, labels = _corpus()
    shouted = [t.upper() for t in texts]
    assert _profile_lang(pd.Series(shouted)).to_pylist() == labels


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
    pred = _profile_lang(pd.Series(texts)).to_pylist()
    wrong = [(l, p, t) for l, p, t in zip(labels, pred, texts) if l != p]
    per: dict = {}
    for lang, p in zip(labels, pred):
        ok, tot = per.get(lang, (0, 0))
        per[lang] = (ok + (p == lang), tot + 1)
    bad = {lang: f"{ok}/{tot}" for lang, (ok, tot) in per.items() if ok != tot}
    assert not bad, (bad, wrong[:10])


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
    capped = _profile_lang(pd.Series([long_doc])).to_pylist()
    assert capped == ["de"]
    assert capped == _profile_lang(pd.Series([prefix])).to_pylist()
    # whole-doc scoring is still available and dilution-prone by design
    whole = _profile_lang(pd.Series([long_doc]), max_chars=None).to_pylist()
    assert whole == ["de"]  # junk matches nothing, so de still wins
    # short docs: capped == uncapped
    texts, labels = _corpus()
    assert _profile_lang(pd.Series(texts), max_chars=None).to_pylist() == labels


def test_distinctive_char_votes_rescue_short_sentences():
    """A short Czech sentence whose only function words (a, se, na) are
    shared with Romance/Slavic neighbors is decided by its ř/í — the
    distinctive-character vote path (r4)."""
    out = _profile_lang(
        pd.Series(
            [
                "Otevřel okno a chvíli se díval na řeku.",
                "Już późno, ale jeszcze czytał książkę.",
                "Yağmur yağıyordu ve sokaklar ıslaktı.",
            ]
        )
    )
    assert out.to_pylist() == ["cs", "pl", "tr"]


def test_script_ratio_languages():
    """ko/hi/th have no word profiles — script ratios identify them;
    el/he/ar profiles engage without script help."""
    out = _profile_lang(
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
    assert out.to_pylist() == ["ko", "hi", "th", "el", "he", "ar"]


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
    out = _profile_lang(
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
    assert out.to_pylist() == ["bn", "ta", "te", "ka", "hy", "am", "km", "my", "lo", "vi"]


# --- both lang-id kernels against a per-doc statement --------------------------

_M64 = (1 << 64) - 1


def _poly(vals) -> int:
    h = 0
    for v in vals:
        h = (h * int(_POLY_B) + v) & _M64
    return h


def _ratio(text: str, lang: str) -> float:
    n = sum(lo <= ord(c) <= hi for c in text for l, lo, hi in _SCRIPT_RANGES if l == lang)
    return n / max(len(text), 1)


def _profile_reference(text, max_chars, min_score=1e-4) -> str:
    """One doc, by definition: keep the first ``max_chars`` code points,
    ``str.lower``, score every trigram of the space-padded text against
    the profile table, add each distinctive character's vote, divide by
    the lowered length; the best language decides if it clears
    ``min_score`` on two matched trigrams or a vote. Then the script
    rules, in order."""
    hashes, weights, _ = _table()
    table = dict(zip(hashes.tolist(), weights))
    votes = dict(zip(_CHAR_VOTE_CPS.tolist(), _CHAR_VOTE_LANG.tolist()))
    text = (text or "")[:max_chars] if max_chars is not None else (text or "")
    if not text:
        return "und"
    low = text.lower()
    padded = [ord(c) for c in f" {low} "]
    score, n_matched, voted = np.zeros(len(_PROFILE_LANGS)), 0, False
    for i in range(len(low)):
        w = table.get(_poly(padded[i : i + 3]))
        if w is not None:
            score, n_matched = score + w, n_matched + 1
    for c in low:
        if ord(c) in votes:
            score[votes[ord(c)]] += _CHAR_VOTE_W
            voted = True
    score /= len(low)
    best = int(np.argmax(score))
    label = _PROFILE_LANGS[best] if score[best] > min_score and (n_matched >= 2 or voted) else "und"
    for lang, thr, backstop in _SCRIPT_RULES:
        if _ratio(text, lang) > thr and (not backstop or label == "und"):
            label = lang
    return label


def _marker_reference(text) -> str:
    """One doc, by definition: count every (overlapping) occurrence of
    each marker in the space-padded, ASCII-lowered UTF-8 bytes; divide
    by max(length / 100, 1); then the zh, ja and ru script ratios."""
    text = text or ""
    if not text:
        return "und"
    padded = (" " + text + " ").encode("utf-8")
    padded = bytes(b + 32 if 65 <= b <= 90 else b for b in padded)
    score = np.zeros(len(_MARKER_LANGS))
    for j, lang in enumerate(_MARKER_LANGS):
        for mk in _LANG_MARKERS[lang]:
            mb = mk.encode("utf-8")
            score[j] += sum(padded[i : i + len(mb)] == mb for i in range(len(padded) - len(mb) + 1))
    score /= max(len(text) / 100.0, 1.0)
    best = int(np.argmax(score))
    label = _MARKER_LANGS[best] if score[best] > 0 else "und"
    for lang, thr in (("zh", 0.3), ("ja", 0.05), ("ru", 0.3)):
        if _ratio(text, lang) > thr:
            label = lang
    return label


@settings(max_examples=300, deadline=None)
@given(text_batches(), st.sampled_from([None, 5, 40, 1000]))
def test_lang_id_kernels_match_definition(batch, max_chars):
    """Both lang-id kernels, on every container and batch shape the
    shingle tests use (plus dotted I, sigmas, NULs, upper case and
    profile words), label each doc as the per-doc statement does."""
    got = _profile_lang(batch[0], max_chars=max_chars)
    assert got.type == pa.string() and got.null_count == 0
    assert got.to_pylist() == [_profile_reference(t, max_chars) for t in batch[1]]
    assert _lang_id_batch(batch[0]).to_pylist() == [_marker_reference(t) for t in batch[1]]


# --- bit-identity pin -----------------------------------------------------------

_PIN_EXTRAS = [
    "", None, "İSTANBUL'DA BİR GÜN", "ΟΔΟΣ ΣΟΦΟΚΛΕΟΥΣ ΚΑΙ ΤΟ ΣΠΙΤΙ", "a\x00b the of and\x00", "\x00",
    "日本語のテキストです", "\U0001d518\U0001d52b \U0001f600 the of", "KELVIN K and the", "ǅUBROVNIK je grad",
    "STRASSE ß UND DIE", "Ünïcödé ÀÉÎÕÜ ŘÍČNÍ", "   \t\n  ", "x" * 1200 + " der die und das",
]


def _pin_batch(n: int = 5000) -> list:
    """A fixed mixed-script batch of more than one ``_SCORE_CHUNK``,
    built by index arithmetic (no RNG): held-out sentences as they are,
    upper-cased, concatenated, cut, thinned to every k-th word and
    repeated past ``max_chars``, between NULLs, NULs and odd cases."""
    pool = [s for ss in EVAL_SENTENCES.values() for s in ss] + _PIN_EXTRAS
    out = []
    for i in range(n):
        kind = i % 7
        a, b = pool[(i * 31) % len(pool)], pool[(i * 17 + 5) % len(pool)]
        if kind == 5 or a is None:
            out.append(_PIN_EXTRAS[i % len(_PIN_EXTRAS)])
        elif kind == 1:
            out.append(a.upper())
        elif kind == 2:
            out.append(a + " " + (b or ""))
        elif kind == 3:
            out.append(a[: i % 23])
        elif kind == 4:
            out.append(" ".join((a + " " + (b or "")).split()[:: 1 + i % 3]))
        elif kind == 6:
            out.append(a * (1 + i % 40))
        else:
            out.append(a)
    return out


def _pin_batches() -> dict:
    mixed = _pin_batch()
    return {
        "mixed": mixed,
        "ascii": [t for t in mixed if t is None or t.isascii()],
        "eval": [s for ss in EVAL_SENTENCES.values() for s in ss],
    }


#: SHA-256 of the newline-joined labels, computed from the pandas
#: kernels these replaced; (kernel, batch, max_chars)
LABELS_SHA256 = {
    ("marker", "mixed", None): "081c6f0c682d9593fd3b03eb645aa0bceeb37a6960eb473db119026129d74e53",
    ("marker", "ascii", None): "7fc140bc4d080a43d7af14b9a3ca2a7ac506acc291960bdd10f773fb13973df8",
    ("marker", "eval", None): "a357ddbb270b64c2be1c49711a2d15a8741c7cc32ce12ba263f11fca79faddb1",
    ("profile", "mixed", 1000): "358db4d489c9a3c693b68b168f3f6965fdfebddd981a7ddc24c5e16fa9177a79",
    ("profile", "mixed", None): "8d4ba3f43ad3e01cdfa1aa6a71d9d48fb1e5630b1468f3bd609652dcef0816ca",
    ("profile", "mixed", 40): "79ee4f3990f4a0af93dd9604dd7f79486a56bcaeeb6e51abd95dde50bb9d9051",
    ("profile", "ascii", 1000): "da35a3d447fe58ced4f4a83b82a10c0bec36cb3f8b01ec7884d10a7be2012809",
    ("profile", "ascii", None): "bf29303bc8d338a9959478c72ca6be057c88ad5c932091230fb8d092746b61ec",
    ("profile", "ascii", 40): "12f99f75023e0e5e035f6beaed954bbd1ca9eebeacb6709b483feb503bf6ddb6",
    ("profile", "eval", 1000): "4aed7321faeb996ecc10034a3cef783617fb07e86a3bf51d84b4e0360f575f1f",
    ("profile", "eval", None): "4aed7321faeb996ecc10034a3cef783617fb07e86a3bf51d84b4e0360f575f1f",
    ("profile", "eval", 40): "f328ad04ef0620f1609ef66d46f280db4f693f0ca5fcf35f95c47e34022b7070",
}


@pytest.mark.parametrize("kernel,name,max_chars", sorted(LABELS_SHA256, key=str))
@pytest.mark.parametrize("container", ["pandas", "arrow", "chunked"])
def test_lang_id_labels_pinned(kernel, name, max_chars, container):
    texts = _pin_batches()[name]
    if container == "pandas":
        batch = pd.Series(texts, dtype=object)
    elif container == "arrow":
        batch = pa.array(texts, type=pa.large_string())
    else:
        cut = len(texts) // 3
        batch = pa.chunked_array([pa.array(texts[:cut], pa.string()), pa.array(texts[cut:], pa.string())])
    if kernel == "marker":
        labels = _lang_id_batch(batch).to_pylist()
    else:
        labels = _profile_lang(batch, max_chars=max_chars).to_pylist()
    assert len(labels) == len(texts)
    assert hashlib.sha256("\n".join(labels).encode()).hexdigest() == LABELS_SHA256[(kernel, name, max_chars)]
