"""Natural-text language ID — character-trigram profiles (VERDICT r2 #4).

The marker heuristic in ``text.with_lang_id`` nails synthetic corpora but
has no model of natural text. This module embeds small per-language
profiles built from rank-weighted high-frequency word lists (public
linguistic common knowledge — the standard closed-class/function-word
inventories of each language, the same signal Cavnar & Trenkle's n-gram
method [1994] and CLD-style profiles key on) and scores documents by
trigram-profile match.

Everything is batch-vectorized in one Arrow-native kernel,
``_profile_lang``: per chunk of docs, one code-point read
(``dedup._code_points``), one lowercase pass, one trigram
poly-hash pass over a single concatenated code-point buffer (same
polynomial as the dedup shingle kernels, finalization elided — a
bijection can't change equality), a byte-mask prefilter + sorted-array
lookup into the compiled profile table, and reduceat accumulation into a
(docs × langs) score matrix. No per-document Python in the scoring path.
``max_chars`` (default 1000) scores only each document's prefix — the
CLD2-style practice that bounds kernel cost on multi-KB web documents.

Coverage (round 4, VERDICT r3 #3): 16 word-trigram profiles (en es de
fr pt it nl ru + tr pl sv cs el he ar vi), script-ratio identification
for 14 script-unshared languages (zh ja ko hi th bn ta te ka hy am km
my lo — one searchsorted over disjoint unicode ranges classifies every
character), and per-language DISTINCTIVE-CHARACTER votes (ř→cs, ł→pl,
ğ→tr, å→sv, ß→de, đ/ơ/ư→vi, …) that rescue short sentences whose few
function words are shared across neighboring languages. 30 languages
total, each gated by 25 held-out natural sentences (the 5
``EVAL_SENTENCES`` driving the driver query + 20 more in
``tests/lang_eval_extended.py``; per-language table in COVERAGE.md).

Reference parity note: the reference (hlld) has no language ID — this is
a brief-mandated training-data-pipeline companion operator.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

# ---------------------------------------------------------------------------
# per-language high-frequency word lists (rank-ordered, most frequent first)
# ---------------------------------------------------------------------------
# Closed-class words: articles, prepositions, pronouns, conjunctions,
# auxiliaries — the most language-distinctive AND most frequent tokens of
# any natural text. Diacritic-bearing forms are deliberately included
# (ß, ç, ã, è, …): their trigrams are near-unique per language.

_WORDS: dict[str, list[str]] = {
    "en": """the of and to in is was he for it with as his on be at by had
        this not are but from or have an they which one you were her all
        she there would their we him been has when who will more no if out
        so said what its about than into them can only other""".split(),
    "es": """de la que el en y a los del se las por un para con no una su
        al lo como más pero sus le ya o este sí porque esta entre cuando
        muy sin sobre también me hasta hay donde quien desde todo nos
        durante todos uno les ni contra otros ese eso ante ellos nunca
        tantos cada mientras veces""".split(),
    "de": """der die und in den von zu das mit sich des auf für ist im dem
        nicht ein eine als auch es an werden aus er hat daß sie nach wird
        bei einer um am sind noch wie einem über einen so zum war haben
        nur oder aber vor zur bis mehr durch man sein wurde sei""".split(),
    "fr": """de la le et les des en un du une que est pour qui dans a par
        plus pas au sur ne se ce il sont la aux avec son ont cette mais ou
        comme fait été aussi leur bien où sans peut tout nous dont même
        après deux autres vous être ses était entre elle tous ces qu' l'
        d' c' j' n' s' m' ils elles avait cela très leurs""".split(),
    "pt": """de a o que e do da em um para é com não uma os no se na por
        mais as dos como mas foi ao ele das tem à seu sua ou ser quando
        muito há nos já está eu também só pelo pela até isso ela entre era
        depois sem mesmo aos ter seus quem nas me esse eles estão estava
        estavam são lhe você às num numa após ainda onde então durante
        parte toda todas tantos nunca cada enquanto vez vezes esteve
        sobre este esta ano anos""".split(),
    "it": """di a da in che e il un per è con non una su le si lo come più
        ma sono del al ha lei loro se nel anche della gli dei questo alla
        essere suo perché ci hanno tutto nella sua dal fra era quella
        stato molto quando dalla questa così ne può senza dove primo
        durante parte ogni ancora dopo sempre""".split(),
    "nl": """de van het een en in is dat op te zijn met voor hij niet aan
        er die maar om door over ze bij ook tot je mij dan zou of wat mijn
        men dit zo kan geen worden nog wel moet hem naar heeft hebben deze
        uit was werd onder had ik hun naast ons tegen al waren""".split(),
    # Cyrillic forms — their trigrams are disjoint from every Latin profile
    "ru": """и в не на я что он с как это по но они мы все она так его к
        то же у вы за бы мне было только её ещё от меня нет когда даже ну
        ли если уже или них быть был него до вас нибудь снова вам сказал
        себя тут ничего ей может там где есть надо ней для дело""".split(),
    # --- round-4 widening (VERDICT r3 #3): 4 more Latin-script langs
    # (diacritics make their trigrams highly distinctive) + Greek /
    # Hebrew / Arabic whose scripts are disjoint from everything above
    "tr": """ve bir bu da de için ile olarak çok daha sonra gibi kadar ama
        ancak veya her ne ben biz siz onlar değil var yok olan oldu olur
        ise diye göre kendi başka aynı şey zaman yıl gün şu nasıl çünkü
        üzere arasında olduğunu bütün önce hiç artık kez iki şey""".split(),
    "pl": """i w na się z że do nie to jest o jak po co tak za od ale
        przez już tylko być przy czy może przed bardzo kiedy która który
        które ich jego jej nas was oraz też tym tego jednak więc gdy nad
        pod będzie są był była było mnie ciebie sobie im czego""".split(),
    "sv": """och i att det som en på är av för med till den har de inte
        om ett men var sig från vi så kan man när år alla sina här ha mot
        under också efter upp se skulle denna då sedan nu mellan även vid
        blir bli hade honom henne deras vara någon något många""".split(),
    "cs": """a se v na je že o s z do i k by si ale jako po co tak za od
        už jen být při či může před velmi když která který které jeho
        její nás vás nebo také tím toho však tedy nad pod pro jsem jsou
        byl byla bylo mně tebe sobě jim čeho aby ještě""".split(),
    "el": """και το να του η με την τα δεν που είναι για από στο ο οι σε
        αυτό τον ως αλλά αν θα μου κατά τους ένα μια στη στην ότι δε έχει
        είχε πιο σαν μετά πριν χωρίς μέσα έξω πάνω κάτω εδώ εκεί όταν
        γιατί πώς τι ποιος αυτή αυτά εμείς εσείς αυτοί""".split(),
    "he": """של את על לא זה עם הוא היא אני כי מה יש אם או גם רק אבל כמו
        עוד כל אחרי לפני בין תחת אל מן היה הזה זאת אלה אנחנו אתם הם אשר
        כאשר שלו שלה שלי לו לה לי בו בה בי עליו עליה עלי""".split(),
    "ar": """في من على أن إلى عن هذا التي الذي كان مع هو هي لا ما أو ثم
        قد كل بعد قبل بين عند حتى لكن منذ حيث كما لم لن هناك ذلك هذه غير
        وقد وهو وهي كانت يكون إن أي بعض نحو لدى خلال ضد فوق تحت""".split(),
    # Vietnamese (r4 widening part 2): Latin script but saturated with
    # language-unique diacritics — profile + distinctive chars together
    "vi": """của và các là trong được có cho không một những người này
        với đã khi đến về như cũng từ ra nếu vì sau trên nhưng rất nhiều
        hơn rồi đang sẽ thì mà gì nào tại theo bị làm lại nói năm hai
        ngày ông bà anh chị em tôi chúng họ ấy đó đây""".split(),
}

_PROFILE_LANGS = list(_WORDS)
_TRIGRAM_K = 3

# poly-hash base — MUST match dedup's shingle kernel base so trigram
# hashes here mean the same polynomial. Unlike the dedup kernels we skip
# the splitmix64 FINALIZATION (r5 perf): splitmix is a bijection, so
# equality of un-finalized poly hashes is exactly equality of finalized
# ones — the profile table simply stores un-finalized values, and the
# scorer saves one full mixing pass over every corpus character.
from .dedup import _POLY_B, _code_points, _text_array  # noqa: E402


def _trigram_hashes(joined: np.ndarray) -> np.ndarray:
    """Un-finalized poly hash of the trigram at every position of a
    code-point buffer (``uint8`` or ``uint32``), in 2^17-position blocks
    so each block's lanes stay cache-resident."""
    n_pos = max(len(joined) - _TRIGRAM_K + 1, 0)
    h = np.empty(n_pos, dtype=np.uint64)
    for s in range(0, n_pos, 1 << 17):
        e = min(s + (1 << 17), n_pos)
        w64 = joined[s : e + _TRIGRAM_K - 1].astype(np.uint64)
        hc = np.zeros(e - s, dtype=np.uint64)
        for j in range(_TRIGRAM_K):
            np.multiply(hc, _POLY_B, out=hc)
            np.add(hc, w64[j : j + (e - s)], out=hc)
        h[s:e] = hc
    return h


def _word_trigram_hashes(word: str) -> np.ndarray:
    """Un-finalized poly trigram hashes of one space-padded word."""
    return _trigram_hashes(np.frombuffer(f" {word} ".encode("utf-32-le"), dtype=np.uint32))


def _build_profile_table() -> tuple[np.ndarray, np.ndarray]:
    """Compile the word lists into (sorted trigram-hash vector,
    per-trigram weight matrix of shape [n_trigrams, n_langs]).

    Weight of a word at rank r is the Zipf surrogate 1/(r+1); every
    trigram of the padded word inherits it. Per-language columns are
    L1-normalized so languages with longer word lists aren't favored."""
    acc: dict[int, np.ndarray] = {}
    n = len(_PROFILE_LANGS)
    for j, lang in enumerate(_PROFILE_LANGS):
        for r, w in enumerate(_WORDS[lang]):
            wt = 1.0 / (r + 1.0)
            for hv in _word_trigram_hashes(w.lower()):
                row = acc.setdefault(int(hv), np.zeros(n))
                row[j] += wt
    hashes = np.fromiter(acc.keys(), dtype=np.uint64, count=len(acc))
    weights = np.stack([acc[int(h)] for h in hashes])
    # log-likelihood weights: P(t|L) from the Zipf-weighted counts, then
    # W = log(P / P_floor) where the floor is the smoothed probability of
    # an unseen trigram. Summing W over a doc's MATCHED trigrams is
    # exactly the doc log-likelihood under L up to the constant
    # n_trigrams*log(P_floor), which cancels in the argmax — so unseen
    # trigrams need no scatter work.
    p = weights / np.maximum(weights.sum(axis=0, keepdims=True), 1e-12)
    floor = p[p > 0].min() * 0.1
    weights = np.where(p > 0, np.log(np.maximum(p, floor) / floor), 0.0)
    order = np.argsort(hashes)
    return hashes[order], weights[order]


_TABLE: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None
# byte-mask prefilter over the hash low bits (r5): the profile table is
# ~1.7k trigrams, so a 2^16-slot mask (64 KB, cache-resident) passes
# only ~2.6% of non-matching probes — searchsorted (the former 25% of
# the kernel) runs on ~8% of positions instead of all of them. Same
# trick as decontaminate's 2^24 mask, sized to this table.
_PF_BITS = 16
_PF_MASK = np.uint64((1 << _PF_BITS) - 1)


def _table() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    global _TABLE
    if _TABLE is None:
        hashes, weights = _build_profile_table()
        prefilter = np.zeros(1 << _PF_BITS, dtype=np.uint8)
        prefilter[(hashes & _PF_MASK).astype(np.int64)] = 1
        _TABLE = (hashes, weights, prefilter)
    return _TABLE


# ---------------------------------------------------------------------------
# distinctive-character votes (round 4)
# ---------------------------------------------------------------------------
# Code points near-unique to ONE language within this profile set. On a
# short sentence, 2-3 matched function words can be outscored by open-
# class trigram noise from a neighboring language — but an ř is Czech
# evidence no Italian text provides. Each occurrence adds a flat
# _CHAR_VOTE_W to that language's score (same units as the trigram
# log-likelihood weights, which top out ~7 per matched trigram).

_DISTINCTIVE_CHARS: dict[str, str] = {
    "cs": "řěůťďňýščž",
    "pl": "łąęśżźćń",
    "tr": "ığş",
    "sv": "å",
    "de": "ß",
    "es": "ñ¿¡",
    "pt": "ãõ",
    "fr": "êîôûœ",
    "it": "ìò",
    "vi": "đơưạảấầẩậắằặẹẻẽếềểễệịọỏốồổỗộớờởỡợụủứừửữựỳỵỷỹ",
}
_CHAR_VOTE_W = 8.0


def _build_char_votes() -> tuple[np.ndarray, np.ndarray]:
    cps: list[int] = []
    lang_j: list[int] = []
    for lang, chars in _DISTINCTIVE_CHARS.items():
        j = _PROFILE_LANGS.index(lang)
        for ch in chars:
            cps.append(ord(ch))
            lang_j.append(j)
    order = np.argsort(cps)
    return (
        np.asarray(cps, dtype=np.uint32)[order],
        np.asarray(lang_j, dtype=np.int64)[order],
    )


_CHAR_VOTE_CPS, _CHAR_VOTE_LANG = _build_char_votes()


# ---------------------------------------------------------------------------
# script-ratio identification (r4: widened to 14 unconditional scripts)
# ---------------------------------------------------------------------------
# Disjoint unicode ranges, sorted by code point, so ONE searchsorted
# classifies every character. Languages whose script is unshared within
# this set need no word profile — the ratio IS the identifier; languages
# WITH a trigram profile (ru el he ar) use the ratio only as a backstop
# for profile misses on very short text.

_SCRIPT_RANGES: list[tuple[str, int, int]] = [
    ("el", 0x0370, 0x03FF),  # Greek
    ("ru", 0x0400, 0x04FF),  # Cyrillic
    ("hy", 0x0530, 0x058F),  # Armenian
    ("he", 0x0590, 0x05FF),  # Hebrew
    ("ar", 0x0600, 0x06FF),  # Arabic
    ("hi", 0x0900, 0x097F),  # Devanagari
    ("bn", 0x0980, 0x09FF),  # Bengali
    ("ta", 0x0B80, 0x0BFF),  # Tamil
    ("te", 0x0C00, 0x0C7F),  # Telugu
    ("th", 0x0E00, 0x0E7F),  # Thai
    ("lo", 0x0E80, 0x0EFF),  # Lao
    ("my", 0x1000, 0x109F),  # Myanmar
    ("ka", 0x10A0, 0x10FF),  # Georgian
    ("ko", 0x1100, 0x11FF),  # Hangul jamo
    ("am", 0x1200, 0x137F),  # Ethiopic
    ("km", 0x1780, 0x17FF),  # Khmer
    ("ka", 0x1C90, 0x1CBF),  # Georgian Mtavruli (uppercase of Mkhedruli)
    ("ja", 0x3040, 0x30FF),  # Hiragana + Katakana
    ("zh", 0x4E00, 0x9FFF),  # CJK unified
    ("ko", 0xAC00, 0xD7A3),  # Hangul syllables
]

# (lang, ratio threshold, backstop_only) — applied in order; ja AFTER zh
# because Japanese text contains han and kana decides
_SCRIPT_RULES: list[tuple[str, float, bool]] = [
    ("zh", 0.3, False),
    ("ja", 0.05, False),
    ("ko", 0.3, False),
    ("hi", 0.3, False),
    ("th", 0.3, False),
    ("bn", 0.3, False),
    ("ta", 0.3, False),
    ("te", 0.3, False),
    ("ka", 0.3, False),
    ("hy", 0.3, False),
    ("am", 0.3, False),
    ("km", 0.3, False),
    ("my", 0.3, False),
    ("lo", 0.3, False),
    ("ru", 0.3, True),
    ("el", 0.3, True),
    ("he", 0.3, True),
    ("ar", 0.3, True),
]

_SCRIPT_LANGS: dict[str, int] = {
    lang: j for j, lang in enumerate(dict.fromkeys(l for l, _, _ in _SCRIPT_RANGES))
}
_SCRIPT_LO = np.array([lo for _, lo, _ in _SCRIPT_RANGES], dtype=np.uint32)
_SCRIPT_HI = np.array([hi for _, _, hi in _SCRIPT_RANGES], dtype=np.uint32)
_SCRIPT_LANG_J = np.array([_SCRIPT_LANGS[l] for l, _, _ in _SCRIPT_RANGES], dtype=np.int64)


def _script_ratios(cps: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """(docs x ``_SCRIPT_LANGS``) share of each doc's code points that
    lie in the language's ``_SCRIPT_RANGES``, from a batch's code-point
    buffer and per-doc lengths (``dedup._code_points``)."""
    nsl = len(_SCRIPT_LANGS)
    cnt = np.zeros((len(lens), nsl), dtype=np.int64)
    if cps.dtype != np.uint8:  # ASCII bytes lie in no script range
        pos = np.flatnonzero(cps >= _SCRIPT_LO[0])
        c = cps[pos]
        # ranges are disjoint and sorted: ONE searchsorted classifies all
        r = np.searchsorted(_SCRIPT_LO, c, side="right") - 1
        hit = c <= _SCRIPT_HI[r]
        doc = np.searchsorted(np.cumsum(lens), pos[hit], side="right")
        key = doc * nsl + _SCRIPT_LANG_J[r[hit]]
        cnt = np.bincount(key, minlength=len(lens) * nsl).reshape(len(lens), nsl)
    return cnt / np.maximum(lens, 1)[:, None]


# ---------------------------------------------------------------------------
# batch scorer
# ---------------------------------------------------------------------------


# Sub-batch size for the scorer (r5): at 32 concurrent workers the
# kernel is DRAM-bandwidth-bound, not compute-bound — a 32k-doc batch
# streams ~150 MB of hash/buffer temporaries per worker per call, and
# measured wall time at local[32] drops ~20% when the working set is
# chunked to ~4k docs (cache-resident). Per-doc results are independent,
# so chunking is output-identical (pinned by batch-vs-single test).
_SCORE_CHUNK = 4096


#: every label the kernel emits: the profile languages first (so a
#: profile argmax indexes them), then the script-only languages, "und"
_LABELS = pa.array(list(dict.fromkeys([*_PROFILE_LANGS, *_SCRIPT_LANGS, "und"])))
_LABEL_J = {lang: j for j, lang in enumerate(_LABELS.to_pylist())}
_UND = _LABEL_J["und"]


def _lower(units: np.ndarray, lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Python ``str.lower`` of each doc of a code-point buffer, as
    (code points, per-doc lengths); lowering may change a doc's length
    (``İ`` becomes two code points). Arrow's ``utf8_lower`` is not
    ``str.lower``: it has no final sigma and maps ``İ`` to ``i``."""
    if units.dtype == np.uint8:  # ASCII: lower() is A-Z + 0x20
        low = units.copy()
        low[(low >= 65) & (low <= 90)] += 32
        return low, lens
    offs = np.concatenate(([0], np.cumsum(lens)))
    if units.all():
        # one lower() over the NUL-joined docs; lower() never makes a NUL
        # and a NUL is neither cased nor case-ignorable, so each doc
        # lowers as it would alone and the NULs give back its length
        text = np.insert(units, offs[1:-1], 0).tobytes().decode("utf-32-le").lower()
        low = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
        nul = np.flatnonzero(low == 0)
        return np.delete(low, nul), np.diff(np.concatenate(([-1], nul, [len(low)]))) - 1
    # a doc holds a NUL, so the joined docs could not be split back
    docs = [units[a:b].tobytes().decode("utf-32-le").lower() for a, b in zip(offs[:-1], offs[1:])]
    low = np.frombuffer("".join(docs).encode("utf-32-le"), dtype=np.uint32)
    return low, np.fromiter(map(len, docs), dtype=np.int64, count=len(docs))


def _space_joined(units: np.ndarray, lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``" " + " \\x00 ".join(docs) + " "`` of a non-empty batch's
    code-point (or byte) buffer, plus where each doc's region starts
    (its leading space). The pads let edge trigrams and markers match
    the space-padded words; the NUL blocks any match across two docs."""
    ends = np.cumsum(lens)
    idx = np.concatenate(([0], np.repeat(ends[:-1], 3), ends[-1:]))
    pads = np.concatenate(([0x20], np.tile([0x20, 0, 0x20], len(lens) - 1), [0x20]))
    return np.insert(units, idx, pads), np.concatenate(([0], np.cumsum(lens[:-1] + 3)))


def _score_trigrams(
    h: np.ndarray, bases: np.ndarray, per_doc: np.ndarray, n_docs: int
) -> tuple[np.ndarray, np.ndarray]:
    """(scores, n_matched) from a shared trigram-hash buffer + per-doc
    regions: doc d's trigrams are ``h[bases[d] : bases[d] + per_doc[d]]``
    and the 3 positions before each later region are separator
    trigrams."""
    hashes, weights, prefilter = _table()
    n_langs = weights.shape[1]
    scores = np.zeros((n_docs, n_langs))
    n_matched = np.zeros(n_docs, dtype=np.int64)
    if len(h):
        # prefilter: one byte gather resolves ~97% of probes as misses;
        # binary search runs only on the survivors (view(int64)&mask is
        # one pass where astype after & would be two)
        maybe = np.flatnonzero(prefilter[h.view(np.int64) & np.int64(_PF_MASK)])
        matched = np.zeros(len(h), dtype=bool)
        tbl_pos = np.zeros(0, dtype=np.int64)
        if len(maybe):
            hs = h[maybe]
            pos = np.minimum(np.searchsorted(hashes, hs), len(hashes) - 1)
            eq = hashes[pos] == hs
            midx = maybe[eq]
            matched[midx] = True
            if n_docs > 1:
                # a separator trigram (contains NUL) can only "match" via
                # a 2^-64 hash collision — clear anyway so the W stream
                # stays aligned with the per-region counts
                matched[(bases[1:, None] - np.array([3, 2, 1])).ravel()] = False
            tbl_pos = pos[eq][matched[midx]]  # ascending in h-position order
        if matched.any():
            # per-doc counts: paired reduceat over [base, base+count)
            # regions of the shared buffer — no compaction gather. A
            # sentinel slot keeps every region index in range when
            # trailing docs are empty (base == len(h)); empty regions
            # (reduceat copies an element there) are zeroed by the
            # per_doc guard.
            mint = np.empty(len(h) + 1, dtype=np.int64)
            mint[:-1] = matched
            mint[-1] = 0
            pairs = np.empty(2 * n_docs, dtype=np.int64)
            pairs[0::2] = bases
            pairs[1::2] = bases + per_doc
            n_matched = np.add.reduceat(mint, pairs)[0::2]
            n_matched = np.where(per_doc > 0, n_matched, 0)
            W = weights[tbl_pos]
            starts = np.concatenate(([0], np.cumsum(n_matched)))[:-1]
            docs_with = n_matched > 0
            if docs_with.any():
                scores[docs_with] = np.add.reduceat(W, starts[docs_with], axis=0)
    return scores, n_matched


def _char_votes(low: np.ndarray, low_lens: np.ndarray, scores: np.ndarray) -> np.ndarray:
    """Add ``_CHAR_VOTE_W`` to a doc's score for each of its (lowered)
    distinctive characters, in place; returns which docs got a vote."""
    pos = np.flatnonzero(low >= _CHAR_VOTE_CPS[0])
    c = low[pos]
    vp = np.minimum(np.searchsorted(_CHAR_VOTE_CPS, c), len(_CHAR_VOTE_CPS) - 1)
    hit = _CHAR_VOTE_CPS[vp] == c
    doc = np.searchsorted(np.cumsum(low_lens), pos[hit], side="right")
    np.add.at(scores, (doc, _CHAR_VOTE_LANG[vp[hit]]), _CHAR_VOTE_W)
    voted = np.zeros(len(low_lens), dtype=bool)
    voted[doc] = True
    return voted


def _profile_lang(texts, min_score: float = 1e-4, max_chars: int | None = 1000) -> pa.Array:
    """Profile language ID of a text batch (anything
    ``dedup._text_array`` takes), as an Arrow string array of language
    codes; "und" where nothing decides.

    1. Keep each doc's first ``max_chars`` code points (CLD2-style:
       language is decidable from a prefix, and the cap bounds the cost
       of multi-KB web docs; None scores whole docs).
    2. Per ``_SCORE_CHUNK`` docs: read the code points
       (``_code_points``: the Arrow bytes of an ASCII chunk, else one
       ``uint32`` decode), ``str.lower``, the space/NUL-joined buffer,
       one trigram poly-hash pass, profile lookup and reduceat scoring
       (``_score_trigrams``), distinctive-character votes and script
       ratios.
    3. The best length-normalized profile score decides when it rests
       on two matched trigrams or a vote; then script-ratio rules apply
       in ``_SCRIPT_RULES`` order (ja after zh: Japanese text holds han,
       kana decides). For languages with a word profile the ratio only
       backstops a profile miss.
    """
    col = _text_array(texts)
    # a doc has at least as many bytes as code points, so a batch with no
    # doc over max_chars bytes skips the slice (~20 ms per 32k web docs)
    if max_chars is not None and len(col) and pc.max(pc.binary_length(col)).as_py() > max_chars:
        col = pc.utf8_slice_codeunits(col, 0, max_chars)
    n_docs = len(col)
    lens = np.zeros(n_docs, dtype=np.int64)
    low_lens = np.zeros(n_docs, dtype=np.int64)
    scores = np.zeros((n_docs, len(_PROFILE_LANGS)))
    n_matched = np.zeros(n_docs, dtype=np.int64)
    voted = np.zeros(n_docs, dtype=bool)
    ratios = np.zeros((n_docs, len(_SCRIPT_LANGS)))
    for i in range(0, n_docs, _SCORE_CHUNK):
        j = min(i + _SCORE_CHUNK, n_docs)
        # read per chunk, so the ASCII chunks of a mixed batch stay bytes
        units, lens[i:j] = _code_points(col.slice(i, j - i))
        low, low_lens[i:j] = _lower(units, lens[i:j])
        joined, bases = _space_joined(low, low_lens[i:j])
        scores[i:j], n_matched[i:j] = _score_trigrams(_trigram_hashes(joined), bases, low_lens[i:j], j - i)
        voted[i:j] = _char_votes(low, low_lens[i:j], scores[i:j])
        ratios[i:j] = _script_ratios(units, lens[i:j])
    scores /= np.maximum(low_lens, 1)[:, None]
    best_j = scores.argmax(axis=1)
    best = scores[np.arange(n_docs), best_j]
    # one stray trigram is no evidence, unless distinctive characters voted
    code = np.where((best > min_score) & ((n_matched >= 2) | voted), best_j, _UND)
    for lang, thr, backstop in _SCRIPT_RULES:
        hit = ratios[:, _SCRIPT_LANGS[lang]] > thr
        code[hit & (code == _UND) if backstop else hit] = _LABEL_J[lang]
    code[lens == 0] = _UND
    return _LABELS.take(pa.array(code))


# ---------------------------------------------------------------------------
# held-out evaluation corpus (natural text, NOT profile input)
# ---------------------------------------------------------------------------
# Short everyday sentences per language — the gate fixture for the
# `lang_id_natural_disagreement` driver query and the unit tests. These
# sentences contain open-class vocabulary the profiles never saw; only
# their function words overlap, which is exactly what the method claims
# to key on.

EVAL_SENTENCES: dict[str, list[str]] = {
    "en": [
        "The weather was cold this morning and the streets were quiet.",
        "She said that they would arrive at the station before noon.",
        "There is a small garden behind the house with many old trees.",
        "He opened the window and looked out over the river for a while.",
        "We have been waiting for the answer since the start of the week.",
    ],
    "es": [
        "El tiempo estaba frío esta mañana y las calles estaban tranquilas.",
        "Ella dijo que llegarían a la estación antes del mediodía.",
        "Hay un pequeño jardín detrás de la casa con muchos árboles viejos.",
        "Abrió la ventana y miró el río durante un buen rato.",
        "Hemos esperado la respuesta desde el comienzo de la semana.",
    ],
    "de": [
        "Das Wetter war heute Morgen kalt und die Straßen waren ruhig.",
        "Sie sagte, dass sie vor Mittag am Bahnhof ankommen würden.",
        "Hinter dem Haus gibt es einen kleinen Garten mit vielen alten Bäumen.",
        "Er öffnete das Fenster und schaute eine Weile über den Fluss.",
        "Wir warten seit Anfang der Woche auf die Antwort.",
    ],
    "fr": [
        "Le temps était froid ce matin et les rues étaient calmes.",
        "Elle a dit qu'ils arriveraient à la gare avant midi.",
        "Il y a un petit jardin derrière la maison avec beaucoup de vieux arbres.",
        "Il a ouvert la fenêtre et a regardé le fleuve pendant un moment.",
        "Nous attendons la réponse depuis le début de la semaine.",
    ],
    "pt": [
        "O tempo estava frio esta manhã e as ruas estavam tranquilas.",
        "Ela disse que eles chegariam à estação antes do meio-dia.",
        "Há um pequeno jardim atrás da casa com muitas árvores velhas.",
        "Ele abriu a janela e olhou para o rio durante algum tempo.",
        "Estamos à espera da resposta desde o começo da semana.",
    ],
    "it": [
        "Il tempo era freddo questa mattina e le strade erano tranquille.",
        "Lei ha detto che sarebbero arrivati alla stazione prima di mezzogiorno.",
        "C'è un piccolo giardino dietro la casa con molti alberi vecchi.",
        "Ha aperto la finestra e ha guardato il fiume per un po' di tempo.",
        "Aspettiamo la risposta dall'inizio della settimana.",
    ],
    "nl": [
        "Het weer was vanochtend koud en de straten waren stil.",
        "Ze zei dat ze voor de middag op het station zouden aankomen.",
        "Achter het huis is een kleine tuin met veel oude bomen.",
        "Hij opende het raam en keek een tijdje uit over de rivier.",
        "We wachten al sinds het begin van de week op het antwoord.",
    ],
    "ru": [
        "Погода этим утром была холодной, и улицы были тихими.",
        "Она сказала, что они приедут на вокзал до полудня.",
        "За домом есть небольшой сад со многими старыми деревьями.",
        "Он открыл окно и некоторое время смотрел на реку.",
        "Мы ждём ответа с начала недели.",
    ],
    "zh": [
        "今天早上天气很冷，街道很安静。",
        "她说他们会在中午之前到达车站。",
        "房子后面有一个小花园，里面有许多老树。",
        "他打开窗户，看了一会儿河水。",
        "我们从这周开始就在等待答复。",
    ],
    "ja": [
        "今朝は天気が寒くて、通りは静かでした。",
        "彼女は正午前に駅に着くと言いました。",
        "家の裏には古い木がたくさんある小さな庭があります。",
        "彼は窓を開けて、しばらく川を眺めていました。",
        "私たちは週の初めから返事を待っています。",
    ],
    # --- round-4 widening: 10 more languages, same held-out contract ---
    "tr": [
        "Bu sabah hava soğuktu ve sokaklar sessizdi.",
        "İstasyona öğleden önce varacaklarını söyledi.",
        "Evin arkasında birçok yaşlı ağacın olduğu küçük bir bahçe var.",
        "Pencereyi açtı ve bir süre nehre baktı.",
        "Haftanın başından beri cevabı bekliyoruz.",
    ],
    "pl": [
        "Dziś rano pogoda była zimna, a ulice były ciche.",
        "Powiedziała, że przyjadą na dworzec przed południem.",
        "Za domem jest mały ogród z wieloma starymi drzewami.",
        "Otworzył okno i przez chwilę patrzył na rzekę.",
        "Czekamy na odpowiedź od początku tygodnia.",
    ],
    "sv": [
        "Vädret var kallt i morse och gatorna var tysta.",
        "Hon sa att de skulle komma till stationen före middag.",
        "Bakom huset finns en liten trädgård med många gamla träd.",
        "Han öppnade fönstret och tittade en stund ut över floden.",
        "Vi har väntat på svaret sedan början av veckan.",
    ],
    "cs": [
        "Dnes ráno bylo počasí chladné a ulice byly tiché.",
        "Řekla, že na nádraží dorazí před polednem.",
        "Za domem je malá zahrada s mnoha starými stromy.",
        "Otevřel okno a chvíli se díval na řeku.",
        "Čekáme na odpověď od začátku týdne.",
    ],
    "el": [
        "Ο καιρός ήταν κρύος σήμερα το πρωί και οι δρόμοι ήταν ήσυχοι.",
        "Είπε ότι θα φτάσουν στον σταθμό πριν από το μεσημέρι.",
        "Πίσω από το σπίτι υπάρχει ένας μικρός κήπος με πολλά παλιά δέντρα.",
        "Άνοιξε το παράθυρο και κοίταξε για λίγο το ποτάμι.",
        "Περιμένουμε την απάντηση από την αρχή της εβδομάδας.",
    ],
    "he": [
        "מזג האוויר היה קר הבוקר והרחובות היו שקטים.",
        "היא אמרה שהם יגיעו לתחנה לפני הצהריים.",
        "מאחורי הבית יש גינה קטנה עם הרבה עצים ישנים.",
        "הוא פתח את החלון והביט בנהר במשך זמן מה.",
        "אנחנו מחכים לתשובה מתחילת השבוע.",
    ],
    "ar": [
        "كان الطقس باردا هذا الصباح وكانت الشوارع هادئة.",
        "قالت إنهم سيصلون إلى المحطة قبل الظهر.",
        "خلف المنزل توجد حديقة صغيرة فيها كثير من الأشجار القديمة.",
        "فتح النافذة ونظر إلى النهر لبعض الوقت.",
        "نحن ننتظر الجواب منذ بداية الأسبوع.",
    ],
    "ko": [
        "오늘 아침 날씨가 추웠고 거리는 조용했습니다.",
        "그녀는 그들이 정오 전에 역에 도착할 것이라고 말했습니다.",
        "집 뒤에는 오래된 나무가 많은 작은 정원이 있습니다.",
        "그는 창문을 열고 잠시 강을 바라보았습니다.",
        "우리는 주초부터 답을 기다리고 있습니다.",
    ],
    "hi": [
        "आज सुबह मौसम ठंडा था और सड़कें शांत थीं।",
        "उसने कहा कि वे दोपहर से पहले स्टेशन पहुंच जाएंगे।",
        "घर के पीछे एक छोटा बगीचा है जिसमें कई पुराने पेड़ हैं।",
        "उसने खिड़की खोली और कुछ देर नदी को देखा।",
        "हम सप्ताह की शुरुआत से उत्तर की प्रतीक्षा कर रहे हैं।",
    ],
    "th": [
        "เช้านี้อากาศหนาวและถนนก็เงียบสงบ",
        "เธอบอกว่าพวกเขาจะถึงสถานีก่อนเที่ยง",
        "หลังบ้านมีสวนเล็ก ๆ ที่มีต้นไม้เก่าแก่มากมาย",
        "เขาเปิดหน้าต่างและมองแม่น้ำอยู่ครู่หนึ่ง",
        "เรารอคำตอบตั้งแต่ต้นสัปดาห์",
    ],
    # --- r4 widening part 2: vi profile + 9 script-ratio languages ---
    "vi": [
        "Sáng nay trời lạnh và đường phố rất yên tĩnh.",
        "Cô ấy nói rằng họ sẽ đến nhà ga trước buổi trưa.",
        "Phía sau ngôi nhà có một khu vườn nhỏ với nhiều cây cổ thụ.",
        "Anh ấy mở cửa sổ và nhìn dòng sông một lúc lâu.",
        "Chúng tôi đã chờ câu trả lời từ đầu tuần.",
    ],
    "bn": [
        "আজ সকালে আবহাওয়া ঠান্ডা ছিল এবং রাস্তাগুলো শান্ত ছিল।",
        "সে বলল তারা দুপুরের আগে স্টেশনে পৌঁছাবে।",
        "বাড়ির পেছনে অনেক পুরনো গাছসহ একটি ছোট বাগান আছে।",
        "সে জানালা খুলে কিছুক্ষণ নদীর দিকে তাকিয়ে ছিল।",
        "আমরা সপ্তাহের শুরু থেকে উত্তরের অপেক্ষায় আছি।",
    ],
    "ta": [
        "இன்று காலை வானிலை குளிராக இருந்தது, தெருக்கள் அமைதியாக இருந்தன.",
        "அவர்கள் மதியத்திற்கு முன் நிலையத்தை அடைவார்கள் என்று அவள் சொன்னாள்.",
        "வீட்டின் பின்னால் பல பழைய மரங்களுடன் ஒரு சிறிய தோட்டம் உள்ளது.",
        "அவன் ஜன்னலைத் திறந்து சிறிது நேரம் ஆற்றைப் பார்த்தான்.",
        "வாரத்தின் தொடக்கத்திலிருந்து நாங்கள் பதிலுக்காக காத்திருக்கிறோம்.",
    ],
    "te": [
        "ఈ ఉదయం వాతావరణం చల్లగా ఉంది, వీధులు నిశ్శబ్దంగా ఉన్నాయి.",
        "వారు మధ్యాహ్నానికి ముందే స్టేషనుకు చేరుకుంటారని ఆమె చెప్పింది.",
        "ఇంటి వెనుక చాలా పాత చెట్లతో ఒక చిన్న తోట ఉంది.",
        "అతను కిటికీ తెరిచి కాసేపు నదిని చూశాడు.",
        "వారం మొదటి నుండి మేము సమాధానం కోసం ఎదురు చూస్తున్నాము.",
    ],
    "ka": [
        "დღეს დილით ამინდი ცივი იყო და ქუჩები მშვიდი იყო.",
        "მან თქვა, რომ ისინი შუადღემდე სადგურში ჩავლენ.",
        "სახლის უკან არის პატარა ბაღი მრავალი ძველი ხით.",
        "მან გააღო ფანჯარა და ცოტა ხანს მდინარეს უყურებდა.",
        "კვირის დასაწყისიდან პასუხს ველოდებით.",
    ],
    "hy": [
        "Այսօր առավոտյան եղանակը ցուրտ էր, և փողոցները հանգիստ էին։",
        "Նա ասաց, որ նրանք կհասնեն կայարան կեսօրից առաջ։",
        "Տան հետևում կա փոքրիկ այգի՝ շատ հին ծառերով։",
        "Նա բացեց պատուհանը և մի պահ նայեց գետին։",
        "Մենք պատասխանին սպասում ենք շաբաթվա սկզբից։",
    ],
    "am": [
        "ዛሬ ጠዋት አየሩ ቀዝቃዛ ነበር፣ መንገዶቹም ጸጥ ያሉ ነበሩ።",
        "ከቀትር በፊት ጣቢያው እንደሚደርሱ ተናገረች።",
        "ከቤቱ በስተጀርባ ብዙ አሮጌ ዛፎች ያሉት ትንሽ የአትክልት ስፍራ አለ።",
        "መስኮቱን ከፍቶ ለጥቂት ጊዜ ወንዙን ተመለከተ።",
        "ከሳምንቱ መጀመሪያ ጀምሮ መልሱን እየጠበቅን ነው።",
    ],
    "km": [
        "ព្រឹកនេះអាកាសធាតុត្រជាក់ ហើយផ្លូវស្ងប់ស្ងាត់។",
        "នាងបាននិយាយថាពួកគេនឹងមកដល់ស្ថានីយមុនថ្ងៃត្រង់។",
        "នៅខាងក្រោយផ្ទះមានសួនច្បារតូចមួយដែលមានដើមឈើចាស់ជាច្រើន។",
        "គាត់បានបើកបង្អួចហើយមើលទន្លេមួយសន្ទុះ។",
        "យើងរង់ចាំចម្លើយតាំងពីដើមសប្តាហ៍។",
    ],
    "my": [
        "ဒီမနက် ရာသီဥတု အေးပြီး လမ်းတွေ တိတ်ဆိတ်နေသည်။",
        "နေ့လယ်မတိုင်မီ ဘူတာရုံသို့ ရောက်မည်ဟု သူမပြောသည်။",
        "အိမ်နောက်ဘက်တွင် သစ်ပင်အိုများစွာရှိသော ဥယျာဉ်လေးတစ်ခုရှိသည်။",
        "သူသည် ပြတင်းပေါက်ကိုဖွင့်ပြီး မြစ်ကို ခဏကြည့်နေသည်။",
        "အပတ်အစကတည်းက အဖြေကို စောင့်နေကြသည်။",
    ],
    "lo": [
        "ເຊົ້ານີ້ອາກາດໜາວ ແລະ ຖະໜົນງຽບສະຫງົບ.",
        "ລາວເວົ້າວ່າພວກເຂົາຈະມາຮອດສະຖານີກ່ອນຕອນທ່ຽງ.",
        "ທາງຫຼັງເຮືອນມີສວນນ້ອຍທີ່ມີຕົ້ນໄມ້ເກົ່າຫຼາຍຕົ້ນ.",
        "ລາວເປີດປ່ອງຢ້ຽມ ແລະ ເບິ່ງແມ່ນ້ຳຊົ່ວຄາວ.",
        "ພວກເຮົາລໍຖ້າຄຳຕອບຕັ້ງແຕ່ຕົ້ນອາທິດ.",
    ],
}


def with_lang_id_profiles(
    df: DataFrame, text_col: str = "text", out: str = "lang_id", max_chars: int | None = 1000
) -> DataFrame:
    """Profile-based language ID column (natural-text path). The marker
    heuristic (``text.with_lang_id``) remains the synthetic fast-path.
    ``max_chars``: score only each document's first N characters
    (CLD2-style prefix decision; None = whole document)."""

    @F.arrow_udf(StringType())
    def lang_udf(t):
        return _profile_lang(t, max_chars=max_chars)

    return df.withColumn(out, lang_udf(F.col(text_col)))


def lang_id_profiles_parquet(
    spark,
    path: str,
    text_col: str = "text",
    out: str = "lang_id",
    carry_cols: list[str] | None = None,
    filter=None,
    max_chars: int | None = 1000,
) -> DataFrame:
    """:func:`with_lang_id_profiles` with the scan moved INTO the Python
    workers (``sources.parquet_scan.map_parquet_batches``) — the
    scale/throughput path (VERDICT r3 #6): the driver plans file/
    row-group splits, each task reads only ``carry_cols + [text_col]``
    with pyarrow (pruned, filters pushed) and scores in place, dodging
    the shared-JVM Arrow-IPC ceiling (~5.4M rows/s measured here)
    exactly like ``decontaminate_parquet``. Returns carry_cols + the
    lang-id column; equivalence-tested against the DataFrame path."""
    from pyspark.sql.types import StructField, StructType

    from ..sources.parquet_scan import list_parquet_files, map_parquet_batches, parquet_schema

    carry = list(carry_cols or [])
    files = list_parquet_files(path)
    schema = StructType([*parquet_schema(files, carry), StructField(out, StringType(), False)])

    def fn(batches):
        for rb in batches:
            lang = _profile_lang(rb.column(text_col), max_chars=max_chars)
            yield pa.RecordBatch.from_arrays([*(rb.column(c) for c in carry), lang], names=[*carry, out])

    return map_parquet_batches(spark, files, fn, schema, carry + [text_col], filter)
