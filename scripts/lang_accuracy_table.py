"""Emit the per-language held-out accuracy table recorded in COVERAGE.md
(r5, VERDICT r4 #5): runs `_profile_lang` over the 25-sentence
held-out corpus of every language (5 EVAL_SENTENCES + 20 extended) and
prints a markdown table. The pytest gate
(test_lang_profiles.test_extended_heldout_gate) asserts 100% on the same
corpus — this script is the reporting twin."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hlld_spark.operators.lang_profiles import EVAL_SENTENCES, _profile_lang
from tests.lang_eval_extended import EXTENDED_SENTENCES


def main() -> None:
    texts, labels = [], []
    for lang in sorted(EVAL_SENTENCES):
        sents = EVAL_SENTENCES[lang] + EXTENDED_SENTENCES[lang]
        texts += sents
        labels += [lang] * len(sents)
    pred = _profile_lang(texts).to_pylist()
    per: dict[str, list[int]] = {}
    for lang, p in zip(labels, pred):
        ok, tot = per.setdefault(lang, [0, 0])
        per[lang][0] = ok + (p == lang)
        per[lang][1] = tot + 1
    cells = [f"{lang} {ok}/{tot}" for lang, (ok, tot) in sorted(per.items())]
    total_ok = sum(v[0] for v in per.values())
    total = sum(v[1] for v in per.values())
    print(f"Held-out accuracy ({total_ok}/{total} overall):")
    width = 6
    for i in range(0, len(cells), width):
        print("| " + " | ".join(cells[i : i + width]) + " |")


if __name__ == "__main__":
    main()
