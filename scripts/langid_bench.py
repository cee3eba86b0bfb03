"""Wall time and output identity of the two language-ID kernels, in-process.

Run: python3 scripts/langid_bench.py [--docs 32768] [--repeats 15]

Builds ``--docs`` web-page texts (``sources.webpages``, the ``text``
column of ``generate_web_pages``) as one Arrow batch, plus a copy whose
middle row is a Czech sentence, so the whole batch is read as non-ASCII
code points. Times the marker kernel (``text._lang_id_batch``) and the
profile kernel (``lang_profiles._profile_lang``) on both batches; each
repeat runs the four cases in turn, so host drift hits all of them
alike. Prints one JSON line per case: the median and the interquartile
range of the wall times in ms, and the SHA-256 of the labels, so two
source trees compare on speed and on bit-identical output.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CZECH = "Otevřel okno a chvíli se díval na řeku."


def _kernels():
    from hlld_spark.operators.lang_profiles import _profile_lang
    from hlld_spark.operators.text import _lang_id_batch

    return {"marker": _lang_id_batch, "profile": _profile_lang}


def _batches(n_docs: int):
    import numpy as np
    import pyarrow as pa

    from hlld_spark.sources.webpages import _page_for_src

    texts = _page_for_src(np.arange(n_docs, dtype=np.uint64), 42)[1].tolist()
    mixed = list(texts)
    mixed[n_docs // 2] = CZECH
    return {"ascii": pa.array(texts, type=pa.string()), "mixed": pa.array(mixed, type=pa.string())}


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    import numpy as np

    q1, med, q3 = np.percentile(xs, [25, 50, 75])
    return float(q1), float(med), float(q3)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--docs", type=int, default=32768)
    ap.add_argument("--repeats", type=int, default=15)
    args = ap.parse_args()

    kernels = _kernels()
    batches = _batches(args.docs)
    cases = [(k, b) for k in kernels for b in batches]
    times: dict[tuple[str, str], list[float]] = {c: [] for c in cases}
    labels = {}
    for (k, b) in cases:  # warm-up: table builds, first-touch allocations
        labels[(k, b)] = kernels[k](batches[b]).to_pylist()
    for _ in range(args.repeats):
        for k, b in cases:
            t0 = time.perf_counter()
            kernels[k](batches[b])
            times[(k, b)].append((time.perf_counter() - t0) * 1e3)
    for k, b in cases:
        q1, med, q3 = _quartiles(times[(k, b)])
        print(
            json.dumps(
                {
                    "kernel": k,
                    "batch": b,
                    "docs": args.docs,
                    "repeats": args.repeats,
                    "median_ms": round(med, 2),
                    "iqr_ms": [round(q1, 2), round(q3, 2)],
                    "labels_sha256": hashlib.sha256("\n".join(labels[(k, b)]).encode()).hexdigest(),
                }
            )
        )


if __name__ == "__main__":
    main()
