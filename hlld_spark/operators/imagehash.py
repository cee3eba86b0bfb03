"""Perceptual image hashing (pHash) + hamming-distance image near-dup.

Text near-dup (MinHash/SimHash) misses the dominant duplication mode of
a multimodal crawl: the SAME image re-encoded (different quality,
format, resize). pHash is the standard answer — a 64-bit DCT
fingerprint that is invariant to re-encoding noise — and hamming-close
fingerprints are found with the same pigeonhole block join the engine
already uses for SimHash (``dedup.hash64_block_dedup``).

The hash (spec, shared verbatim by the production kernel and the
fixture generator's independent double-loop reference):

  1. grayscale: ``0.299 R + 0.587 G + 0.114 B`` (ITU-R BT.601) for ≥3
     channels, channel 0 otherwise, float64;
  2. 32×32 bin-average: input row y belongs to output row ``y*32//H``
     (col likewise); each cell is the float64 mean of its bin — for
     images smaller than 32 the empty bins take the single row/col at
     the bin start (numpy ``add.reduceat`` semantics, mirrored by the
     reference loop);
  3. 2-D orthonormal DCT-II, keep the top-left 8×8 coefficients;
  4. 64 bits: bit ``8*r+c`` is set iff coefficient (r,c) exceeds the
     MEDIAN of the 63 AC coefficients (DC excluded from the median so a
     bright-vs-dark image doesn't saturate the hash).

Decode rides the engine's own pure-python codecs (PNG, baseline +
progressive JPEG, FIMG — ``operators/multimodal._decode_image``);
undecodable payloads hash to NULL and keep themselves in the dedup.

Scale shape: one worker-side decode+hash pass (payloads NEVER shuffle),
then the SimHash block join over (id, block_val, hash) scalars only —
identical cost profile to ``simhash_dedup``.

Reference scope note: armon/hlld has no image operators; this is a
brief-mandated LLM-pipeline addition (multimodal dedup layer).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

_N = 32  # resize target; DCT size


def _dct32_basis() -> np.ndarray:
    """Orthonormal DCT-II basis, N=32: B[u,x] = a(u)·cos(π(2x+1)u/2N)."""
    n = _N
    x = np.arange(n)
    b = np.cos(np.pi * (2 * x[None, :] + 1) * np.arange(n)[:, None] / (2 * n))
    b *= np.sqrt(2.0 / n)
    b[0] *= np.sqrt(0.5)
    return b


_DCT32 = _dct32_basis()


def _to_gray(img: np.ndarray) -> np.ndarray:
    a = img.astype(np.float64)
    if a.ndim == 2:
        return a
    if a.shape[2] >= 3:
        return 0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]
    return a[:, :, 0]


def _bin_starts(size: int) -> np.ndarray:
    return (np.arange(_N) * size) // _N


def _bin_resize(gray: np.ndarray) -> np.ndarray:
    """32×32 bin-average (vectorized): two reduceat passes + one
    divide. Empty bins (image smaller than 32) degrade to the single
    element at the bin start — reduceat's repeated-index semantics."""
    h, w = gray.shape
    rs, cs = _bin_starts(h), _bin_starts(w)
    rcnt = np.maximum(np.diff(np.append(rs, h)), 1).astype(np.float64)
    ccnt = np.maximum(np.diff(np.append(cs, w)), 1).astype(np.float64)
    summed = np.add.reduceat(np.add.reduceat(gray, rs, axis=0), cs, axis=1)
    return summed / np.outer(rcnt, ccnt)


def phash64(img: np.ndarray) -> int:
    """64-bit perceptual hash of an HxW[xC] uint8 array (spec above)."""
    cell = _bin_resize(_to_gray(img))
    d = _DCT32 @ cell @ _DCT32.T
    coefs = d[:8, :8].ravel()
    med = np.median(coefs[1:])
    bits = coefs > med
    return int(np.packbits(bits, bitorder="little").view(np.uint64)[0])


def phash_batch(payloads: pd.Series) -> np.ndarray:
    """Decode + hash a batch of image payloads → int64 array with
    pandas NA (None) for undecodable bytes; returned as object array
    so nulls survive the Arrow round-trip."""
    from .multimodal import _decode_image

    out = np.empty(len(payloads), dtype=object)
    for j, b in enumerate(payloads):
        try:
            img = _decode_image(bytes(b or b""))
            out[j] = np.int64(np.uint64(phash64(img)))
        except Exception:
            out[j] = None
    return out


def phash_df(df: DataFrame, id_col: str, payload_col: str = "payload") -> DataFrame:
    """(id, phash) fingerprints — decode runs where the payload lives;
    only the 8-byte hash leaves the worker."""
    out_schema = StructType(
        [df.schema[id_col], StructField("phash", LongType(), True)]
    )

    def compute(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "phash": phash_batch(pdf[payload_col])}
            )

    return df.select(id_col, payload_col).mapInPandas(compute, schema=out_schema)


def phash_dedup(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    hamming_threshold: int = 3,
    blocks: int = 4,
    max_bucket_pairwise: int = 512,
) -> DataFrame:
    """Image near-dup: :func:`phash_df` fingerprints + the SimHash
    pigeonhole block join (``hamming ≤ blocks−1`` pairs are guaranteed
    found). Returns (id, keeper_id, hamming); undecodable payloads
    keep themselves."""
    from .dedup import hash64_block_dedup

    return hash64_block_dedup(
        phash_df(df, id_col, payload_col),
        id_col,
        "phash",
        hamming_threshold=hamming_threshold,
        blocks=blocks,
        max_bucket_pairwise=max_bucket_pairwise,
    )


# ---------------------------------------------------------------------------
# fixture + spec-literal reference (tests & driver gate)
# ---------------------------------------------------------------------------


def phash64_reference(img: np.ndarray) -> tuple[int, float]:
    """Independent double-loop implementation of the spec (per-cell
    slice means, per-coefficient double cosine sum) → (hash, margin)
    where margin = min |AC coefficient − median| over coefficients not
    equal to the median element. The fixture generator asserts the
    margin so last-ulp arithmetic differences between this path and the
    vectorized kernel can never flip a bit."""
    gray = _to_gray(img)
    h, w = gray.shape
    cell = np.zeros((_N, _N))
    for cy in range(_N):
        y0 = cy * h // _N
        y1 = max((cy + 1) * h // _N, y0 + 1)
        for cx in range(_N):
            x0 = cx * w // _N
            x1 = max((cx + 1) * w // _N, x0 + 1)
            cell[cy, cx] = gray[y0:y1, x0:x1].mean()
    coefs = np.zeros(64)
    for u in range(8):
        for v in range(8):
            au = np.sqrt((1.0 if u else 0.5) * 2.0 / _N)
            av = np.sqrt((1.0 if v else 0.5) * 2.0 / _N)
            s = 0.0
            for y in range(_N):
                for x in range(_N):
                    s += (
                        cell[y, x]
                        * np.cos(np.pi * (2 * y + 1) * u / (2 * _N))
                        * np.cos(np.pi * (2 * x + 1) * v / (2 * _N))
                    )
            coefs[u * 8 + v] = au * av * s
    med = float(np.median(coefs[1:]))
    val = 0
    for i in range(64):
        if coefs[i] > med:
            val |= 1 << i
    margin = float(np.min(np.abs(coefs[np.abs(coefs - med) > 0] - med), initial=np.inf))
    return val, margin


def _smooth_image(i: int, seed: int, h: int, w: int, c: int) -> np.ndarray:
    """Deterministic smooth test image: a low-order 2-D cosine mixture
    (seeded per asset) plus mild hash noise, quantized to uint8 —
    smooth enough that pHash behaves as it does on photographs."""
    from ..sources.webpages import splitmix64

    ph = splitmix64(np.arange(8, dtype=np.uint64) + np.uint64(i * 1315423911 + seed))
    amp = (ph % np.uint64(1000)).astype(np.float64) / 1000.0
    y = np.arange(h)[:, None] / h
    x = np.arange(w)[None, :] / w
    base = np.zeros((h, w))
    for k in range(4):
        base += amp[k] * np.cos(np.pi * (k + 1) * y + amp[k + 4] * 7) * np.cos(
            np.pi * (k + 2) * x
        )
    base = (base - base.min()) / max(base.ptp(), 1e-9)
    noise = (
        splitmix64(np.arange(h * w, dtype=np.uint64) + np.uint64(i * 31 + seed))
        % np.uint64(8)
    ).astype(np.float64).reshape(h, w)
    plane = np.clip(base * 220 + noise, 0, 255).astype(np.uint8)
    img = np.repeat(plane[:, :, None], c, axis=2)
    if c >= 3:  # decorrelate channels mildly so gray isn't trivial
        img[:, :, 1] = np.clip(plane.astype(np.int32) + 12, 0, 255).astype(np.uint8)
        img[:, :, 2] = np.clip(plane.astype(np.int32) - 9, 0, 255).astype(np.uint8)
    return img


def write_phash_fixture(path: str, n: int, seed: int = 47) -> str:
    """Deterministic image-dedup fixture (idempotent): PNG and baseline
    JPEG payloads with ground-truth ``phash`` computed by
    :func:`phash64_reference` — for JPEG on the ENCODER-side
    reconstruction (``quantized_planes`` + ``dequant_idct_reference``),
    the exact pixels the decoder must produce. Every 6th asset is a
    near-duplicate (small perturbation, usually re-encoded) of its
    predecessor; two assets are corrupt (NULL hash). A >1e-6
    coefficient-median margin is asserted per image."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(path):
        return path
    from .codecs import encode_png
    from .jpeg import dequant_idct_reference, encode_jpeg, quantized_planes

    sizes = [(48, 64), (40, 56), (37, 53), (32, 32), (21, 27), (45, 33)]
    rows = []
    prev_px = None
    for i in range(n):
        if i % 29 == 17:  # corrupt payloads: NULL hash, keep themselves
            rows.append((i, b"\x89PNGnot-really" + bytes([i % 251] * 40), None, None, None))
            prev_px = None
            continue
        h, w = sizes[i % len(sizes)]
        c = 3 if i % 3 else 1
        if i % 6 == 5 and prev_px is not None:
            px = prev_px.copy()  # planted near-dup: tiny perturbation
            h, w, c = px.shape
            px[h // 3 : h // 3 + 2, w // 3 : w // 3 + 2] ^= 3
        else:
            px = _smooth_image(i, seed, h, w, c)
            h, w, c = px.shape
        if i % 2:
            quality = (80, 88, 95)[i % 3]
            ss = "4:2:0" if (c == 3 and i % 4 == 1) else "4:4:4"
            payload = encode_jpeg(px, quality, ss)
            coefs, qs, samp = quantized_planes(px, quality, ss)
            truth_px = dequant_idct_reference(coefs, qs, samp, w, h, c == 1)
        else:
            payload = encode_png(px, filter_type=i % 3)
            truth_px = px
        val, margin = phash64_reference(truth_px)
        attempt = 0
        while margin <= 1e-6:  # re-noise until the median margin is safe
            attempt += 1
            px = _smooth_image(i + 7919 * attempt, seed, h, w, c)
            if i % 2:
                payload = encode_jpeg(px, quality, ss)
                coefs, qs, samp = quantized_planes(px, quality, ss)
                truth_px = dequant_idct_reference(coefs, qs, samp, w, h, c == 1)
            else:
                payload = encode_png(px, filter_type=i % 3)
                truth_px = px
            val, margin = phash64_reference(truth_px)
        prev_px = px
        rows.append((i, payload, int(np.int64(np.uint64(val))), int(w), int(h)))
    cols = {
        "img_id": pa.array([r[0] for r in rows], pa.int64()),
        "payload": pa.array([r[1] for r in rows], pa.binary()),
        "phash": pa.array([r[2] for r in rows], pa.int64()),
        "width": pa.array([r[3] for r in rows], pa.int32()),
        "height": pa.array([r[4] for r in rows], pa.int32()),
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, path)
    return path
