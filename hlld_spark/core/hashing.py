"""Vectorized MurmurHash3_x64_128 (seed 0) over batches of byte strings.

Parity target: the reference daemon hashes every key with
MurmurHash3_x64_128 (Austin Appleby's public-domain function) and keeps
``out[1]`` — the *second* 64-bit word — as the HLL input hash
(see /root/reference/src/hll.c:128-135 and src/set.c:276-282).

This module re-derives the algorithm from its published definition as a
batch-vectorized numpy routine: no per-row Python, no C extension.  A
batch of N variable-length strings is packed into one zero-padded
``(N, W)`` uint8 matrix, body blocks are mixed with a descending-
length-sorted active-prefix loop (each 16-byte block iteration touches
only the rows that still have blocks left), and the tail is gathered
with ``take_along_axis`` and mixed *unconditionally* — the murmur tail
mix is the identity when the gathered tail word is zero, and the matrix
is zero beyond each row's length by construction, so no masking is
needed.

Bit-exactness is asserted against golden digests generated by running
the reference's own compiled implementation
(tests/golden/reference_goldens.tsv).
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64

_C1 = U64(0x87C37B91114253D5)
_C2 = U64(0x4CF5AD432745937F)
_M5 = U64(5)
_A1 = U64(0x52DCE729)
_A2 = U64(0x38495AB5)
_F1 = U64(0xFF51AFD7ED558CCD)
_F2 = U64(0xC4CEB9FE1A85EC53)
_S33 = U64(33)


def _rotl_ip(x: np.ndarray, r: int, t: np.ndarray) -> None:
    """In-place rotate-left using scratch t (same shape as x)."""
    np.right_shift(x, U64(64 - r), out=t)
    np.left_shift(x, U64(r), out=x)
    np.bitwise_or(x, t, out=x)


def _fmix64_ip(k: np.ndarray, t: np.ndarray) -> None:
    np.right_shift(k, _S33, out=t)
    np.bitwise_xor(k, t, out=k)
    np.multiply(k, _F1, out=k)
    np.right_shift(k, _S33, out=t)
    np.bitwise_xor(k, t, out=k)
    np.multiply(k, _F2, out=k)
    np.right_shift(k, _S33, out=t)
    np.bitwise_xor(k, t, out=k)


def _flat_bytes(values) -> tuple[np.ndarray, np.ndarray]:
    """Normalize a batch (pyarrow Array / pandas Series / list of
    str|bytes) to (concatenated uint8 buffer, per-row lengths) without
    per-row Python work on the arrow path."""
    import pyarrow as pa

    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if not isinstance(values, pa.Array):
        if hasattr(values, "dtype") and hasattr(values, "to_numpy"):  # pandas Series
            values = pa.Array.from_pandas(values)
        elif isinstance(values, (list, tuple, np.ndarray)):
            values = pa.array(list(values))
        else:
            values = pa.array(values)
    t = values.type
    if pa.types.is_string(t) or pa.types.is_binary(t):
        values = values.cast(pa.large_binary())
    elif pa.types.is_large_string(t):
        values = values.cast(pa.large_binary())
    elif not pa.types.is_large_binary(t):
        values = values.cast(pa.large_string()).cast(pa.large_binary())
    if values.null_count:
        values = values.fill_null(b"")
    n = len(values)
    bufs = values.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int64)[values.offset : values.offset + n + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    lens = np.diff(offsets)
    flat = data[offsets[0] : offsets[-1]]
    return flat, lens


_PAD_BUF = np.zeros(1 << 20, dtype=np.uint8)  # grow-only scratch, reused per worker


def _to_padded_matrix(values) -> tuple[np.ndarray, np.ndarray]:
    """Pack a batch of str/bytes into a zero-padded uint8 matrix.

    Returns (matrix, lengths). The matrix width is a multiple of 16 with
    at least 16 spare zero bytes after the longest row, so the 16-byte
    tail gather never reads out of bounds. The backing buffer is a
    module-level grow-only scratch: Spark python workers are
    single-threaded, and reusing it avoids a multi-MB mmap/munmap pair
    per batch (kernel contention at high parallelism).
    """
    global _PAD_BUF
    flat, lens = _flat_bytes(values)
    n = len(lens)
    if n == 0:
        return np.zeros((0, 16), dtype=np.uint8), lens
    maxlen = int(lens.max(initial=0))
    width = ((maxlen // 16) + 2) * 16  # ≥16 zero bytes of slack for the tail gather
    need = n * width
    if len(_PAD_BUF) < need:
        _PAD_BUF = np.zeros(max(need, 2 * len(_PAD_BUF)), dtype=np.uint8)
    mat = _PAD_BUF[:need].reshape(n, width)
    mat.fill(0)
    # prefix-true mask per row → row-major boolean assignment lays the
    # concatenated buffer into place without a Python loop
    mask = np.arange(width, dtype=np.int64)[None, :] < lens[:, None]
    mat[mask] = flat
    return mat, lens


def murmur3_x64_128(values) -> tuple[np.ndarray, np.ndarray]:
    """Hash a batch of strings/bytes; returns (h1, h2) uint64 arrays.

    Matches MurmurHash3_x64_128 with seed 0 bit-for-bit. The reference
    keeps h2 (``out[1]``); use :func:`hll_hash` for that directly.
    """
    mat, lens = _to_padded_matrix(values)
    n = len(lens)
    if n == 0:
        e = np.zeros(0, dtype=U64)
        return e, e

    nblocks = (lens // 16).astype(np.int64)
    # sort rows by descending block count so each body iteration works on
    # a contiguous active prefix
    order = np.argsort(-nblocks, kind="stable")
    mat_s = mat[order]
    lens_s = lens[order]
    nblocks_s = nblocks[order]

    words = mat_s.view("<u8")  # (n, width/8) little-endian 64-bit lanes
    h1 = np.zeros(n, dtype=U64)
    h2 = np.zeros(n, dtype=U64)

    maxb = int(nblocks_s[0]) if n else 0
    scratch = np.empty(n, dtype=U64)
    # number of active rows per block index (descending-sorted prefix);
    # all mixing is in-place on views + one scratch buffer (minimal
    # allocation churn — matters with many workers per node)
    for j in range(maxb):
        na = int(np.searchsorted(-nblocks_s, -(j + 1), side="right"))
        k1 = words[:na, 2 * j].copy()
        k2 = words[:na, 2 * j + 1].copy()
        s1 = h1[:na]
        s2 = h2[:na]
        t = scratch[:na]

        np.multiply(k1, _C1, out=k1)
        _rotl_ip(k1, 31, t)
        np.multiply(k1, _C2, out=k1)
        np.bitwise_xor(s1, k1, out=s1)
        _rotl_ip(s1, 27, t)
        np.add(s1, s2, out=s1)
        np.multiply(s1, _M5, out=s1)
        np.add(s1, _A1, out=s1)

        np.multiply(k2, _C2, out=k2)
        _rotl_ip(k2, 33, t)
        np.multiply(k2, _C1, out=k2)
        np.bitwise_xor(s2, k2, out=s2)
        _rotl_ip(s2, 31, t)
        np.add(s2, s1, out=s2)
        np.multiply(s2, _M5, out=s2)
        np.add(s2, _A2, out=s2)

    # tail: 16 zero-padded bytes starting at nblocks*16 per row; the
    # zero-padding makes the unconditional mix exact (mixing k==0 is a
    # no-op). Tail offsets are 16-byte aligned, so gather the two tail
    # words directly from the flat u64 view — two n-sized gathers instead
    # of an n×16 byte gather.
    words_flat = words.reshape(-1)
    lanes = words.shape[1]
    row_base = np.arange(n, dtype=np.int64) * lanes
    tail_lane = row_base + 2 * nblocks_s
    k1 = words_flat[tail_lane]
    k2 = words_flat[tail_lane + 1]

    np.multiply(k2, _C2, out=k2)
    _rotl_ip(k2, 33, scratch)
    np.multiply(k2, _C1, out=k2)
    np.bitwise_xor(h2, k2, out=h2)

    np.multiply(k1, _C1, out=k1)
    _rotl_ip(k1, 31, scratch)
    np.multiply(k1, _C2, out=k1)
    np.bitwise_xor(h1, k1, out=h1)

    ln = lens_s.astype(U64)
    np.bitwise_xor(h1, ln, out=h1)
    np.bitwise_xor(h2, ln, out=h2)
    np.add(h1, h2, out=h1)
    np.add(h2, h1, out=h2)
    _fmix64_ip(h1, scratch)
    _fmix64_ip(h2, scratch)
    np.add(h1, h2, out=h1)
    np.add(h2, h1, out=h2)

    # unsort back to input order
    out1 = np.empty(n, dtype=U64)
    out2 = np.empty(n, dtype=U64)
    out1[order] = h1
    out2[order] = h2
    return out1, out2


def hll_hash(values) -> np.ndarray:
    """The 64-bit hash the reference feeds to its HLL: out[1] of
    murmur3_x64_128(key, seed=0) — /root/reference/src/hll.c:131-134."""
    return murmur3_x64_128(values)[1]
