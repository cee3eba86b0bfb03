"""Vectorized MurmurHash3_x64_128 (seed 0) over batches of byte strings.

Parity target: the reference daemon hashes every key with
MurmurHash3_x64_128 (Austin Appleby's public-domain function) and keeps
``out[1]`` — the *second* 64-bit word — as the HLL input hash
(see /root/reference/src/hll.c:128-135 and src/set.c:276-282).

This module re-derives the algorithm from its published definition as a
batch-vectorized numpy routine: no per-row Python, no C extension.  Like
the reference, it hashes each key where it lies: a batch is one Arrow
binary/string array, its value bytes are copied once into a buffer with
16 spare bytes at the end, and every 16-byte block is read as two
unaligned little-endian uint64 lanes at the row's Arrow offset plus the
block offset.  Body blocks are mixed with a descending-block-count-sorted
active-prefix loop (each iteration touches only the rows that still have
blocks left).  The two tail lanes are read the same way and masked to
the row's remaining length, so the bytes of the next key never enter the
mix; the murmur tail mix of a zero lane is the identity, so the masked
mix is exact without a branch per tail length.  A null row hashes as the
empty key.

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

# tail masks by remaining length r = len % 16: lane 1 keeps min(r, 8)
# bytes, lane 2 keeps max(r - 8, 0)
_TAIL_MASK1 = np.array([(1 << (8 * min(r, 8))) - 1 for r in range(16)], dtype=U64)
_TAIL_MASK2 = np.array([(1 << (8 * max(r - 8, 0))) - 1 for r in range(16)], dtype=U64)


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


# Arrow offset width per binary-like type; any other type hashes as its
# string form
_OFFSET_DTYPES = {"string": np.int32, "binary": np.int32, "large_string": np.int64, "large_binary": np.int64}


def _lanes(values) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Normalize a batch (pyarrow Array or ChunkedArray / pandas Series /
    list of str|bytes) to (lanes, starts, lens): ``lanes[p]`` is the
    little-endian uint64 at byte ``p`` of the batch's value bytes (one
    copy, 16 zero bytes of slack after the last key, read unaligned);
    ``starts``/``lens`` are each row's byte offset and length in it, a
    null row having length 0."""
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
    offset_dtype = _OFFSET_DTYPES.get(str(values.type))
    if offset_dtype is None:
        values, offset_dtype = values.cast(pa.large_string()), np.int64
    n = len(values)
    _, offs_buf, data_buf = values.buffers()
    if n == 0:
        offsets = np.zeros(1, dtype=np.int64)
    else:
        offsets = np.frombuffer(offs_buf, dtype=offset_dtype)[values.offset : values.offset + n + 1]
    lo, hi = int(offsets[0]), int(offsets[-1])
    buf = np.zeros(hi - lo + 16, dtype=np.uint8)
    if hi > lo:
        buf[: hi - lo] = np.frombuffer(data_buf, dtype=np.uint8, count=hi - lo, offset=lo)
    starts = offsets[:-1].astype(np.int64) - lo
    lens = np.diff(offsets).astype(np.int64)
    if values.null_count:
        lens[values.is_null().to_numpy(zero_copy_only=False)] = 0
    lanes = np.ndarray(shape=(len(buf) - 7,), dtype="<u8", buffer=buf, strides=(1,))
    return lanes, starts, lens


def murmur3_x64_128(values) -> tuple[np.ndarray, np.ndarray]:
    """Hash a batch of strings/bytes; returns (h1, h2) uint64 arrays.

    Matches MurmurHash3_x64_128 with seed 0 bit-for-bit. The reference
    keeps h2 (``out[1]``); use :func:`hll_hash` for that directly.
    """
    lanes, starts, lens = _lanes(values)
    n = len(lens)
    if n == 0:
        e = np.zeros(0, dtype=U64)
        return e, e

    nblocks = lens // 16
    # sort rows by descending block count so each body iteration works on
    # a contiguous active prefix
    order = np.argsort(-nblocks, kind="stable")
    starts_s = starts[order]
    lens_s = lens[order]
    nblocks_s = nblocks[order]

    h1 = np.zeros(n, dtype=U64)
    h2 = np.zeros(n, dtype=U64)

    maxb = int(nblocks_s[0])
    scratch = np.empty(n, dtype=U64)
    # all mixing is in-place on views + one scratch buffer (minimal
    # allocation churn — matters with many workers per node)
    for j in range(maxb):
        na = int(np.searchsorted(-nblocks_s, -(j + 1), side="right"))
        pos = starts_s[:na] + 16 * j
        k1 = lanes[pos]
        k2 = lanes[pos + 8]
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

    # tail: the two lanes after the last full block, masked to the
    # remaining 0-15 bytes
    tail = starts_s + 16 * nblocks_s
    rem = lens_s - 16 * nblocks_s
    k1 = lanes[tail] & _TAIL_MASK1[rem]
    k2 = lanes[tail + 8] & _TAIL_MASK2[rem]

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
