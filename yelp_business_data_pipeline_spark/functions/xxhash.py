"""Pure-Python / numpy xxHash64, bit-identical to Spark's ``F.xxhash64``.

xxHash is a public algorithm (Yann Collet, BSD 2-clause; spec at
github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md). Spark's
``XxHash64`` expression hashes a string column's UTF-8 bytes with the
standard XXH64 at seed 42 and returns the signed 64-bit value — verified
bit-identical to :func:`xxh64` here across empty/short/32B-boundary/long
and non-ASCII inputs (``tests/test_dedup_similarity.py``).

Why this exists: ``portable_hash(..., impl="xxhash64")`` is the
production (bench) hash family — JVM-native, ~2x cheaper than the md5
oracle family — and the Arrow winnowing kernel
(`operators/text.py:winnowing_fingerprints`) must reproduce its
values inside a Python worker to keep the zero-shuffle shape on the
fast-hash path. ``pmod(xxhash64(s), 2^32)`` (the `portable_hash` fold)
equals the LOW 32 BITS of the unsigned hash, because 2^64 ≡ 0 (mod 2^32):
both implementations therefore just mask with 0xFFFFFFFF.

Two shapes:

- :func:`xxh64` — scalar, arbitrary-length bytes, full algorithm
  including the 32-byte stripe loop. The non-ASCII fallback path.
- :func:`xxh64_rows` — numpy-vectorized over an (n, L) uint8 matrix of
  fixed-length rows, L < 32 (the salt+k-gram shape: every row skips the
  stripe loop). uint64 arithmetic wraps mod 2^64 natively in numpy, so
  the transliteration is direct.
"""
from __future__ import annotations

import numpy as np

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42  # Spark's XxHash64 default seed (catalyst hash.scala)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    """XXH64 of ``data`` as a SIGNED int64 — exactly ``F.xxhash64``."""
    n = len(data)
    p = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while p + 32 <= n:
            vs = [v1, v2, v3, v4]
            for i in range(4):
                k = int.from_bytes(data[p + 8 * i : p + 8 * i + 8], "little")
                v = (vs[i] + k * _P2) & _M
                v = _rotl(v, 31)
                vs[i] = (v * _P1) & _M
            v1, v2, v3, v4 = vs
            p += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            k = _rotl((v * _P2) & _M, 31)
            h ^= (k * _P1) & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while p + 8 <= n:
        k = _rotl((int.from_bytes(data[p : p + 8], "little") * _P2) & _M, 31)
        h ^= (k * _P1) & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        p += 8
    if p + 4 <= n:
        h ^= (int.from_bytes(data[p : p + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        p += 4
    while p < n:
        h ^= (data[p] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        p += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _rotl_u64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxh64_rows(mat: np.ndarray, seed: int = SPARK_SEED) -> np.ndarray:
    """Vectorized XXH64 over fixed-length rows; returns UNSIGNED uint64.

    ``mat`` is (n, L) uint8. The vectorized kernel covers L < 32 (rows
    skip the stripe loop — the salt+k-gram shape); longer rows fall back
    to the scalar implementation per row (bit-identical, just slower) so
    a caller choosing a large k-gram gets a slow path, never a
    data-dependent executor crash. For the signed Spark value view as
    int64; for ``portable_hash``'s pmod-2^32 fold mask with
    ``0xFFFFFFFF``.
    """
    n, L = mat.shape
    if L >= 32:
        # xxh64 returns Spark's SIGNED int64 view; mask to the unsigned
        # range explicitly (numpy is deprecating the implicit wrap)
        return np.array(
            [xxh64(mat[i].tobytes(), seed) & _M for i in range(n)], dtype=np.uint64
        )
    P1, P2, P3, P4 = (np.uint64(_P1), np.uint64(_P2), np.uint64(_P3), np.uint64(_P4))
    h = np.full(n, (seed + _P5 + L) & _M, dtype=np.uint64)
    p = 0
    while p + 8 <= L:
        k = np.zeros(n, dtype=np.uint64)
        for j in range(8):
            k |= mat[:, p + j].astype(np.uint64) << np.uint64(8 * j)
        k = _rotl_u64(k * P2, 31) * P1
        h ^= k
        h = _rotl_u64(h, 27) * P1 + P4
        p += 8
    if p + 4 <= L:
        k = np.zeros(n, dtype=np.uint64)
        for j in range(4):
            k |= mat[:, p + j].astype(np.uint64) << np.uint64(8 * j)
        h ^= k * P1
        h = _rotl_u64(h, 23) * P2 + P3
        p += 4
    P5u = np.uint64(_P5)
    while p < L:
        h ^= mat[:, p].astype(np.uint64) * P5u
        h = _rotl_u64(h, 11) * P1
        p += 1
    h ^= h >> np.uint64(33)
    h *= P2
    h ^= h >> np.uint64(29)
    h *= P3
    h ^= h >> np.uint64(32)
    return h
