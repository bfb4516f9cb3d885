"""Driver-side twin of Spark's ``xxhash64`` expression (XXH64, seed 42).

``LakeTable.lookup`` needs the bucket id of one (repo, path) key. The
bucket is a pure function of the key, but ``bucket_expr`` is built from
``F.xxhash64`` — evaluating it used to cost a one-row Spark job per
lookup (~100ms of scheduling for zero data). XXH64 is a public,
stable spec (Cyan4973/xxHash; Spark's implementation lives in
``sql/catalyst/.../XXH64.java`` and is spec-conformant over
little-endian byte views), so this module re-derives it in pure Python
and :func:`bucket_of` composes it exactly like ``bucket_expr``:

    salt   = pmod(xxh64(utf8(path), 42), path_salt)
    bucket = pmod(xxh64_long(salt, seed=xxh64(utf8(repo), 42)), num_buckets)

Multi-argument ``F.xxhash64(a, b)`` chains: the hash of ``a`` becomes
the SEED for ``b``; long arguments hash their 8 little-endian bytes.
Bit-equality with the Spark expression is pinned by
tests/test_xxh_twin.py over ASCII/unicode/empty/long inputs.
"""

from __future__ import annotations

import struct
from functools import lru_cache

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1

SPARK_SEED = 42  # Spark's xxhash64 default seed (Murmur3-style fixed seed)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    """XXH64 of ``data`` — returns the SIGNED 64-bit value Spark's
    ``xxhash64`` column yields."""
    seed &= _M
    n = len(data)
    if n >= 32:
        a1 = (seed + _P1 + _P2) & _M
        a2 = (seed + _P2) & _M
        a3 = seed
        a4 = (seed - _P1) & _M
        i = 0
        for i in range(0, n - 31, 32):
            l1, l2, l3, l4 = struct.unpack_from("<QQQQ", data, i)
            a1 = _round(a1, l1)
            a2 = _round(a2, l2)
            a3 = _round(a3, l3)
            a4 = _round(a4, l4)
        i += 32
        h = (_rotl(a1, 1) + _rotl(a2, 7) + _rotl(a3, 12) + _rotl(a4, 18)) & _M
        for acc in (a1, a2, a3, a4):
            h = ((h ^ _round(0, acc)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
        i = 0
    h = (h + n) & _M
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = ((_rotl(h ^ _round(0, lane), 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        (lane32,) = struct.unpack_from("<I", data, i)
        h = ((_rotl(h ^ ((lane32 * _P1) & _M), 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h = _fmix(h)
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_long(value: int, seed: int = SPARK_SEED) -> int:
    """Spark hashes LONG children as their 8 little-endian bytes."""
    return xxh64(struct.pack("<q", value), seed)


def bucket_of(repo: str | None, path: str | None, num_buckets: int, path_salt: int = 16) -> int:
    """Pure-Python twin of :func:`filters_spark.lake.table.bucket_expr`.

    Python's ``%`` on a signed int with a positive modulus IS Spark's
    ``pmod`` (both floor toward the modulus sign). A None part hashes
    as Spark's NULL child does: it is skipped, so the running seed
    passes through unchanged."""
    salt = (SPARK_SEED if path is None else _str_hash(path)) % path_salt
    seed = SPARK_SEED if repo is None else _str_hash(repo)
    return _salted(salt, seed) % num_buckets


# a batch's keys repeat repos and paths (and a repo meets at most
# path_salt salts), so the driver-side apply hashes each distinct part once
@lru_cache(maxsize=1 << 16)
def _str_hash(s: str) -> int:
    return xxh64(s.encode("utf-8"), SPARK_SEED)


@lru_cache(maxsize=1 << 16)
def _salted(salt: int, seed: int) -> int:
    return xxh64_long(salt, seed=seed)


def buckets_for_repo(repo: str, num_buckets: int, path_salt: int = 16) -> list[int]:
    """Every bucket a repo's keys can land in. The salting scheme
    (``bucket = hash(repo, hash(path) % path_salt) % num_buckets``)
    spreads a hot repo over at most ``path_salt`` buckets — which
    equally means a repo-scoped read needs at MOST ``path_salt`` of the
    table's buckets, however many keys the repo has. Enumerating the
    salt domain driver-side (pure-Python twin, no Spark job) yields the
    complete candidate set by construction: every key's salt is in
    ``[0, path_salt)``."""
    seed = xxh64(repo.encode("utf-8"), SPARK_SEED)
    return sorted({
        xxh64_long(s, seed=seed) % num_buckets for s in range(path_salt)
    })
