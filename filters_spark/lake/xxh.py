"""Driver-side twin of Spark's ``xxhash64`` expression (XXH64, seed 42).

``LakeTable.lookup`` needs the bucket id of one (repo, path) key. The
bucket is a pure function of the key, but ``bucket_expr`` is built from
``F.xxhash64`` — evaluating it used to cost a one-row Spark job per
lookup (~100ms of scheduling for zero data). XXH64 is a public,
stable spec (Cyan4973/xxHash; Spark's implementation lives in
``sql/catalyst/.../XXH64.java`` and is spec-conformant over
little-endian byte views), so this module re-derives it in pure Python
and :func:`bucket_of` composes it exactly like ``bucket_expr``
(:func:`buckets_of` does the same column-wise in numpy for the
driver-side apply of a whole batch):

    salt   = pmod(xxh64(utf8(path), 42), path_salt)
    bucket = pmod(xxh64_long(salt, seed=xxh64(utf8(repo), 42)), num_buckets)

Multi-argument ``F.xxhash64(a, b)`` chains: the hash of ``a`` becomes
the SEED for ``b``; long arguments hash their 8 little-endian bytes.
Bit-equality with the Spark expression is pinned by
tests/test_xxh_twin.py over ASCII/unicode/empty/long inputs.

The per-file bloom filters' probe math lives here too, beside the hash
it consumes: probe ``k`` of a value sets bit
``mixp31(xxhash64(value), k) mod m`` (:func:`mixp31`, :func:`_bit_mask`
on the Spark side; ``LakeTable._bloom_word_masks`` is the Python twin,
pinned bit-equal by tests/test_bloom_index.py).
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import Column

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
    salt = (SPARK_SEED if path is None else xxh64(path.encode("utf-8"))) % path_salt
    seed = SPARK_SEED if repo is None else xxh64(repo.encode("utf-8"))
    return xxh64_long(salt, seed=seed) % num_buckets


# numpy twins: uint64 arithmetic wraps modulo 2**64 like the masks above
_U1, _U2, _U3, _U4, _U5 = (np.uint64(p) for p in (_P1, _P2, _P3, _P4, _P5))


def _rotl_np(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round_np(acc, lane):
    return _rotl_np(acc + lane * _U2, 31) * _U1


def _fmix_np(h):
    h = (h ^ (h >> np.uint64(33))) * _U2
    h = (h ^ (h >> np.uint64(29))) * _U3
    return h ^ (h >> np.uint64(32))


def _xxh64_strings(arr: pa.Array) -> np.ndarray:
    """:func:`xxh64` (seed 42) of every slot of the Arrow string array
    ``arr`` as uint64, computed column-wise: the loops run over the
    32-byte stripes, 8- and 4-byte lanes and tail bytes of the longest
    value, each step masked to the rows still that long. NULL slots
    hold junk; callers mask them."""
    arr = pc.cast(arr, pa.string())
    n = len(arr)
    off = np.frombuffer(arr.buffers()[1], np.int32, n + 1, arr.offset * 4).astype(np.int64)
    data = arr.buffers()[2]
    # 8 zero bytes past the end: every byte starts a readable 8-byte window
    raw = np.concatenate([np.frombuffer(data, np.uint8) if data else np.zeros(0, np.uint8),
                          np.zeros(8, np.uint8)])
    u64 = np.ndarray((len(raw) - 7,), "<u8", raw, 0, (1,))
    u32 = np.ndarray((len(raw) - 3,), "<u4", raw, 0, (1,))
    starts, lens = off[:-1], off[1:] - off[:-1]
    h = np.full(n, np.uint64(SPARK_SEED + _P5))
    pos = np.zeros(n, np.int64)
    big = np.nonzero(lens >= 32)[0]
    if len(big):
        stripes = lens[big] // 32
        acc = [np.full(len(big), np.uint64(a & _M)) for a in
               (SPARK_SEED + _P1 + _P2, SPARK_SEED + _P2, SPARK_SEED, SPARK_SEED - _P1)]
        for k in range(int(stripes.max())):
            live = stripes > k
            at = starts[big[live]] + 32 * k
            for j in range(4):
                acc[j][live] = _round_np(acc[j][live], u64[at + 8 * j])
        hb = _rotl_np(acc[0], 1) + _rotl_np(acc[1], 7) + _rotl_np(acc[2], 12) + _rotl_np(acc[3], 18)
        for a in acc:
            hb = (hb ^ _round_np(np.uint64(0), a)) * _U1 + _U4
        h[big] = hb
        pos[big] = stripes * 32
    h += lens.astype(np.uint64)
    for _ in range(3):  # < 32 bytes left: at most three 8-byte lanes
        live = pos + 8 <= lens
        lane = u64[starts[live] + pos[live]]
        h[live] = _rotl_np(h[live] ^ _round_np(np.uint64(0), lane), 27) * _U1 + _U4
        pos[live] += 8
    live = pos + 4 <= lens
    lane = u32[starts[live] + pos[live]].astype(np.uint64)
    h[live] = _rotl_np(h[live] ^ (lane * _U1), 23) * _U2 + _U3
    pos[live] += 4
    for _ in range(3):
        live = pos < lens
        byte = raw[starts[live] + pos[live]].astype(np.uint64)
        h[live] = _rotl_np(h[live] ^ (byte * _U5), 11) * _U1
        pos[live] += 1
    return _fmix_np(h)


def buckets_of(repo: pa.Array, path: pa.Array, num_buckets: int,
               path_salt: int = 16) -> pa.Array:
    """:func:`bucket_of` of every (repo, path) slot of two Arrow string
    arrays, as an int32 array, without a per-row Python step."""
    def valid(a):
        return pc.is_valid(a).to_numpy(zero_copy_only=False)

    salt = np.where(valid(path), _xxh64_strings(path).view(np.int64), SPARK_SEED) % path_salt
    seed = np.where(valid(repo), _xxh64_strings(repo), np.uint64(SPARK_SEED))
    # xxh64_long(salt, seed): one 8-byte lane
    h = seed + _U5 + np.uint64(8)
    h = _rotl_np(h ^ _round_np(np.uint64(0), salt.astype(np.uint64)), 27) * _U1 + _U4
    return pa.array(_fmix_np(h).view(np.int64) % num_buckets, pa.int32())


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


_MIX_MULT = 1099087573  # odd LCG constant; 2*salt+_MIX_MULT stays odd
_P31 = 2_147_483_647  # Mersenne prime 2^31 - 1


def mixp31(h: Column, salt: Column) -> Column:
    """Salted permutation of a base 64-bit hash modulo the PRIME
    2^31-1: ``((h mod P) + 1) * (2*salt + ODD) mod P``. The bloom probe
    reduces the result ``mod m`` for a power-of-two ``m``; a 2^31
    modulus would share all low bits with ``m``, so two values that
    collide on one probe would collide on EVERY probe. The prime
    modulus breaks that congruence (the classic ``(a*x mod p) mod w``
    universal-hash construction). The product stays <= 2^62, so the
    arithmetic is exact in BIGINT."""
    hp = F.pmod(h, F.lit(_P31))
    return F.pmod((hp + 1) * (salt.cast("long") * 2 + F.lit(_MIX_MULT)), F.lit(_P31))


def _bit_mask(bit: Column) -> Column:
    """``1 << (bit & 63)`` as an unrolled CASE of literal longs —
    shiftleft takes only literal shift amounts, and ``1 << 63`` must be
    spelled as the negative long (F.lit of 2^63 overflows)."""
    in_word = bit.bitwiseAND(F.lit(63))
    expr = F.lit(0).cast("long")
    for i in range(64):
        expr = F.when(
            in_word == i, F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
        ).otherwise(expr)
    return expr
