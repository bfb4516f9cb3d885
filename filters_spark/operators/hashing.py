"""Cross-engine-deterministic 64-bit hashing.

The LSH family (minhash, simhash, random-hyperplane ANN, winnowing
fingerprints) is hash-parameterized: the production default is Spark's
``xxhash64`` (fast, JVM-native), but xxhash64 has no DuckDB twin, so
contract queries that want a value-checked oracle inject the SHA-256
prefix hash defined here — ``sha64`` in Spark and :func:`sha64_sql`'s
textual mirror in DuckDB produce bit-identical signed 64-bit values
for identical UTF-8 input. Hash QUALITY is equivalent (both uniform
64-bit mixers); only throughput differs, which is why xxhash64 stays
the default for the scale tier.

The same trick underpins :func:`sha_planes`: random-hyperplane LSH
needs a deterministic ±1 matrix that depends only on (bit, component,
seed) — never on the data — so it can be computed ONCE driver-side
with :mod:`hashlib` and inlined as literals into both engines' plans
(cheaper than re-hashing per row, and trivially mirrorable).
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import Column

from filters_spark.lake.xxh import _MIX_MULT, _P31

_TWO63 = "9223372036854775808"
_TWO64 = "18446744073709551616"


def sha64(col: Column) -> Column:
    """Signed 64-bit value from the first 8 bytes of sha256(col),
    big-endian — pure native Column algebra (sha2 -> hex prefix ->
    base-16 conv -> two's-complement fold), no UDF."""
    u = F.conv(F.substring(F.sha2(col.cast("string"), 256), 1, 16), 16, 10).cast(
        "decimal(20,0)"
    )
    two63 = F.lit(_TWO63).cast("decimal(20,0)")
    two64 = F.lit(_TWO64).cast("decimal(21,0)")
    return F.when(u >= two63, (u - two64).cast("long")).otherwise(u.cast("long"))


def sha64_sql(expr: str) -> str:
    """DuckDB mirror of :func:`sha64` for a string-typed SQL expression:
    sha256 hex -> first 16 hex chars -> UBIGINT -> signed BIGINT."""
    u = f"CAST(concat('0x', substr(sha256({expr}), 1, 16)) AS UBIGINT)"
    return (
        f"CAST(CASE WHEN {u} >= {_TWO63} THEN CAST({u} AS HUGEINT) - {_TWO64} "
        f"ELSE CAST({u} AS HUGEINT) END AS BIGINT)"
    )


_MOD31 = 2_147_483_648  # 2^31


def mix31(h: Column, salt: Column) -> Column:
    """Cheap salted permutation family over a base 64-bit hash, in
    31-bit modular space: ``((h mod 2^31) + 1) * (2*salt + ODD) mod
    2^31``. Pure BIGINT arithmetic with no intermediate over 2^62, so
    it is bit-identical in any engine with 64-bit ints (the same trick
    as sampling's hash_split) — ONE expensive base hash per element,
    then O(1) arithmetic per salt, instead of one sha/xxhash per
    (element, salt)."""
    h31 = F.pmod(h, F.lit(_MOD31))
    return F.pmod((h31 + 1) * (salt.cast("long") * 2 + F.lit(_MIX_MULT)), F.lit(_MOD31))


def mix31_sql(h_expr: str, salt_expr: str) -> str:
    """DuckDB mirror of :func:`mix31` (operands nonnegative, so ``%``
    equals pmod)."""
    return (
        f"((((({h_expr}) % {_MOD31} + {_MOD31}) % {_MOD31}) + 1) "
        f"* (2 * ({salt_expr}) + {_MIX_MULT})) % {_MOD31}"
    )


def mixp31_sql(h_expr: str, salt_expr: str) -> str:
    """DuckDB mirror of :func:`~filters_spark.lake.xxh.mixp31`."""
    return (
        f"((((({h_expr}) % {_P31} + {_P31}) % {_P31}) + 1) "
        f"* (2 * ({salt_expr}) + {_MIX_MULT})) % {_P31}"
    )


def sha_planes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix (``bits`` rows × ``dim``
    cols) from sha256 parity of ``"i:j:seed"`` — engine-independent by
    construction (computed in Python, inlined as literals)."""
    out = []
    for i in range(bits):
        row = []
        for j in range(dim):
            h = hashlib.sha256(f"{i}:{j}:{seed}".encode()).digest()
            row.append(1.0 if h[0] % 2 == 0 else -1.0)
        out.append(row)
    return out
