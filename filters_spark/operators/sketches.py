"""Distinct-count sketches: KMV (bottom-k) and HyperLogLog.

At 100-TB corpus scale, ``count(DISTINCT x)`` is a full shuffle of every
distinct value; a sketch answers the same question in one constant-width
pass. Both operators here are **hash-parameterized** like the LSH family
(operators/hashing.py): the scale default is Spark's ``xxhash64``
(JVM-native), and contract queries inject ``sha64`` so a DuckDB oracle
can recompute the *identical* sketch — every intermediate is either an
exact integer or a double derived from exact integers by IEEE ops both
engines spell the same way (no ``pow``/``ln``/float-sum-order hazards in
the oracled columns).

Reference parity tier: the reference library (a scalar validation
pipeline) has no aggregation surface at all; these are engine-layer
additions required by the north rule's training-data-pipeline tier.

KMV (k minimum values, Bar-Yossef et al. 2002): hash every value to
``u ∈ [0,1)``; the k-th smallest distinct ``u`` estimates the distinct
count as ``(k-1)/u_(k)`` (exact when fewer than k distinct hashes).
Scale shape: one map-side-combinable distinct, then a **salted two-stage
bottom-k** — stage 1 keeps k per (group, salt) so no window task exceeds
the deduped salt slice; stage 2 ranks the ≤ salts·k survivors per group.
The global bottom-k of a union equals the bottom-k of the per-salt
bottom-ks, so the precap is lossless.

HLL (Flajolet et al. 2007): register ``j = low p bits`` of the hash,
``rho = leading-zero count of the remaining w = 64-p bits, +1``;
register value = max rho. Estimate ``alpha·m²/Σ 2^(-reg)``. The sum is
kept in INTEGER space — ``Σ 2^(rho_cap - reg)`` with empty registers
contributing ``2^rho_cap`` — so partition order cannot perturb it;
``rho`` comes from an indicator-sum bit length (54 integer compares,
whole-stage-codegen friendly) rather than a float log. Registers are
max-mergeable, so sketches computed per partition/day/shard re-aggregate
exactly (:func:`hll_merge`).
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from filters_spark.lake.xxh import _bit_mask, mixp31
from filters_spark.operators.hashing import sha64

_TWO64F = float(1 << 64)


def _u01(h: Column) -> Column:
    """Signed 64-bit hash -> double in [0,1): h/2^64 + 0.5.

    Long->double cast, division by an exact power of two, and +0.5 are
    each exactly mirrorable in DuckDB (same IEEE ops, same spelling)."""
    return (h.cast("double") / F.lit(_TWO64F)) + F.lit(0.5)


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: int = 64,
    hash_fn=None,
    precap_salts: int = 32,
) -> DataFrame:
    """Per-group KMV distinct-count estimate.

    Output: group_cols + ``n_kept`` (bottom-set size, == distinct count
    when < k), ``kth_u`` (the k-th smallest normalized hash; max of the
    bottom set), ``est_distinct`` (double; exact n_kept when n_kept < k,
    else (k-1)/kth_u).

    ``precap_salts``: stage-1 salt fan-out bounding the per-task window
    width; 0 disables (single global window per group — tiny inputs
    only, the same caveat as ``pack_sequences`` without a shard)."""
    if k < 2:
        raise ValueError("k must be >= 2")
    hash_fn = hash_fn or F.xxhash64
    u = _u01(hash_fn(F.col(value_col).cast("string"))).alias("_u")
    # distinct (group, u): map-side partial aggregation; KMV is defined
    # on the *hash* multiset, so collapsing equal hashes is the sketch's
    # own semantics, not a shortcut. NULLs are excluded FIRST —
    # count(DISTINCT) semantics; xxhash64(NULL) would otherwise mint a
    # phantom distinct value (and a NULL custom hash would occupy the
    # bottom-k's first rank, NULLS FIRST in the asc window)
    dedup = (
        df.filter(F.col(value_col).isNotNull()).select(*group_cols, u).distinct()
    )
    if precap_salts:
        salt = F.pmod(F.xxhash64(F.col("_u")), F.lit(precap_salts))
        dedup = dedup.withColumn("_salt", salt)
        w1 = Window.partitionBy(*group_cols, "_salt").orderBy("_u")
        dedup = (
            dedup.withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") <= k)
            .drop("_rn", "_salt")
        )
    w2 = Window.partitionBy(*group_cols).orderBy("_u")
    bottom = dedup.withColumn("_rn", F.row_number().over(w2)).filter(F.col("_rn") <= k)
    agg = bottom.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("_u").alias("kth_u")
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.col("kth_u"))
    return agg.select(*group_cols, "n_kept", "kth_u", est.alias("est_distinct"))


# -- HyperLogLog --------------------------------------------------------------


def _bit_length(col: Column, nbits: int) -> Column:
    """Position of the highest set bit of a non-negative ``col`` known
    to fit in ``nbits`` bits (0 for col==0) — an indicator sum of
    integer compares, exactly mirrorable as SQL text."""
    terms = [(col >= F.lit(1 << i)).cast("int") for i in range(nbits)]
    return reduce(lambda a, b: a + b, terms)


def _reg_weight(reg: Column, rho_cap: int) -> Column:
    """``2^(rho_cap - reg)`` as an exact integer CASE ladder (no float
    ``pow`` — its rounding is library-dependent)."""
    expr = F.lit(1 << rho_cap)  # reg == 0 (empty register)
    for r in range(1, rho_cap + 1):
        expr = F.when(reg == r, F.lit(1 << (rho_cap - r))).otherwise(expr)
    return expr


def hll_numerator(m: int, rho_cap: int, alpha: float | None = None) -> float:
    """The estimator's constant numerator alpha·m²·2^rho_cap as one
    double (left-assoc IEEE product) — shared literal for both engines."""
    return (alpha or hll_alpha(m)) * float(m) * float(m) * float(1 << rho_cap)


def hll_alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))


def hll_registers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    p: int = 10,
    hash_fn=None,
    rho_cap: int = 40,
) -> DataFrame:
    """Per-group HLL register frame: group_cols + ``_bucket`` (int,
    [0, 2^p)) + ``reg`` (max rho). Constant width per group (≤ 2^p
    rows); re-aggregable with :func:`hll_merge`."""
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    hash_fn = hash_fn or F.xxhash64
    m = 1 << p
    wbits = 64 - p
    h = hash_fn(F.col(value_col).cast("string"))
    bucket = h.bitwiseAND(F.lit(m - 1)).cast("int")
    # logical shift: arithmetic >> then mask the low (64-p) bits — the
    # sign-extended high bits die under the mask, so this equals an
    # unsigned shift and DuckDB's (h >> p) & mask spells it identically
    w = F.shiftright(h, p).bitwiseAND(F.lit((1 << wbits) - 1))
    rho = F.least(F.lit(rho_cap), F.lit(wbits) - _bit_length(w, wbits) + F.lit(1))
    return (
        # NULLs excluded: count(DISTINCT) semantics — hashing NULL
        # would register one phantom distinct per group
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, bucket.alias("_bucket"), rho.alias("_rho"))
        .groupBy(*group_cols, "_bucket")
        .agg(F.max("_rho").alias("reg"))
    )


def hll_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Union of HLL sketches = per-register max — shard/day/partition
    sketches merge exactly (the property that makes HLL a one-pass
    distributed distinct count)."""
    return registers.groupBy(*group_cols, "_bucket").agg(F.max("reg").alias("reg"))


def hll_finalize(
    registers: DataFrame,
    group_cols: list[str],
    p: int,
    rho_cap: int = 40,
    linear_counting: bool = False,
) -> DataFrame:
    """Register frame -> estimate. Output: group_cols + ``used`` (buckets
    hit), ``zeros`` (empty registers), ``sum_int`` (Σ 2^(rho_cap-reg),
    exact integer), ``est_raw`` (alpha·m²·2^rho_cap / sum_int).

    ``linear_counting=True`` adds the standard small-range corrected
    ``est`` (m·ln(m/zeros) when zeros>0 and est_raw ≤ 2.5m). It uses
    ``ln``, whose last-ulp rounding is math-library-dependent — fine for
    use, excluded from cross-engine value-checked contracts."""
    m = 1 << p
    alpha = hll_alpha(m)
    agg = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(_reg_weight(F.col("reg"), rho_cap)).alias("sum_present"),
    )
    zeros = (F.lit(m) - F.col("used")).alias("zeros")
    sum_int = (
        F.col("sum_present") + (F.lit(m) - F.col("used")) * F.lit(1 << rho_cap)
    ).alias("sum_int")
    out = agg.select(*group_cols, "used", zeros, sum_int)
    # ONE double literal for alpha*m^2*2^cap, computed here and reused
    # verbatim by the SQL mirror — a single constant sidesteps both
    # cross-engine constant-folding order and DuckDB's decimal-typed
    # float literals
    numer = hll_numerator(m, rho_cap, alpha)
    out = out.withColumn("est_raw", F.lit(numer) / F.col("sum_int").cast("double"))
    if linear_counting:
        lc = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros").cast("double"))
        out = out.withColumn(
            "est",
            F.when(
                (F.col("zeros") > 0) & (F.col("est_raw") <= F.lit(2.5 * m)), lc
            ).otherwise(F.col("est_raw")),
        )
    return out


def hll_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    p: int = 10,
    hash_fn=None,
    rho_cap: int = 40,
    linear_counting: bool = False,
) -> DataFrame:
    """Per-group HLL distinct-count estimate (register build + finalize
    in one call); see :func:`hll_registers` / :func:`hll_finalize`."""
    regs = hll_registers(df, value_col, group_cols, p, hash_fn, rho_cap)
    return hll_finalize(regs, group_cols, p, rho_cap, linear_counting)


# -- Count-min sketch ----------------------------------------------------------
#
# Frequency estimation (Cormode & Muthukrishnan 2005): d rows of w
# counters; item x increments counter[r][h_r(x)] for every row r, and
# the estimate is the MIN over rows — always >= the true count, over by
# at most the collision mass (~N/w per row, best row wins). The reason
# it belongs in a 100-TB pipeline: counters are ADDITIVE, so the whole
# build is one constant-width groupBy (d*w cells per group) with
# map-side partial aggregation — per-shard/day sketches re-aggregate
# exactly with cms_merge, and no shuffle ever carries a distinct value.
# Addition is also partition-order-independent in exact integer space,
# which is what makes the sketch bit-mirrorable in a DuckDB oracle
# (same guarantee KMV/HLL rely on; weights are summed as BIGINT).
#
# Row-r hash = mixp31(base_hash(x), r) mod width: ONE expensive base
# hash per element, O(1) arithmetic per row — the same structure
# minhash uses (hashing.py docstring has the perf trap this avoids).
# mixp31 (prime modulus), NOT mix31: with mix31's 2^31 modulus a
# power-of-two width reads only the base hash's low bits, so row
# collisions are perfectly correlated and depth buys nothing (see
# lake/xxh.mixp31).


def cms_build(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
    hash_fn=None,
) -> DataFrame:
    """Per-group count-min counter frame: group_cols + ``_row``
    ([0, depth)) + ``_col`` ([0, width)) + ``cnt`` (BIGINT; sum of
    ``weight_col`` cast to long, or row count). Only populated cells
    are materialized (absent cell == 0); at most depth*width rows per
    group regardless of input size."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    group_cols = group_cols or []
    hash_fn = hash_fn or F.xxhash64
    base = hash_fn(F.col(value_col).cast("string"))
    w = (
        F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    ).alias("_w")
    # NULL values are not counted (matches Spark's own
    # count_min_sketch aggregate, which skips null inputs)
    df = df.filter(F.col(value_col).isNotNull())
    probes = df.select(
        *group_cols, base.alias("_h"), w,
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("_row"),
    )
    col = F.pmod(mixp31(F.col("_h"), F.col("_row")), F.lit(width)).alias("_col")
    return (
        probes.select(*group_cols, "_row", col, "_w")
        .groupBy(*group_cols, "_row", "_col")
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_merge(counters: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Union of CMS sketches (same depth/width/hash) = cell-wise sum —
    shard/day/partition sketches re-aggregate exactly."""
    group_cols = group_cols or []
    return counters.groupBy(*group_cols, "_row", "_col").agg(
        F.sum("cnt").alias("cnt")
    )


def cms_estimate(
    counters: DataFrame,
    items: DataFrame,
    value_col: str,
    depth: int,
    width: int,
    group_cols: list[str] | None = None,
    hash_fn=None,
) -> DataFrame:
    """Point-query the sketch for every row of ``items``: output =
    items' columns + ``est`` (BIGINT, min over rows; >= true count).

    The counter frame is at most depth*width cells per group —
    constant-size — so it is BROADCAST and the probe is a map-only
    pass over ``items``: estimating frequencies for a billion
    candidates never shuffles the candidates."""
    group_cols = group_cols or []
    hash_fn = hash_fn or F.xxhash64
    base = hash_fn(F.col(value_col).cast("string"))
    # _rid keeps duplicate item rows distinct through the probe
    # regroup (grouping on the struct alone would collapse them);
    # monotonically_increasing_id is deterministic for a fixed
    # partition layout, and it never leaves this plan
    probes = items.withColumn("_rid", F.monotonically_increasing_id()).select(
        "_rid", F.struct(*items.columns).alias("_item"), base.alias("_h"),
        *[F.col(g) for g in group_cols],
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("_row"),
    ).withColumn("_col", F.pmod(mixp31(F.col("_h"), F.col("_row")), F.lit(width)))
    joined = probes.join(
        F.broadcast(counters), [*group_cols, "_row", "_col"], "left"
    )
    # an absent cell means nothing ever hashed there: count 0
    return (
        joined.groupBy("_rid", "_item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
        .select("_item.*", "est")
    )


# -- Heavy hitters --------------------------------------------------------------


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    min_frac: float,
    total_rows: int | None = None,
    local_slack: float = 1.0,
) -> DataFrame:
    """EXACT heavy hitters — every value occurring in at least
    ``min_frac`` of rows, with its exact count — without ever shuffling
    the full distinct-key set. Output: ``value_col`` + ``n`` (BIGINT).

    The naive plan (groupBy(value).count() then HAVING) shuffles one
    partial count per distinct key per input partition; on a 100-TB
    column with billions of distinct values that shuffle IS the job.
    This operator uses the two-pass candidate trick instead:

    1. **Local candidates** (map-only, ``mapInPandas``): each input
       partition counts its own rows and emits the values that are
       locally frequent (local count >= min_frac * partition rows -
       ``local_slack``). Pigeonhole guarantees NO false negatives: if a
       value has global frequency >= min_frac, some partition holds it
       with at least that local frequency (else the global sum would be
       short). The candidate set is tiny — at most ~partitions/min_frac
       values — and false positives are harmless.

       Per-partition memory is BOUNDED (``local_cap`` counters, default
       ~8/min_frac) by Misra-Gries-style uniform decrement: when the
       counter table overflows, subtract the smallest count that
       brings it back under the cap from EVERYTHING and drop the
       non-positives — and record the total subtracted. A value's
       stored count undercounts its true local count by at most that
       ledger, so emitting everything with ``count >= f*n - ledger -
       local_slack`` keeps the no-false-negative guarantee EXACTLY
       (the ledger is tracked, not bounded by faith), while memory
       stays O(local_cap) no matter how many distinct values stream
       through the partition.
    2. **Exact verify**: broadcast the candidates, leftsemi-join (row
       filter, no shuffle of ``df``), and exact-count ONLY the
       candidates; the exchange carries <= candidates x partitions
       partial rows. Filter ``n >= min_frac * total``.

    Because step 1 can only over-generate, the result is exactly
    ``GROUP BY value HAVING count(*) >= min_frac * count(*) OVER ()`` —
    the operator is value-checked against that plain SQL oracle
    (heavy_hitters_users). NULLs are never heavy hitters (dropped).

    ``total_rows``: pass the known row count to skip the extra
    ``df.count()`` job (parquet sources resolve it from footers anyway).
    The threshold ``min_frac * total`` is computed driver-side as one
    IEEE double product — identical in any engine.
    """
    if not 0.0 < min_frac <= 1.0:
        raise ValueError("min_frac must be in (0, 1]")
    import math

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([df.schema[value_col]])
    f = float(min_frac)
    slack = float(local_slack)
    cap = max(64, math.ceil(8.0 / f))
    col_name = value_col

    def local_candidates(batches):
        counts = None
        n = 0
        shaved = 0.0  # exact undercount ledger (total uniform decrement)
        for pdf in batches:
            n += len(pdf)
            vc = pdf[col_name].value_counts()  # dropna=True
            counts = vc if counts is None else counts.add(vc, fill_value=0)
            if len(counts) > cap:
                # uniform decrement by the smallest count whose removal
                # fits the cap; every survivor undercounts by <= shaved
                cut = counts.nsmallest(len(counts) - cap).iloc[-1]
                shaved += float(cut)
                counts = counts[counts > cut] - cut
        if counts is None or n == 0:
            return
        keep = counts[counts >= f * n - shaved - slack]
        yield pd.DataFrame({col_name: keep.index})

    cands = df.select(col_name).mapInPandas(local_candidates, out_schema).distinct()
    total = int(total_rows) if total_rows is not None else df.count()
    return (
        df.join(F.broadcast(cands), col_name, "leftsemi")
        .groupBy(col_name)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= F.lit(f * total))
    )


# -- Bloom filter ----------------------------------------------------------------
#
# Membership sketch for distributed semi-join pruning: build a compact
# bitmap over a join/filter key column, broadcast it, and drop
# non-matching rows map-side BEFORE any shuffle — the standard way to
# cut a 100-TB probe-side scan down to the rows that can possibly
# match. False positives only (a set bit can collide); a 0 answer is
# definitive, which is what makes the pruning sound.
#
# Representation: the m-bit array as 64-bit words, only NONZERO words
# materialized — a (word_idx, bits) frame of at most m/64 rows built by
# ONE constant-width groupBy with BIT_OR aggregation. bit_or is
# order-independent in exact integer space, so shard-built filters
# OR-merge exactly and the whole build is DuckDB-mirrorable
# (bit_or + shifts spell the same).
#
# Bit i for probe k: mixp31(base_hash(x), k) mod m (prime-modulus mixer
# — see the count-min comment above for why mix31 would correlate the
# k probes under a power-of-two m).


def bloom_build(
    df: DataFrame,
    value_col: str,
    m_bits: int = 1 << 16,
    k: int = 5,
    hash_fn=None,
) -> DataFrame:
    """Bloom bitmap over ``value_col``: frame of ``(word_idx, bits)``
    (BIGINT word index, BIGINT 64-bit word; absent word == 0). At most
    ``m_bits/64`` rows regardless of input size — broadcastable."""
    if m_bits < 64 or m_bits % 64:
        raise ValueError("m_bits must be a positive multiple of 64")
    if k < 1:
        raise ValueError("k must be >= 1")
    hash_fn = hash_fn or F.xxhash64
    base = hash_fn(F.col(value_col).cast("string"))
    # NULLs are not members: hashing NULL would set k phantom bits and
    # make bloom_might_contain(NULL) a guaranteed false positive
    probes = df.filter(F.col(value_col).isNotNull()).select(
        base.alias("_h"),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_k"),
    )
    bit = F.pmod(mixp31(F.col("_h"), F.col("_k")), F.lit(m_bits))
    return (
        probes.select(
            F.shiftright(bit, 6).alias("word_idx"), _bit_mask(bit).alias("_w")
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_w").alias("bits"))
    )


def bloom_merge(filters_df: DataFrame) -> DataFrame:
    """Union of bloom filters (same m/k/hash) = word-wise OR — shard
    filters merge exactly."""
    return filters_df.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))


def bloom_might_contain(
    bloom: DataFrame,
    items: DataFrame,
    value_col: str,
    m_bits: int,
    k: int = 5,
    hash_fn=None,
) -> DataFrame:
    """Probe the filter for every row of ``items``: output = items'
    columns + ``might_contain`` (boolean; False is DEFINITIVE absence).

    The bloom frame is constant-size, so it is BROADCAST and the probe
    is map-only — pruning a billion-row probe side never shuffles it.
    """
    hash_fn = hash_fn or F.xxhash64
    base = hash_fn(F.col(value_col).cast("string"))
    # _rid: see cms_estimate — duplicate item rows must survive the
    # probe regroup one-to-one
    probes = items.withColumn("_rid", F.monotonically_increasing_id()).select(
        "_rid", F.struct(*items.columns).alias("_item"), base.alias("_h"),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_k"),
    )
    bit = F.pmod(mixp31(F.col("_h"), F.col("_k")), F.lit(m_bits))
    probed = probes.select(
        "_rid", "_item",
        F.shiftright(bit, 6).alias("word_idx"), _bit_mask(bit).alias("_m"),
    ).join(F.broadcast(bloom), ["word_idx"], "left")
    hit = (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("_m")) != 0).cast("int")
    return (
        probed.groupBy("_rid", "_item")
        .agg((F.sum(hit) == k).alias("might_contain"))
        .select("_item.*", "might_contain")
    )
