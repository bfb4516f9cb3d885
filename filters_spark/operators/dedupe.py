"""Deduplication operators for large-scale corpus curation.

All operators are pure DataFrame algebra (no Python UDFs): shingling,
minhashing and banding compile to Catalyst expressions via higher-order
functions, so dedupe runs JVM-side at full codegen speed.

Scale notes:
- exact dedupe: one hash-groupBy shuffle; with AQE the reduce side
  coalesces. At 100 TB use sha2(content) not raw content as the
  grouping key (constant-width shuffle rows).
- minhash-LSH: shingle -> K minhashes -> B bands; candidate pairs come
  from a self-join on (band_id, band_hash) — only colliding docs meet,
  never the O(n²) cross join. Band tables are skew-prone on boilerplate
  docs; the ``max_bucket`` guard drops degenerate buckets (standard
  practice; boilerplate buckets are near-duplicates of everything).
- last-writer-wins: the CDC dedupe — window by key, newest offset wins.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from filters_spark.lake.materialize import materialize


def exact_dupes(df: DataFrame, cols: list[str], id_col: str,
                max_members: int = 100) -> DataFrame:
    """Groups of byte-identical rows: returns (content_key, n_copies,
    keep_id, member_ids) for groups with >1 member.

    ``member_ids`` is CAPPED at the ``max_members`` smallest ids — a
    boilerplate group at corpus scale can have 10^8 members, and an
    unbounded ``collect_list`` would build that as one row. The cap is
    enforced BEFORE aggregation (rank window + conditional collect), so
    the aggregation buffer itself is bounded, not just the output;
    ``n_copies``/``keep_id`` still count every member. The window and
    the groupBy share the same hash partitioning on ``content_key``, so
    this is still a single exchange."""
    key = F.sha2(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]), 256)
    w = Window.partitionBy("content_key").orderBy("_id")
    return (
        df.select(key.alias("content_key"), F.col(id_col).alias("_id"))
        .withColumn("_rn", F.row_number().over(w))
        .groupBy("content_key")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("_id").alias("keep_id"),
            F.sort_array(
                F.collect_list(F.when(F.col("_rn") <= max_members, F.col("_id")))
            ).alias("member_ids"),
        )
        .filter(F.col("n_copies") > 1)
    )


def dedupe_exact(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one representative (min id) per identical content group."""
    key = F.sha2(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]), 256)
    w = Window.partitionBy(key).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def lww_dedupe(df: DataFrame, keys: list[str], order_cols: list[Column]) -> DataFrame:
    """Last-writer-wins: newest row per key by ``order_cols`` desc —
    the CDC replay dedupe primitive."""
    w = Window.partitionBy(*keys).orderBy(*[c.desc() for c in order_cols])
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# --- MinHash + LSH -----------------------------------------------------------


def shingles(text_col: Column, k: int = 5) -> Column:
    """Word k-gram shingle set (array<string>), computed natively:
    split -> sliding windows via transform over an index sequence."""
    toks = F.split(F.lower(text_col), r"\s+")
    n = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
    idx = F.sequence(F.lit(0), n - 1)
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )


def minhash_signature(
    shingle_col: Column, num_hashes: int = 64, seed: int = 1,
    hash_fn=None, base_hash_fn=None,
) -> Column:
    """num_hashes minhash values (array<bigint>) in ONE pass over the
    shingle set: fold with an array of running minima, so the shingle
    expression is evaluated once (not per hash function) — higher-order
    functions are interpreted (no codegen CSE), so expression reuse is
    on us.

    ``hash_fn(shingle, salt) -> Column``: the 64-bit hash family.
    Default xxhash64 (fast, JVM-native).

    ``base_hash_fn(shingle) -> Column``: alternative family — hash each
    shingle ONCE, then derive the per-salt values with the cheap
    ``hashing.mix31`` permutation (O(1) arithmetic per salt instead of
    one full hash per (shingle, salt)). This is the DuckDB-mirrorable
    path (``base_hash_fn=hashing.sha64``) for driver-verified contract
    queries: a naive sha-per-(shingle,salt) injection measured ~7x
    slower than xxhash64; pre-hash + mix31 is within noise of it."""
    max_long = (1 << 63) - 1
    init = F.array_repeat(F.lit(max_long).cast("long"), num_hashes)
    salts = F.sequence(F.lit(seed), F.lit(seed + num_hashes - 1))
    if base_hash_fn is not None:
        from filters_spark.operators.hashing import mix31

        hashes = F.transform(shingle_col, lambda s: base_hash_fn(s))
        return F.aggregate(
            hashes,
            init,
            lambda acc, h: F.zip_with(acc, salts, lambda a, salt: F.least(a, mix31(h, salt))),
        )
    if hash_fn is None:
        hash_fn = F.xxhash64
    return F.aggregate(
        shingle_col,
        init,
        lambda acc, s: F.zip_with(acc, salts, lambda a, salt: F.least(a, hash_fn(s, salt))),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 200,
    seed: int = 1,
    hash_fn=None,
    base_hash_fn=None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs above ``jaccard_threshold``
    (estimated from signature agreement), via banded LSH.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduplicated
    across bands. ``hash_fn``/``base_hash_fn`` are forwarded to
    :func:`minhash_signature` (band buckets hash the signature slice
    with xxhash64 either way — bucket equality is slice equality, so
    the bucket hash choice is invisible in the output).

    ``checkpoint_dir``: fault-tolerant directory for the signature
    materialization barrier (see :mod:`materialize` — default
    localCheckpoint is executor-local and lost on executor failure;
    pass a DFS path for long-running cluster jobs).
    """
    rows_per_band = num_hashes // bands
    # Signature via explode + per-salt MIN aggregates, not the
    # array-fold of minhash_signature: higher-order functions are
    # interpreted (no codegen), and the fold rebuilds a num_hashes-wide
    # array per shingle — num_hashes x shingles interpreted steps per
    # doc. Exploding to (_id, shingle-hash) rows and taking num_hashes
    # codegen'd min() aggregates computes the IDENTICAL values (min
    # and least share null-skipping semantics; shingle arrays are
    # non-empty by construction) entirely inside whole-stage codegen,
    # with map-side partial aggregation collapsing the explosion back
    # to one row per doc before the exchange.
    ex = df.select(
        F.col(id_col).alias("_id"),
        shingles(F.col(text_col), shingle_k).alias("_sh"),
    ).select(
        "_id",
        # NULL text -> NULL shingle array -> NULL signature (the fold's
        # aggregate-over-NULL result), reconstructed via this flag
        F.col("_sh").isNull().alias("_sig_null"),
        F.explode_outer("_sh").alias("_s"),
    )
    if base_hash_fn is not None:
        from filters_spark.operators.hashing import mix31

        ex = ex.withColumn("_h", base_hash_fn(F.col("_s")))
        mins = [
            F.min(mix31(F.col("_h"), F.lit(seed + i))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    else:
        hf = hash_fn or F.xxhash64
        mins = [
            F.min(hf(F.col("_s"), F.lit(seed + i))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    sig = (
        ex.groupBy("_id")
        .agg(F.max("_sig_null").alias("_sig_null"), *mins)
        .select(
            "_id",
            F.when(F.col("_sig_null"), F.lit(None).cast("array<bigint>"))
            .otherwise(F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]))
            .alias("_sig"),
        )
        # materialize signatures ONCE as (_id, num_hashes longs).
        # Without a barrier Catalyst inlines the interpreted
        # shingle->minhash expression into every downstream derivation
        # — this self-join has four (a, b, both bucket-size guards) —
        # and an all-broadcast plan collapses to a single task
        # recomputing signatures 4x (measured: 10min vs 10s at 2k
        # docs). A bare .repartition barrier is NOT enough: column
        # pruning gives the bucket-guard branch a narrower exchange
        # than the join sides, ReuseExchange misses it, and the plan
        # still scans + re-hashes the input twice (verified on the
        # executed plan). The materialize barrier computes the
        # signature job once; every consumer reads the stored rows.
    )
    sig = materialize(sig, checkpoint_dir)
    banded = sig.select(
        "_id",
        "_sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", F.transform(
                            F.slice("_sig", b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ))
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("_id", "_sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # degenerate-bucket guard (boilerplate skew): a window count over
    # (band, bucket) — same filter as the groupBy+semi-join spelling,
    # but ONE scan of banded and one exchange instead of an aggregate
    # branch joined back (the join's second scan + AQE replan measurably
    # slowed the one-shot path)
    gw = Window.partitionBy("band", "bucket")
    banded = (
        banded.withColumn("_bn", F.count(F.lit(1)).over(gw))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )

    a = banded.select(F.col("band"), F.col("bucket"), F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"))
    b = banded.select(F.col("band"), F.col("bucket"), F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"))
    # score + threshold BEFORE the cross-band dedupe so the
    # dropDuplicates exchange shuffles (id_a, id_b, est_jaccard) — 3
    # scalars/row — instead of two full num_hashes-long signatures.
    # est_jaccard is a pure function of the signatures, so it is
    # identical in every band a pair collides in; deduping after
    # scoring changes nothing semantically.
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda e: e))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (agree / F.size("sig_a")).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard"))
    )


# --- SimHash ------------------------------------------------------------------


def simhash(text_col: Column, bits: int = 64, hash_fn=None) -> Column:
    """64-bit SimHash of the token set, fully native: per-bit weighted
    majority over token hashes. Bit i of the result = sign of
    sum_t (+1 if bit i of hash(t) else -1).

    The per-bit loop is unrolled in Python (``bits`` is a compile-time
    constant) because the DataFrame DSL's ``shiftleft`` only takes
    literal shift amounts.

    ``hash_fn(token) -> Column``: the 64-bit token hash. Default
    xxhash64; inject ``operators.hashing.sha64`` for a
    DuckDB-mirrorable simhash (driver-verified contract queries)."""
    if hash_fn is None:
        hash_fn = F.xxhash64
    toks = F.array_distinct(F.split(F.lower(text_col), r"\s+"))
    hashes = F.transform(toks, lambda t: hash_fn(t))
    return _simhash_expr(hashes, bits)


def _simhash_expr(hashes: Column, bits: int) -> Column:
    """Compose the per-bit majority natively with Python-literal shift
    amounts (unrolled; ``bits`` is a compile-time constant)."""
    def vote(mask: int):
        # closure factory: the merge lambda must have exactly 2 params
        # (pyspark dispatches on arity)
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(F.lit(mask).cast("long")) != 0, 1).otherwise(-1),
        )

    out = F.lit(0).cast("long")
    for i in range(bits):
        # signed 64-bit representation (bit 63 = sign bit); the AND test
        # works identically on the two's-complement pattern
        mask = (1 << i) if i < 63 else -(2**63)
        bit = F.lit(mask).cast("long")
        out = out.bitwiseOR(F.when(vote(mask) > 0, bit).otherwise(F.lit(0).cast("long")))
    return out


def simhash_dupes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    hash_col: str | None = None,
    hash_fn=None,
    max_bucket: int = 1000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on bit chunks, then verify
    hamming distance exactly — no cross join.

    Recall guarantee by pigeonhole: a pair within hamming distance h
    must agree on at least one of h+1 disjoint chunks, so the number of
    blocking chunks is DERIVED from ``max_hamming`` (h+1), not fixed.
    More chunks = narrower chunks = more candidates verified; the exact
    hamming filter keeps the output identical for any chunking.

    ``max_bucket``: degenerate-bucket guard — empty/near-empty docs all
    collapse to simhash 0 and boilerplate shares fingerprints, so one
    hot (chunk, val) bucket can make the blocking self-join quadratic
    on it at corpus scale. Buckets larger than ``max_bucket`` are
    dropped BEFORE the join (same guard as ``minhash_lsh_pairs``); the
    cost is recall on pairs whose only agreeing chunk is degenerate —
    the standard LSH trade (boilerplate buckets are near-duplicates of
    everything and are better handled by exact dedupe first).

    ``hash_col``: use a precomputed 64-bit simhash column instead of
    hashing ``text_col`` — at corpus scale the simhash is computed once
    at ingest and stored, so re-runs with different thresholds only pay
    the blocking join. ``hash_fn``: token-hash family forwarded to
    :func:`simhash` (ignored with ``hash_col``). ``checkpoint_dir``:
    see :mod:`materialize`."""
    if not 0 <= max_hamming <= 63:
        raise ValueError("max_hamming must be in [0, 63]")
    n_chunks = max_hamming + 1
    # chunk i covers bits [i*64//n, (i+1)*64//n) — widths differ by at
    # most 1 bit; disjoint and covering => pigeonhole holds.
    bounds = [(i * 64 // n_chunks, (i + 1) * 64 // n_chunks) for i in range(n_chunks)]
    hash_expr = F.col(hash_col) if hash_col else simhash(F.col(text_col), hash_fn=hash_fn)
    # same materialization rationale as minhash_lsh_pairs: the bucket
    # guard + both join sides are three differently-pruned consumers,
    # so the 64-bit-unrolled simhash expression must be computed once
    # per doc behind a hard barrier (a bare repartition lets pruning
    # defeat ReuseExchange on the guard branch)
    sh = materialize(
        df.select(F.col(id_col).alias("_id"), hash_expr.alias("_sh")),
        checkpoint_dir,
    )
    chunks = sh.select(
        "_id", "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned("_sh", lo).bitwiseAND(
                            # width 64 (max_hamming=0): all-ones mask is -1
                            # as a signed long; (1<<64)-1 overflows LongType
                            F.lit(-1 if hi - lo == 64 else (1 << (hi - lo)) - 1).cast("long")
                        ).alias("val"),
                    )
                    for i, (lo, hi) in enumerate(bounds)
                ]
            )
        ).alias("c"),
    ).select("_id", "_sh", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    # degenerate-bucket guard (see docstring): groupBy (map-side partial
    # aggregate, so a pathological all-same-val bucket never lands on
    # one task), then keep only sane buckets
    bucket_sizes = chunks.groupBy("chunk", "val").agg(F.count("*").alias("bn"))
    chunks = chunks.join(
        bucket_sizes.filter(F.col("bn") <= max_bucket).select("chunk", "val"),
        ["chunk", "val"],
    )
    a = chunks.select("chunk", "val", F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = chunks.select("chunk", "val", F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["chunk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- n-gram Jaccard (exact, blocked) -----------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within a blocking key
    (default: first token — cheap prefix blocking). Exact but
    quadratic within blocks: use for verification tiers, not the
    full-corpus sweep."""
    grams = F.array_distinct(shingles(F.col(text_col), n))
    block = F.col(block_col) if block_col else F.element_at(F.split(F.lower(F.col(text_col)), r"\s+"), 1)
    # materialize gram sets once (shared exchange) and pre-distribute
    # by block so the pair join is co-located
    g = df.select(F.col(id_col).alias("_id"), grams.alias("_g"), block.alias("_blk")).repartition("_blk")
    a = g.select(F.col("_blk"), F.col("_id").alias("id_a"), F.col("_g").alias("g_a"))
    b = g.select(F.col("_blk"), F.col("_id").alias("id_b"), F.col("_g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size(F.array_union("g_a", "g_b"))
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- cluster formation (pairs -> components -> keep-one) ----------------------


def dedupe_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                    max_iter: int = 25,
                    checkpoint_dir: str | None = None) -> DataFrame:
    """Fold near-duplicate PAIRS into connected components: returns
    ``(id, cluster_id)`` where ``cluster_id`` is the minimum id in the
    component — the canonical "keep the representative, drop the rest"
    step after any pair generator (minhash/simhash/ngram/embedding).

    Hash-min label propagation: every node repeatedly takes the min
    label among itself and its neighbors; converges in O(component
    diameter) rounds (near-dup clusters are shallow — diameter is
    typically < 5 even for multi-thousand-member boilerplate clusters).
    Each round is one groupBy-min + one join, both keyed on the node id
    — no driver-side graph, no quadratic blow-up; the materialization
    barrier cuts the iterative lineage so plans stay constant-size
    (``checkpoint_dir``: see :mod:`materialize` — a reliable checkpoint
    matters most HERE, since an executor loss late in round k would
    otherwise discard every earlier round). Convergence is an exact
    changed-label count carried through the same update join (works for
    ANY orderable id type — string, long, binary — no numeric
    aggregation over ids)."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = materialize(edges.repartition("src"), checkpoint_dir)

    labels = materialize(
        edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id")),
        checkpoint_dir,
    )
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.select(F.col("id").alias("dst"), F.col("label").alias("dlabel")), "dst")
            .groupBy("src").agg(F.min("dlabel").alias("nmin"))
        )
        updated = (
            labels.join(nbr_min.withColumnRenamed("src", "id"), "id", "left")
            .select(
                "id",
                F.least("label", F.coalesce("nmin", "label")).alias("label"),
                (F.col("nmin") < F.col("label")).alias("_chg"),
            )
        )
        updated = materialize(updated, checkpoint_dir)
        labels = updated.drop("_chg")
        if updated.filter(F.col("_chg")).limit(1).count() == 0:
            converged = True
            break
    if not converged:
        # labels were still moving at max_iter: some component's
        # diameter exceeds the round budget (plausible for long
        # near-dup chains at corpus scale) and the returned clusters
        # would be silently WRONG — keep-representative would keep/drop
        # the wrong rows. Fail loudly; callers with a known-deep graph
        # raise max_iter.
        raise RuntimeError(
            f"dedupe_clusters did not converge in max_iter={max_iter} rounds "
            "(labels still changing) — component diameter exceeds the round "
            "budget; raise max_iter"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedupe_keep_representative(df: DataFrame, pairs: DataFrame, id_col: str,
                               id_a: str = "id_a", id_b: str = "id_b",
                               checkpoint_dir: str | None = None) -> DataFrame:
    """Drop every near-duplicate except the minimum-id representative of
    its cluster: rows never named in a pair pass through untouched
    (broadcast-size anti-join when the dup set is small; plain hash
    join otherwise — Spark's AQE picks)."""
    clusters = dedupe_clusters(pairs, id_a, id_b, checkpoint_dir=checkpoint_dir)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select("id")
    return df.join(losers, df[id_col] == losers["id"], "left_anti")
