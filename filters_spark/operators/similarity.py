"""Similarity search over embedding columns (array<float>).

Two tiers:
- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  The dot product is native (``F.zip_with`` + ``F.aggregate``), so the
  scan is JVM-side; a broadcast of the (small) query set makes it a
  map-only job. At 100 TB this is the verification tier, not the
  serving path.
- ``lsh_ann_topk``: random-hyperplane LSH — signature via the sign of
  h(i)-salted hash dot products, candidates from bucket equality, exact
  re-rank of candidates only. The scale path: the candidate join is a
  hash join on the signature, never a cross product.
- ``ivf_assign`` / ``ivf_topk``: IVF-style coarse quantization against
  a provided centroid table (broadcast), probing ``nprobe`` cells.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from filters_spark.lake.materialize import materialize


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    df: DataFrame,
    query_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine for each query vector. ``query_df`` must be
    small (it is broadcast): (query_id, embedding)."""
    q = query_df.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    scored = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_vec"))
        .crossJoin(F.broadcast(q))
        .withColumn("cosine", cosine(F.col("_vec"), F.col("_qvec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", "id", F.round("cosine", 4).alias("cosine"), F.col("_rn").alias("rank"))
    )


def rh_signature(
    vec: Column, dim: int, bits: int = 16, seed: int = 7,
    planes: list[list[float]] | None = None,
) -> Column:
    """Random-hyperplane signature: bit i = sign(<v, h_i>) where h_i is
    a deterministic pseudo-random ±1 hyperplane derived from
    xxhash64(i, j, seed) — no stored model, executors recompute the
    planes from the seed (cheap, fully parallel).

    ``planes``: explicit ``bits × dim`` ±1 matrix (e.g.
    ``operators.hashing.sha_planes``) inlined as literals — the
    DuckDB-mirrorable path for driver-verified contract queries (the
    plane never depends on the data, so literal inlining is also the
    cheapest evaluation: zero hash calls per row)."""
    def bit(i: int) -> Column:
        if planes is not None:
            comps = F.zip_with(
                vec,
                F.array(*[F.lit(p) for p in planes[i]]),
                lambda x, p: x * p,
            )
        else:
            comps = F.zip_with(
                vec,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda x, j: x * F.when(F.pmod(F.xxhash64(F.lit(i), j, F.lit(seed)), 2) == 0, 1.0).otherwise(-1.0),
            )
        s = F.aggregate(comps, F.lit(0.0), lambda acc, v: acc + v)
        return F.when(s > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))

    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig.bitwiseOR(bit(i))
    return sig


def lsh_ann_topk(
    df: DataFrame,
    query_df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 10,
    bits: int = 12,
    tables: int = 4,
    seed: int = 7,
    planes_fn=None,
) -> DataFrame:
    """Approximate top-k: ``tables`` independent LSH tables; candidates
    = bucket collisions in any table; exact cosine re-rank of
    candidates. Recall grows with ``tables``, cost stays ~collisions.

    Plan shape (the round-2 per-table union rescanned and re-hashed the
    base side ``tables`` times): ONE projection emits every table's
    signature as an array, ``posexplode`` yields (table, sig) rows, and
    the candidate join is a single broadcast hash join on (table, sig)
    — one scan of the base side, no shuffle of it. The exact re-rank
    cosine is computed map-side BEFORE the cross-table dedupe so the
    dropDuplicates exchange carries (query_id, id, cosine) scalars,
    not two vectors (cosine is a pure pair function — identical in
    every table a pair collides in).

    ``planes_fn(t) -> bits × dim ±1 matrix``: explicit per-table
    hyperplanes (see :func:`rh_signature` ``planes``)."""
    def sig_array(vec: Column) -> Column:
        return F.array(*[
            rh_signature(
                vec, dim, bits, seed + t,
                planes=planes_fn(t) if planes_fn is not None else None,
            )
            for t in range(tables)
        ])

    b = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_vec")).select(
        "id", "_vec", F.posexplode(sig_array(F.col("_vec"))).alias("_table", "_sig")
    )
    qq = query_df.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    ).select(
        "query_id", "_qvec", F.posexplode(sig_array(F.col("_qvec"))).alias("_table", "_sig")
    )
    scored = (
        b.join(F.broadcast(qq), ["_table", "_sig"])
        .select("query_id", "id", cosine(F.col("_vec"), F.col("_qvec")).alias("cosine"))
        .dropDuplicates(["query_id", "id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", "id", F.round("cosine", 4).alias("cosine"), F.col("_rn").alias("rank"))
    )


def lsh_near_pairs(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cosine_threshold: float = 0.9,
    bits: int = 6,
    tables: int = 8,
    seed: int = 7,
    max_bucket: int = 1000,
    planes_fn=None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Embedding near-duplicate PAIRS at corpus scale: the self-join
    analog of :func:`lsh_ann_topk` and the scale path that replaces the
    label-blocked quadratic embedding dedupe — candidates come from
    signature collisions in any of ``tables`` hyperplane tables (hash
    join, never a cross product), then the EXACT cosine verifies each
    candidate, so precision is 1.0 and only recall is approximate
    (tune ``bits`` down / ``tables`` up for tighter recall; defaults
    give ~0.98 expected recall at cosine 0.9).

    Returns (id_a, id_b, cosine) with id_a < id_b. Feed into
    ``dedupe.dedupe_clusters`` / ``dedupe_keep_representative`` exactly
    like the text-based pair generators.

    Plan shape: ONE projection emits all table signatures
    (posexplode), materialized through a narrow exchange keyed on the
    id (the round-2 lesson: expression-heavy frames feeding self-joins
    must be materialized or Catalyst inlines the signature expression
    into every join side); a ``max_bucket`` guard drops degenerate
    buckets (all-zero vectors / boilerplate embeddings); cosine is
    computed map-side before the cross-table dedupe so the exchange
    carries scalars."""
    def sig_array(vec: Column) -> Column:
        return F.array(*[
            rh_signature(
                vec, dim, bits, seed + t,
                planes=planes_fn(t) if planes_fn is not None else None,
            )
            for t in range(tables)
        ])

    # materialize (id, vec, sig array) ONCE: three consumers follow (the
    # bucket guard and both self-join sides), and ReuseExchange cannot
    # cover them — column pruning gives the guard branch a narrower
    # subtree than the join sides, so a lazy plan recomputes every
    # signature per branch (verified on the executed plan). After the
    # checkpoint the signature expression is gone from the plan
    # entirely; consumers re-explode the stored array, which is cheap.
    packed = materialize(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .filter(F.col("_id").isNotNull())
        .select("_id", "_vec", sig_array(F.col("_vec")).alias("_sigs")),
        checkpoint_dir,
    )
    sigs = packed.select(
        "_id", "_vec", F.posexplode("_sigs").alias("_table", "_sig")
    )
    # degenerate-bucket guard: groupBy (NOT a window) so the count has a
    # map-side partial aggregate and a pathological all-same-sig bucket
    # never lands on one task; distinct buckets <= tables * 2^bits, so
    # AQE broadcasts this side at sane bit widths on its own (no hint:
    # at bits ~24 the guard outgrows broadcast and must hash-join)
    bucket_sizes = sigs.groupBy("_table", "_sig").agg(F.count("*").alias("bn"))
    sigs = sigs.join(
        bucket_sizes.filter(F.col("bn") <= max_bucket).select("_table", "_sig"),
        ["_table", "_sig"],
    )
    a = sigs.select("_table", "_sig", F.col("_id").alias("id_a"), F.col("_vec").alias("_va"))
    b = sigs.select("_table", "_sig", F.col("_id").alias("id_b"), F.col("_vec").alias("_vb"))
    return (
        a.join(b, ["_table", "_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("_cos"))
        .filter(F.col("_cos") >= cosine_threshold)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.round("_cos", 4).alias("cosine"))
    )


def _nearest_cells(vec: Column, cents: Column, nprobe: int) -> Column:
    """Top-``nprobe`` cell ids for ``vec`` against a (small, broadcast)
    array<struct<cell,cvec>> of centroids — a pure per-row expression:
    score each centroid, sort by similarity desc, slice. No join, no
    window, no shuffle."""
    scored = F.transform(
        cents,
        lambda c: F.struct((-cosine(vec, c["cvec"])).alias("negd"), c["cell"].alias("cell")),
    )
    return F.slice(F.transform(F.array_sort(scored), lambda s: s["cell"]), 1, nprobe)


def ivf_assign(df: DataFrame, centroids: DataFrame, vec_col: str = "embedding",
               cent_id: str = "cell", cent_vec: str = "centroid") -> DataFrame:
    """Assign each vector to its nearest centroid cell (IVF coarse
    quantization, cosine metric).

    Map-only: the centroid table is collapsed to ONE row holding an
    array<struct<cell,cvec>> and broadcast; the argmax is a per-row
    array expression. No window (the previous version windowed over all
    of df's columns — including the vector — putting the embedding in
    the shuffle key), no shuffle at any size of ``df``."""
    cents = centroids.agg(
        F.collect_list(
            F.struct(F.col(cent_id).alias("cell"), F.col(cent_vec).alias("cvec"))
        ).alias("_cents")
    )
    out = df.crossJoin(F.broadcast(cents))
    best = F.element_at(_nearest_cells(F.col(vec_col), F.col("_cents"), 1), 1)
    return out.withColumn("cell", best).drop("_cents")


def ivf_topk(
    df_assigned: DataFrame,
    centroids: DataFrame,
    query_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 10,
    nprobe: int = 2,
    cent_id: str = "cell",
    cent_vec: str = "centroid",
) -> DataFrame:
    """IVF search: each query probes its ``nprobe`` nearest cells, then
    exact cosine re-ranks ONLY the vectors assigned to those cells.

    ``df_assigned`` must carry a ``cell`` column (from :func:`ivf_assign`
    — at scale it is the table's partition column, so the candidate
    join prunes partitions). The probe side is queries × nprobe rows,
    broadcast; the candidate join is a broadcast hash join on ``cell``."""
    cents = centroids.agg(
        F.collect_list(
            F.struct(F.col(cent_id).alias("cell"), F.col(cent_vec).alias("cvec"))
        ).alias("_cents")
    )
    probes = (
        query_df.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id", "_qvec",
            F.explode(_nearest_cells(F.col("_qvec"), F.col("_cents"), nprobe)).alias("cell"),
        )
    )
    base = df_assigned.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_vec"), "cell"
    )
    scored = base.join(F.broadcast(probes), "cell").withColumn(
        "cosine", cosine(F.col("_vec"), F.col("_qvec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", "id", F.round("cosine", 4).alias("cosine"), F.col("_rn").alias("rank"))
    )
