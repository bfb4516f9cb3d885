"""Iterative graph algorithms over edge DataFrames.

Corpus curation at web scale is partly a GRAPH problem — domain/page
quality weighting (PageRank over the link graph is the canonical
example, used by the original Google corpus and by modern web-corpus
quality filters) — so the engine needs an iterative fixed-iteration
join-aggregate pattern that stays distributed and whose lineage does
not grow per iteration. The connected-components labeler
(operators/dedupe.py:dedupe_clusters) established that pattern; this
module adds rank propagation.

**Exact integer algebra for cross-engine value checks** (the same trick
as the k-means quantized sums, operators/clustering.py): ranks are
BIGINT at a fixed scale, per-edge contributions use integer division
(``div`` in Spark == ``//`` in DuckDB on positive BIGINTs), and the
damping multiply-then-divide is integer too — so the whole iteration is
partition-order independent and a DuckDB oracle with the iterations
unrolled as CTEs reproduces every rank bit-for-bit. A float PageRank
could not be value-checked this way (sum order would perturb the low
bits).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from filters_spark.lake.materialize import materialize


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = 10**9,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list. Output:
    ``node`` + ``rank_scaled`` (BIGINT; rank × ``scale``).

    Per iteration: each node sends ``rank div outdeg`` along each
    out-edge; a node's next rank is ``base + (damping_pct * inbound
    sum) div 100`` with ``base = ((100 - damping_pct) * scale) div
    100``. Dangling nodes (no out-edges) simply don't redistribute —
    the convention that keeps the algebra integer-exact; ranks are
    comparable WITHIN a run, which is all quality-weighting needs.

    Scale shape: node-keyed frames (ranks, out-degrees) are tiny
    relative to edges; every iteration is one edges⋈ranks shuffle on
    the src key plus one groupBy(dst) — both hash-partitioned on node
    ids, so AQE reuses the layout — and the rank frame is materialized
    per iteration (:func:`materialize`) so the plan stays O(1) deep
    instead of O(iters) (the dedupe_clusters lesson: unbounded
    iterative lineage re-derives everything and eventually breaks
    ReuseExchange).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    base = ((100 - damping_pct) * scale) // 100
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst")))
        .distinct()
    )
    nodes = materialize(nodes, checkpoint_dir)
    # materialized: every iteration's job would otherwise re-scan and
    # re-shuffle the full edge frame just to recount out-degrees
    outdeg = materialize(
        e.groupBy("_src").agg(F.count(F.lit(1)).alias("_od")), checkpoint_dir
    )
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank_scaled"))
    for _ in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "_src"), "_src")
            .join(outdeg, "_src")
            .select(
                F.col("_dst").alias("node"),
                F.expr("rank_scaled div _od").alias("_c"),
            )
        )
        inbound = contrib.groupBy("node").agg(F.sum("_c").alias("_s"))
        # (d*s) div 100 == (s div 100)*d + ((s mod 100)*d) div 100 for
        # positive ints — the decomposed form never multiplies the full
        # sum, so a high-in-degree hub cannot overflow BIGINT (d*s wraps
        # silently past 2^63 at web-graph scale); the oracle spells the
        # identical decomposition
        damp_expr = (
            f"(coalesce(_s, 0L) div 100) * {damping_pct} "
            f"+ ((coalesce(_s, 0L) % 100) * {damping_pct}) div 100"
        )
        ranks = nodes.join(inbound, "node", "left").select(
            "node",
            (F.lit(base) + F.expr(damp_expr)).cast("long").alias("rank_scaled"),
        )
        ranks = materialize(ranks, checkpoint_dir)
    return ranks
