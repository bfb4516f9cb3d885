"""Query/oracle pairs for the operator families and lake features.

``queries()``/``oracle_sql()``: one entry per operator family
(SURVEY.md §2 + engine layer + corpus-curation operators), each with a
DuckDB-equivalent oracle where SQL-expressible; tests/test_oracle_parity.py
cross-checks every pair on the testdata tables.

Column-name discipline: every computed column is aliased identically in
the Spark query and the oracle SQL (the comparison sorts by column name).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from filters_spark.operators.hashing import mix31_sql, mixp31_sql, sha64_sql, sha_planes
from filters_spark.lake.zorder import zorder_sql
from filters_spark.operators.sketches import hll_numerator


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _tmpdir(prefix: str) -> str:
    """mkdtemp + atexit rmtree. Lake-fixture queries return LAZY
    DataFrames the caller collects after the query function exits, so
    the backing table must outlive the call — but without cleanup every
    pass leaks a dozen multi-MB lake copies into /tmp (the process
    boundary is the only safe reclaim point)."""
    import atexit
    import shutil

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# --- engine layer: CDC primitives over the events stream --------------------


@_q(
    "cdc_lww_merge",
    """
    SELECT user_id, event_type AS last_event_type, event_id AS last_event_id,
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_cdc_lww_merge(spark, sf):
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("event_id").alias("last_event_id"),
            F.col("value").cast("decimal(18,2)").cast("double").alias("last_value"),
        )
    )


@_q(
    "cdc_checkpoint_offsets",
    """
    SELECT user_id % 16 AS bucket, max(event_id) AS watermark,
           count(*) AS rows_applied,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bytes_proxy
    FROM events GROUP BY user_id % 16
    """,
)
def q_cdc_checkpoint_offsets(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy((F.col("user_id") % 16).alias("bucket"))
        .agg(
            F.max("event_id").alias("watermark"),
            F.count("*").alias("rows_applied"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("bytes_proxy"),
        )
    )


@_q(
    "cdc_watermark_filter",
    """
    SELECT event_type, count(*) AS n_new
    FROM events
    WHERE ts > TIMESTAMP '2024-01-15 12:00:00' OR (ts = TIMESTAMP '2024-01-15 12:00:00' AND event_id > 0)
    GROUP BY event_type
    """,
)
def q_cdc_watermark_filter(spark, sf):
    ev = _t(spark, sf, "events")
    wm = F.lit("2024-01-15 12:00:00").cast("timestamp")
    return (
        ev.filter((F.col("ts") > wm) | ((F.col("ts") == wm) & (F.col("event_id") > 0)))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_new"))
    )


@_q(
    "cdc_dead_letter_split",
    """
    SELECT is_valid, count(*) AS n FROM (
      SELECT (event_type IN ('click','view','purchase','signup','error')
              AND value >= 0 AND value <= 200
              AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL) AS is_valid
      FROM events
    ) GROUP BY is_valid
    """,
)
def q_cdc_dead_letter_split(spark, sf):
    ev = _t(spark, sf, "events")
    valid = (
        F.col("event_type").isin("click", "view", "purchase", "signup", "error")
        & (F.col("value") >= 0)
        & (F.col("value") <= 200)
        & F.get_json_object("props", "$.k").try_cast("long").isNotNull()
    )
    return ev.select(valid.alias("is_valid")).groupBy("is_valid").agg(F.count("*").alias("n"))


@_q(
    "cdc_patch_merge",
    """
    WITH wal AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_id % 10 = 0 THEN 'D'
                  WHEN event_id % 10 <= 3 THEN 'I' ELSE 'P' END AS op,
             CASE WHEN event_id % 3 <> 0 THEN event_type END AS attr,
             CASE WHEN event_id % 2 = 0 THEN value END AS amount
      FROM events
    ), e AS (
      SELECT *, SUM(CASE WHEN op IN ('D','I') THEN 1 ELSE 0 END) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
      ) AS epoch FROM wal
    ), f AS (
      SELECT user_id, ts, event_id, op, epoch,
        last_value(CASE WHEN op <> 'D' AND attr IS NOT NULL THEN epoch END IGNORE NULLS)
          OVER w AS e_attr,
        last_value(CASE WHEN op <> 'D' AND attr IS NOT NULL THEN attr END IGNORE NULLS)
          OVER w AS v_attr,
        last_value(CASE WHEN op <> 'D' AND amount IS NOT NULL THEN epoch END IGNORE NULLS)
          OVER w AS e_amount,
        last_value(CASE WHEN op <> 'D' AND amount IS NOT NULL THEN amount END IGNORE NULLS)
          OVER w AS v_amount
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
    ), r AS (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM f
    )
    SELECT user_id, ts, event_id,
           CASE WHEN e_attr = epoch THEN v_attr END AS attr,
           CASE WHEN e_amount = epoch THEN v_amount END AS amount
    FROM r WHERE rn = 1 AND op <> 'D'
    """,
)
def q_cdc_patch_merge(spark, sf):
    """Partial-image (binlog_row_image=minimal) merge — lake/table.py:
    patch_merge. The WAL is synthesized deterministically from events:
    op from event_id mod 10 (D / I / patch), and each payload column
    independently absent on a modular schedule, so patches genuinely
    carry partial images. Final state resolves NULL patch cells from
    the latest full image / prior patches, fenced by delete + insert
    epochs; keys whose last event is a delete vanish. One exchange on
    the key — both resolve windows and the winner pick share the
    user_id hash partitioning."""
    from filters_spark.lake.table import patch_merge

    ev = _t(spark, sf, "events")
    m10 = F.pmod(F.col("event_id"), F.lit(10))
    wal = ev.select(
        "user_id", "ts", "event_id",
        F.when(m10 == 0, "D").when(m10 <= 3, "I").otherwise("P").alias("op"),
        F.when(F.pmod(F.col("event_id"), F.lit(3)) != 0, F.col("event_type")).alias("attr"),
        F.when(F.pmod(F.col("event_id"), F.lit(2)) == 0, F.col("value")).alias("amount"),
    )
    return patch_merge(
        wal, key_cols=["user_id"], payload_cols=["attr", "amount"],
        order_cols=["ts", "event_id"],
    )


_EVO_SPECS_V1 = {
    "repo": {"chain": ["required", "strip"]},
    "path": {"chain": ["required", "strip"]},
    "lang": {"chain": ["strip", "ascii_lower"]},
    "content": {"chain": ["required", "strip"]},
}


@_q(
    "cdc_ref_check_gate",
    """
    WITH allowed AS (
      SELECT 'r' || CAST(n_nationkey AS VARCHAR) AS repo_id
      FROM nation WHERE n_nationkey < 15
    )
    SELECT printf('%012x', o_orderkey) AS "commit",
           o_orderkey AS event_seq,
           'r' || CAST(o_custkey % 25 AS VARCHAR) AS repo,
           'p' || CAST(o_orderkey AS VARCHAR) AS path,
           lower(o_orderstatus) AS lang,
           o_orderpriority AS content
    FROM orders
    WHERE o_orderkey % 17 <> 0
      AND 'r' || CAST(o_custkey % 25 AS VARCHAR) IN (SELECT repo_id FROM allowed)
    """,
)
def q_cdc_ref_check_gate(spark, sf):
    """Referential-integrity gate through the FULL engine (engine/
    cdc.py RefCheck): change events validate per-field as usual AND
    against a broadcast dimension — repos must exist in a registry
    built from the nation table (n_nationkey < 15 of the 25 synth
    repos). Violating non-delete events dead-letter under
    ref_violation:repos; DELETE tombstones are exempt (they remove, a
    carried payload never lands). The oracle respells the gate
    declaratively (WAL filtered to the allowed semi-join); the
    dead-letter side is pinned by explicit raises, so a green hash
    certifies both the applied and the rejected partitions."""
    from filters_spark.engine.cdc import CDCEngine, RefCheck
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec
    from filters_spark.lake.table import LakeTable

    o = _t(spark, sf, "orders")
    n = _t(spark, sf, "nation")
    reg = SpecRegistry(["repo", "path", "lang", "content"])
    reg.register(VersionSpec(1, _EVO_SPECS_V1))
    root = _tmpdir("filters_spark_refq_")
    t = LakeTable.create(spark, os.path.join(root, "lake"), ["repo", "path"], num_buckets=8)
    dim = n.filter(F.col("n_nationkey") < 15).select(
        F.concat(F.lit("r"), F.col("n_nationkey").cast("string")).alias("repo_id")
    )
    eng = CDCEngine(
        spark, t, reg, ref_checks=[RefCheck("repo", dim, "repo_id", name="repos")],
    )
    ev = o.select(
        F.format_string("%012x", F.col("o_orderkey")).alias("commit"),
        F.col("o_orderkey").alias("event_seq"),
        F.when(F.col("o_orderkey") % 17 == 0, "D").otherwise("U").alias("op"),
        F.concat(F.lit("r"), (F.col("o_custkey") % 25).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("o_orderkey").cast("string")).alias("path"),
        F.col("o_orderstatus").alias("lang"),
        F.col("o_orderpriority").alias("content"),
        F.lit(1).alias("schema_version"),
    )
    m = eng.apply_batch(ev)
    want_dead = ev.filter(
        (F.col("op") != "D") & (F.col("repo").substr(2, 10).cast("int") >= 15)
    ).count()
    if m["dead_lettered"] != want_dead or want_dead == 0:
        raise AssertionError(f"gate miscounted: {m['dead_lettered']} != {want_dead}")
    codes = {r.first_code for r in eng.dead_letters().select("first_code").distinct().collect()}
    if codes != {"ref_violation:repos"}:
        raise AssertionError(f"unexpected dead-letter codes: {codes}")
    return t.read().select("commit", "event_seq", "repo", "path", "lang", "content")


@_q(
    "cdc_check_constraint_gate",
    """
    SELECT printf('%012x', o_orderkey) AS "commit",
           o_orderkey AS event_seq,
           'r' || CAST(o_custkey % 25 AS VARCHAR) AS repo,
           'p' || CAST(o_orderkey AS VARCHAR) AS path,
           lower(o_orderstatus) AS lang,
           o_orderpriority AS content
    FROM orders
    WHERE length(o_orderpriority) <= 8 AND o_orderkey % 10 <> 7
    """,
)
def q_cdc_check_constraint_gate(spark, sf):
    """Table-level CHECK constraints through the FULL engine (engine/
    cdc.py CheckConstraint — Delta ADD CONSTRAINT / DLT expectations):
    SQL predicates over the VALIDATED canonical row plus the engine
    passthrough columns, map-side only, dead-lettering definitively-
    FALSE events under check_violation:<name>. Two constraints compose
    here — a payload length cap and a CROSS-FIELD predicate on the
    event identity, the invariant class single-field chains cannot
    express. The oracle is the WAL filtered by the same predicates;
    the dead-letter count is pinned by an explicit raise."""
    from filters_spark.engine.cdc import CDCEngine, CheckConstraint
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec
    from filters_spark.lake.table import LakeTable

    o = _t(spark, sf, "orders")
    reg = SpecRegistry(["repo", "path", "lang", "content"])
    reg.register(VersionSpec(1, _EVO_SPECS_V1))
    root = _tmpdir("filters_spark_ccq_")
    t = LakeTable.create(spark, os.path.join(root, "lake"), ["repo", "path"], num_buckets=8)
    eng = CDCEngine(
        spark, t, reg,
        check_constraints=[
            CheckConstraint("content_cap", "length(content) <= 8"),
            CheckConstraint("seq_shape", "event_seq % 10 <> 7"),
        ],
    )
    ev = o.select(
        F.format_string("%012x", F.col("o_orderkey")).alias("commit"),
        F.col("o_orderkey").alias("event_seq"),
        F.lit("U").alias("op"),
        F.concat(F.lit("r"), (F.col("o_custkey") % 25).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("o_orderkey").cast("string")).alias("path"),
        F.col("o_orderstatus").alias("lang"),
        F.col("o_orderpriority").alias("content"),
        F.lit(1).alias("schema_version"),
    )
    m = eng.apply_batch(ev)
    want_dead = ev.filter(
        (F.length("content") > 8) | (F.col("event_seq") % 10 == 7)
    ).count()
    if m["dead_lettered"] != want_dead or want_dead == 0:
        raise AssertionError(f"gate miscounted: {m['dead_lettered']} != {want_dead}")
    return t.read().select("commit", "event_seq", "repo", "path", "lang", "content")


@_q(
    "cdc_lineage_metrics",
    """
    SELECT CAST(1 AS BIGINT) AS snapshot_id,
           CAST(count(*) FILTER (length(o_orderpriority) <= 8) AS BIGINT)
             AS rows_applied,
           CAST(count(*) FILTER (length(o_orderpriority) > 8) AS BIGINT)
             AS dead_lettered,
           max(CASE WHEN length(o_orderpriority) <= 8
               THEN printf('%012x', o_orderkey) || ':'
                    || lpad(CAST(o_orderkey AS VARCHAR), 20, '0') END)
             AS max_watermark
    FROM orders
    """,
)
def q_cdc_lineage_metrics(spark, sf):
    """The north rule's lineage/metrics rows, VALUE-CHECKED: one batch
    through the full engine (a CHECK constraint plants a deterministic
    dead-letter split), then the per-bucket lineage parquet
    (engine/cdc.py _write_lineage — snapshot_id, bucket, watermark,
    rows_applied, batch_dead_lettered) aggregates per snapshot and
    must equal DuckDB's recount straight from the WAL: applied = rows
    passing the gate, dead = rows failing it, max watermark = the
    highest applied (commit, 20-pad seq) position. Bucket-level detail
    is xxhash-partitioned (no DuckDB twin for the bucket id), so the
    oracle checks the snapshot-level fold — the bucket breakdown is
    pytest-pinned via the engine suites."""
    from filters_spark.engine.cdc import CDCEngine, CheckConstraint
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec
    from filters_spark.lake.table import LakeTable

    o = _t(spark, sf, "orders")
    reg = SpecRegistry(["repo", "path", "lang", "content"])
    reg.register(VersionSpec(1, _EVO_SPECS_V1))
    root = _tmpdir("filters_spark_linq_")
    t = LakeTable.create(spark, os.path.join(root, "lake"), ["repo", "path"], num_buckets=8)
    eng = CDCEngine(
        spark, t, reg,
        check_constraints=[CheckConstraint("content_cap", "length(content) <= 8")],
    )
    ev = o.select(
        F.format_string("%012x", F.col("o_orderkey")).alias("commit"),
        F.col("o_orderkey").alias("event_seq"),
        F.lit("U").alias("op"),
        F.concat(F.lit("r"), (F.col("o_custkey") % 25).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("o_orderkey").cast("string")).alias("path"),
        F.col("o_orderstatus").alias("lang"),
        F.col("o_orderpriority").alias("content"),
        F.lit(1).alias("schema_version"),
    )
    eng.apply_batch(ev)
    return (
        eng.lineage()
        .groupBy("snapshot_id")
        .agg(
            F.sum("rows_applied").alias("rows_applied"),
            # the BATCH dead total repeats on every bucket row of its
            # snapshot — max folds it back, sum would multiply by the
            # touched-bucket count
            F.max("batch_dead_lettered").alias("dead_lettered"),
            F.max("watermark").alias("max_watermark"),
        )
    )


def _lineage_bucket_cases() -> str:
    """Inline repo→bucket CASE for the cdc_lineage_buckets oracle,
    computed DRIVER-SIDE by the pure-Python xxhash64 twin
    (lake/xxh.py bucket_of, bit-equality with Spark's bucket_expr
    pinned in tests/test_xxh_twin.py). With path_salt=1 the path salt
    collapses to 0, so the bucket is a function of the repo alone and
    the 25-repo domain inlines as a constant CASE — giving DuckDB the
    bucket id WITHOUT an xxhash64 implementation."""
    from filters_spark.lake.xxh import bucket_of

    whens = " ".join(
        f"WHEN 'r{i}' THEN {bucket_of(f'r{i}', '', 8, path_salt=1)}"
        for i in range(25)
    )
    return f"CASE repo {whens} END"


@_q(
    "cdc_lineage_buckets",
    f"""
    WITH ev AS (
      SELECT printf('%012x', o_orderkey) AS "commit",
             o_orderkey AS event_seq,
             'r' || CAST(o_custkey % 25 AS VARCHAR) AS repo,
             o_orderpriority AS content
      FROM orders
    ),
    applied AS (
      SELECT {_lineage_bucket_cases()} AS bucket, "commit", event_seq
      FROM ev WHERE length(content) <= 8
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS rows_applied,
           max("commit" || ':' || lpad(CAST(event_seq AS VARCHAR), 20, '0'))
             AS watermark
    FROM applied GROUP BY bucket
    """,
)
def q_cdc_lineage_buckets(spark, sf):
    """BUCKET-level lineage, value-checked: the
    same engine run as cdc_lineage_metrics but the per-(snapshot,
    bucket) lineage parquet rows themselves are the result — bucket
    id, rows applied into that bucket, and the bucket's high
    watermark. The oracle recomputes all three from the WAL in DuckDB,
    with bucket ids supplied by the driver-side xxh64 twin inlined as
    a constant repo→bucket CASE (path_salt=1 makes the bucket a pure
    function of repo). Upgrades the lineage evidence from the
    snapshot-level fold to the per-bucket breakdown."""
    from filters_spark.engine.cdc import CDCEngine, CheckConstraint
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec
    from filters_spark.lake.table import LakeTable

    o = _t(spark, sf, "orders")
    reg = SpecRegistry(["repo", "path", "lang", "content"])
    reg.register(VersionSpec(1, _EVO_SPECS_V1))
    root = _tmpdir("filters_spark_linb_")
    t = LakeTable.create(
        spark, os.path.join(root, "lake"), ["repo", "path"],
        num_buckets=8, path_salt=1,
    )
    eng = CDCEngine(
        spark, t, reg,
        check_constraints=[CheckConstraint("content_cap", "length(content) <= 8")],
    )
    ev = o.select(
        F.format_string("%012x", F.col("o_orderkey")).alias("commit"),
        F.col("o_orderkey").alias("event_seq"),
        F.lit("U").alias("op"),
        F.concat(F.lit("r"), (F.col("o_custkey") % 25).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("o_orderkey").cast("string")).alias("path"),
        F.col("o_orderstatus").alias("lang"),
        F.col("o_orderpriority").alias("content"),
        F.lit(1).alias("schema_version"),
    )
    eng.apply_batch(ev)
    return eng.lineage().select("bucket", "rows_applied", "watermark")


@_q(
    "cdc_schema_evolution",
    """
    WITH ev AS (
      SELECT printf('%012x', o_orderkey) AS "commit",
             o_orderkey AS event_seq, 'U' AS op,
             'r' || CAST(o_custkey % 25 AS VARCHAR) AS repo,
             'p' || CAST(o_orderkey AS VARCHAR) AS path,
             lower(o_orderstatus) AS lang,
             'v1:' || o_orderpriority AS content,
             CAST(NULL AS VARCHAR) AS license
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT printf('%012x', o_orderkey + 1073741824),
             o_orderkey, 'U',
             'r' || CAST(o_custkey % 25 AS VARCHAR),
             'p' || CAST(o_orderkey AS VARCHAR),
             lower(o_orderstatus),
             'v2:' || o_orderpriority,
             CASE o_orderkey % 3 WHEN 0 THEN 'mit' WHEN 1 THEN 'apache-2.0'
                  ELSE 'bsd-3-clause' END
      FROM orders WHERE o_orderkey % 2 = 1
      UNION ALL
      SELECT printf('%012x', o_orderkey + 2147483648),
             o_orderkey + 4000000, 'D',
             'r' || CAST(o_custkey % 25 AS VARCHAR),
             'p' || CAST(o_orderkey AS VARCHAR),
             'py', 'del', 'mit'
      FROM orders WHERE o_orderkey % 8 = 2
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY repo, path ORDER BY "commit" DESC, event_seq DESC
      ) AS rn FROM ev
    )
    SELECT repo, path, "commit", event_seq, lang, content, license,
           sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def q_cdc_schema_evolution(spark, sf):
    """Mid-stream schema evolution through the FULL engine (engine/
    evolution.py SpecRegistry/VersionSpec + engine/cdc.py apply_batch):
    batch 1 arrives under v1; the registry then widens — v2 RENAMES the
    incoming column ``language`` to canonical ``lang`` and ADDS a new
    canonical column ``license`` — and batch 2 (updates + deletes)
    arrives under v2. The validation chains here (strip/ascii_lower)
    are deliberately SQL-mirrorable, so the oracle respells the whole
    lifecycle declaratively: rename applied, pre-widening rows read
    ``license`` as NULL, tombstones drop, LWW on (commit, event_seq).
    A green hash value-checks the engine's evolution semantics
    end-to-end, not just the final merge."""
    from filters_spark.engine.cdc import CDCEngine
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec
    from filters_spark.lake.table import LakeTable

    o = _t(spark, sf, "orders")
    reg = SpecRegistry(["repo", "path", "lang", "content"])
    reg.register(VersionSpec(1, _EVO_SPECS_V1))
    root = _tmpdir("filters_spark_evoq_")
    t = LakeTable.create(spark, os.path.join(root, "lake"), ["repo", "path"], num_buckets=8)
    eng = CDCEngine(spark, t, reg)

    repo = F.concat(F.lit("r"), (F.col("o_custkey") % 25).cast("string"))
    path = F.concat(F.lit("p"), F.col("o_orderkey").cast("string"))
    ev1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.format_string("%012x", F.col("o_orderkey")).alias("commit"),
        F.col("o_orderkey").alias("event_seq"),
        F.lit("U").alias("op"),
        repo.alias("repo"), path.alias("path"),
        F.col("o_orderstatus").alias("lang"),
        F.concat(F.lit("  v1:"), F.col("o_orderpriority"), F.lit(" ")).alias("content"),
        F.lit(1).alias("schema_version"),
    )
    m1 = eng.apply_batch(ev1)

    # WIDEN mid-stream: v2 renames incoming 'language' -> lang, adds 'license'
    reg.register(VersionSpec(
        2, {**_EVO_SPECS_V1, "license": {"chain": ["strip", "ascii_lower"]}},
        renames={"language": "lang"},
    ))
    lic = (
        F.when(F.col("o_orderkey") % 3 == 0, "  MIT ")
        .when(F.col("o_orderkey") % 3 == 1, "Apache-2.0")
        .otherwise("BSD-3-Clause")
    )
    upd = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.format_string("%012x", F.col("o_orderkey") + F.lit(1073741824)).alias("commit"),
        F.col("o_orderkey").alias("event_seq"),
        F.lit("U").alias("op"),
        repo.alias("repo"), path.alias("path"),
        F.col("o_orderstatus").alias("language"),
        F.concat(F.lit("v2:"), F.col("o_orderpriority")).alias("content"),
        lic.alias("license"),
        F.lit(2).alias("schema_version"),
    )
    dels = o.filter(F.col("o_orderkey") % 8 == 2).select(
        F.format_string("%012x", F.col("o_orderkey") + F.lit(2147483648)).alias("commit"),
        (F.col("o_orderkey") + F.lit(4000000)).alias("event_seq"),
        F.lit("D").alias("op"),
        repo.alias("repo"), path.alias("path"),
        F.lit("py").alias("language"),
        F.lit("del").alias("content"),
        F.lit("mit").alias("license"),
        F.lit(2).alias("schema_version"),
    )
    m2 = eng.apply_batch(upd.unionByName(dels))
    if m1["dead_lettered"] or m2["dead_lettered"]:
        raise AssertionError("evolution stream must validate clean")
    return t.read().select(
        "repo", "path", "commit", "event_seq", "lang", "content",
        "license", "content_sha",
    )


@_q(
    "cdc_bootstrap_switchover",
    """
    WITH ev AS (
      SELECT printf('%012x', o_orderkey) AS "commit",
             o_orderkey AS event_seq,
             CASE WHEN o_orderkey % 9 = 4 THEN 'D' ELSE 'U' END AS op,
             'r' || CAST(o_custkey % 20 AS VARCHAR) AS repo,
             'p' || CAST(o_orderkey % 1500 AS VARCHAR) AS path,
             lower(o_orderstatus) AS lang,
             'c' || CAST(o_orderkey AS VARCHAR) || ':' || o_orderpriority AS content
      FROM orders
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY repo, path ORDER BY "commit" DESC, event_seq DESC
      ) AS rn FROM ev
    )
    SELECT repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def q_cdc_bootstrap_switchover(spark, sf):
    """Snapshot-bootstrap + binlog switchover through the FULL engine
    (engine/cdc.py CDCEngine.bootstrap + replay): a fuzzy source
    snapshot taken at position S=40000 seeds an empty table; the tail
    then replays from the LOW watermark L=30000 — so the overlap window
    (30000, 40000] is delivered BOTH ways (already in the snapshot AND
    re-sent by the tail) and must reconcile via per-row LWW, not the
    watermark gate (bootstrap resets every bucket's watermark to L).
    The oracle is deliberately blind to the handoff: a plain LWW over
    the WHOLE stream — a green hash proves bootstrap + switchover is
    observationally equivalent to a from-zero replay, the exactly-once
    contract a production initial-load must meet (Debezium
    "snapshot then stream"; DBLog's chunk-watermark interleave)."""
    from filters_spark.engine.cdc import CDCEngine
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec
    from filters_spark.lake.table import LakeTable, watermark_str

    o = _t(spark, sf, "orders")
    reg = SpecRegistry(["repo", "path", "lang", "content"])
    reg.register(VersionSpec(1, _EVO_SPECS_V1))
    root = _tmpdir("filters_spark_bootq_")
    t = LakeTable.create(spark, os.path.join(root, "lake"), ["repo", "path"], num_buckets=8)
    eng = CDCEngine(spark, t, reg)

    ev = o.select(
        F.format_string("%012x", F.col("o_orderkey")).alias("commit"),
        F.col("o_orderkey").alias("event_seq"),
        F.when(F.col("o_orderkey") % 9 == 4, "D").otherwise("U").alias("op"),
        F.concat(F.lit("r"), (F.col("o_custkey") % 20).cast("string")).alias("repo"),
        F.concat(F.lit("p"), (F.col("o_orderkey") % 1500).cast("string")).alias("path"),
        F.col("o_orderstatus").alias("lang"),  # raw UPPER; chain lowers
        F.concat(  # raw padded; chain strips
            F.lit("  c"), F.col("o_orderkey").cast("string"), F.lit(":"),
            F.col("o_orderpriority"), F.lit(" "),
        ).alias("content"),
        F.lit(1).alias("schema_version"),
    )
    # the source's state at S: per key the last change at/below S, raw
    # payload, row carrying its last-writer (commit, event_seq)
    w = Window.partitionBy("repo", "path").orderBy(F.col("_swm").desc())
    snap_rows = (
        ev.filter(F.col("event_seq") <= 40000)
        .withColumn("_swm", watermark_str(F.col("commit"), F.col("event_seq")))
        .withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") != "D"))
        .drop("_rn", "_swm", "op")
    )
    m = eng.bootstrap(snap_rows, replay_from=(f"{30000:012x}", 30000))
    if m["dead_lettered"]:
        raise AssertionError("bootstrap snapshot must validate clean")
    eng.replay(ev.filter(F.col("event_seq") > 30000), num_batches=2)
    return t.read().select(
        "repo", "path", "commit", "event_seq", "lang", "content", "content_sha"
    )


# Shared Spark-SQL == DuckDB-SQL fragments that synthesize a
# deterministic Debezium JSON feed from the orders table (both engines
# build byte-identical envelopes; each then parses with its OWN json
# machinery, so a green hash value-checks from_json envelope decoding
# plus the binlog ordering derivation end-to-end).
_DBZ_ROW_EXPRS = [
    "'repo-' || lpad(CAST(o_custkey % 50 AS STRING), 5, '0') AS repo",
    "'orders/' || CAST(o_orderkey AS STRING) || '.json' AS path",
    "'status=' || o_orderstatus || ';priority=' || o_orderpriority AS content",
    "CASE o_orderkey % 7 WHEN 0 THEN 'd' WHEN 1 THEN 'r' WHEN 2 THEN 'c' "
    "ELSE 'u' END AS dop",
    "o_orderkey % 4 + 1 AS fileno",
    "o_orderkey AS pos",
    "o_orderkey % 3 AS rw",
]
_DBZ_IMAGE_SQL = (
    """'{"repo":"' || repo || '","path":"' || path """
    """|| '","lang":"json","content":"' || content || '"}'"""
)
_DBZ_VALUE_SQL = f"""
    '{{"before":' || CASE WHEN dop = 'd' THEN {_DBZ_IMAGE_SQL} ELSE 'null' END
    || ',"after":' || CASE WHEN dop = 'd' THEN 'null' ELSE {_DBZ_IMAGE_SQL} END
    || ',"source":{{"file":"mysql-bin.' || lpad(CAST(fileno AS STRING), 6, '0')
    || '","pos":' || CAST(pos AS STRING) || ',"row":' || CAST(rw AS STRING)
    || '}},"op":"' || dop || '"}}'
"""


@_q(
    "cdc_debezium_parse",
    f"""
    WITH r AS (SELECT {", ".join(_DBZ_ROW_EXPRS)} FROM orders),
    v AS (SELECT {_DBZ_VALUE_SQL} AS value FROM r),
    p AS (
      SELECT value,
             json_extract_string(value, '$.op') AS dop,
             json_extract_string(value, '$.source.file') AS file,
             CAST(json_extract_string(value, '$.source.pos') AS BIGINT) AS pos,
             CAST(json_extract_string(value, '$.source.row') AS BIGINT) AS rw
      FROM v
    )
    SELECT
      printf('%012x', CAST(regexp_extract(file, '(\\d+)$', 1) AS BIGINT)) AS "commit",
      pos * 65536 + rw AS event_seq,
      CASE dop WHEN 'u' THEN 'U' WHEN 'd' THEN 'D' ELSE 'I' END AS op,
      CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.repo')
           ELSE json_extract_string(value, '$.after.repo') END AS repo,
      CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.path')
           ELSE json_extract_string(value, '$.after.path') END AS path,
      CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.lang')
           ELSE json_extract_string(value, '$.after.lang') END AS lang,
      CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.content')
           ELSE json_extract_string(value, '$.after.content') END AS content,
      CAST(1 AS INTEGER) AS schema_version
    FROM p
    """,
)
def q_cdc_debezium_parse(spark, sf):
    """Debezium envelope decode (sources/debezium.py parse_debezium):
    the production binlog-tail input shape — both engines synthesize
    the same JSON feed from orders; Spark decodes it with the adapter's
    native from_json path (map-only, zero shuffle — pinned in
    tests/test_debezium.py), DuckDB with json_extract_string."""
    from filters_spark.sources.debezium import parse_debezium

    envelopes = (
        _t(spark, sf, "orders")
        .selectExpr(*_DBZ_ROW_EXPRS)
        .selectExpr(f"{_DBZ_VALUE_SQL} AS value")
    )
    return parse_debezium(envelopes, ["repo", "path", "lang", "content"])


# A SERVER-level feed: the same envelope synthesis, but each event is
# tagged with its source table (repos / users / extra — 'extra' stays
# deliberately unrouted) and keys repeat across events so the per-table
# LWW fold is non-trivial.
_DBZ_FAN_ROW_EXPRS = [
    "'repo-' || lpad(CAST(o_custkey % 40 AS STRING), 4, '0') AS repo",
    "'f/' || CAST(o_orderkey % 500 AS STRING) || '.py' AS path",
    "'status=' || o_orderstatus || ';prio=' || o_orderpriority AS content",
    "CASE o_orderkey % 7 WHEN 0 THEN 'd' WHEN 1 THEN 'r' WHEN 2 THEN 'c' "
    "ELSE 'u' END AS dop",
    "o_orderkey % 4 + 1 AS fileno",
    "o_orderkey AS pos",
    "o_orderkey % 3 AS rw",
    "CASE o_orderkey % 5 WHEN 4 THEN 'extra' WHEN 2 THEN 'users' "
    "ELSE 'repos' END AS tbl",
]
_DBZ_FAN_VALUE_SQL = f"""
    '{{"before":' || CASE WHEN dop = 'd' THEN {_DBZ_IMAGE_SQL} ELSE 'null' END
    || ',"after":' || CASE WHEN dop = 'd' THEN 'null' ELSE {_DBZ_IMAGE_SQL} END
    || ',"source":{{"db":"d","table":"' || tbl
    || '","file":"mysql-bin.' || lpad(CAST(fileno AS STRING), 6, '0')
    || '","pos":' || CAST(pos AS STRING) || ',"row":' || CAST(rw AS STRING)
    || '}},"op":"' || dop || '"}}'
"""


@_q(
    "cdc_fanout_routes",
    f"""
    WITH r AS (SELECT {", ".join(_DBZ_FAN_ROW_EXPRS)} FROM orders),
    v AS (SELECT tbl, {_DBZ_FAN_VALUE_SQL} AS value FROM r),
    p AS (
      SELECT value,
             json_extract_string(value, '$.source.table') AS route_table,
             json_extract_string(value, '$.op') AS dop,
             json_extract_string(value, '$.source.file') AS file,
             CAST(json_extract_string(value, '$.source.pos') AS BIGINT) AS pos,
             CAST(json_extract_string(value, '$.source.row') AS BIGINT) AS rw
      FROM v WHERE tbl IN ('repos', 'users')
    ),
    ev AS (
      SELECT route_table,
        printf('%012x', CAST(regexp_extract(file, '(\\d+)$', 1) AS BIGINT)) AS "commit",
        pos * 65536 + rw AS event_seq,
        CASE dop WHEN 'u' THEN 'U' WHEN 'd' THEN 'D' ELSE 'I' END AS op,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.repo')
             ELSE json_extract_string(value, '$.after.repo') END AS repo,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.path')
             ELSE json_extract_string(value, '$.after.path') END AS path,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.lang')
             ELSE json_extract_string(value, '$.after.lang') END AS lang,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.content')
             ELSE json_extract_string(value, '$.after.content') END AS content
      FROM p
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY route_table, repo, path
        ORDER BY "commit" DESC, event_seq DESC
      ) AS rn FROM ev
    )
    SELECT route_table, repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def q_cdc_fanout_routes(spark, sf):
    """Multi-table CDC fan-out (engine/fanout.py): ONE mixed server-level
    Debezium feed (three source tables interleaved) decoded in a single
    parse pass and routed to two independent engines, the third table
    left unrouted (counted, not applied). The returned frame is the
    union of both LAKE TABLES' final states tagged with the route — so
    a green hash value-checks routing, per-table engine apply and the
    per-table LWW fold end-to-end against DuckDB's respelling of the
    whole lifecycle (route filter -> ordering derivation -> tombstone
    drop -> windowed fold)."""
    from filters_spark.engine import CDCEngine, TableRoute, fan_out_debezium
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec
    from filters_spark.lake.table import LakeTable

    envelopes = (
        _t(spark, sf, "orders")
        .selectExpr(*_DBZ_FAN_ROW_EXPRS)
        .selectExpr(f"{_DBZ_FAN_VALUE_SQL} AS value")
    )
    root = _tmpdir("filters_spark_fanq_")

    def mk(name):
        reg = SpecRegistry(["repo", "path", "lang", "content"])
        reg.register(VersionSpec(1, _EVO_SPECS_V1))
        t = LakeTable.create(spark, os.path.join(root, name), ["repo", "path"], num_buckets=8)
        return CDCEngine(spark, t, reg), t

    eng_r, t_r = mk("repos")
    eng_u, t_u = mk("users")
    report = fan_out_debezium(
        envelopes, [TableRoute("repos", eng_r), TableRoute("users", eng_u)]
    )
    if set(report["unrouted"]) != {"d.extra"}:
        raise AssertionError(f"expected only d.extra unrouted: {report['unrouted']}")
    if any(m["dead_lettered"] for m in report["tables"].values()):
        raise AssertionError("fan-out feed must validate clean")
    cols = ["repo", "path", "commit", "event_seq", "lang", "content", "content_sha"]
    return (
        t_r.read().select(F.lit("repos").alias("route_table"), *cols)
        .unionByName(t_u.read().select(F.lit("users").alias("route_table"), *cols))
    )


@_q(
    "stream_fanout_replay",
    f"""
    WITH r AS (SELECT {", ".join(_DBZ_FAN_ROW_EXPRS)} FROM orders),
    v AS (SELECT tbl, {_DBZ_FAN_VALUE_SQL} AS value FROM r),
    p AS (
      SELECT value,
             json_extract_string(value, '$.source.table') AS route_table,
             json_extract_string(value, '$.op') AS dop,
             json_extract_string(value, '$.source.file') AS file,
             CAST(json_extract_string(value, '$.source.pos') AS BIGINT) AS pos,
             CAST(json_extract_string(value, '$.source.row') AS BIGINT) AS rw
      FROM v WHERE tbl IN ('repos', 'users')
    ),
    ev AS (
      SELECT route_table,
        printf('%012x', CAST(regexp_extract(file, '(\\d+)$', 1) AS BIGINT)) AS "commit",
        pos * 65536 + rw AS event_seq,
        CASE dop WHEN 'u' THEN 'U' WHEN 'd' THEN 'D' ELSE 'I' END AS op,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.repo')
             ELSE json_extract_string(value, '$.after.repo') END AS repo,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.path')
             ELSE json_extract_string(value, '$.after.path') END AS path,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.lang')
             ELSE json_extract_string(value, '$.after.lang') END AS lang,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.content')
             ELSE json_extract_string(value, '$.after.content') END AS content
      FROM p
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY route_table, repo, path
        ORDER BY "commit" DESC, event_seq DESC
      ) AS rn FROM ev
    )
    SELECT route_table, repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def q_stream_fanout_replay(spark, sf):
    """The multi-table fan-out under Structured Streaming
    (engine/fanout.py start_fanout_stream): the SAME mixed server-level
    feed as cdc_fanout_routes, but delivered as JSON-line WAL segments
    tailed by readStream.text — segment 1 (binlog files 1-2) drains in
    one availableNow run; segment 2 (files 3-4) then arrives TOGETHER
    WITH A REDELIVERED copy of segment 1, and a second run over the
    same offset checkpoint drains both. Each micro-batch fans out
    through one parse pass to two independent engines ('extra' stays
    unrouted); per TABLE, the watermark dedupe drops the replayed
    prefix independently. Both final tables must hash-match the batch
    fan-out's fold — the streaming delivery and the redelivery leave
    no trace."""
    from filters_spark.engine import CDCEngine, TableRoute
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec
    from filters_spark.engine.fanout import start_fanout_stream
    from filters_spark.lake.table import LakeTable

    rows = _t(spark, sf, "orders").selectExpr(*_DBZ_FAN_ROW_EXPRS)
    env = rows.selectExpr(f"{_DBZ_FAN_VALUE_SQL} AS value", "fileno")
    root = _tmpdir("filters_spark_sfanq_")

    def mk(name):
        reg = SpecRegistry(["repo", "path", "lang", "content"])
        reg.register(VersionSpec(1, _EVO_SPECS_V1))
        t = LakeTable.create(
            spark, os.path.join(root, name), ["repo", "path"], num_buckets=8
        )
        return CDCEngine(spark, t, reg), t

    eng_r, t_r = mk("repos")
    eng_u, t_u = mk("users")
    routes = [TableRoute("repos", eng_r), TableRoute("users", eng_u)]
    wal = os.path.join(root, "wal")
    os.makedirs(wal)
    ckpt = os.path.join(root, "ckpt")
    seg1 = env.filter(F.col("fileno") <= 2).select("value")
    seg2 = env.filter(F.col("fileno") > 2).select("value")
    seg1.coalesce(1).write.text(os.path.join(wal, "seg1"))

    def drain():
        q = start_fanout_stream(
            routes, spark.readStream.text(wal + "/*/"), ckpt, trigger_once=True
        )
        if not q.awaitTermination(300):
            raise RuntimeError("stream_fanout_replay: drain timed out")

    drain()
    seg1.coalesce(1).write.text(os.path.join(wal, "seg1_redelivered"))
    seg2.coalesce(1).write.text(os.path.join(wal, "seg2"))
    drain()
    cols = ["repo", "path", "commit", "event_seq", "lang", "content", "content_sha"]
    return (
        t_r.read().select(F.lit("repos").alias("route_table"), *cols)
        .unionByName(t_u.read().select(F.lit("users").alias("route_table"), *cols))
    )


@_q(
    "cdc_fanout_consistent_cut",
    f"""
    WITH r AS (SELECT {", ".join(_DBZ_FAN_ROW_EXPRS)} FROM orders),
    v AS (SELECT tbl, fileno, {_DBZ_FAN_VALUE_SQL} AS value FROM r),
    p AS (
      SELECT value,
             json_extract_string(value, '$.op') AS dop,
             json_extract_string(value, '$.source.file') AS file,
             CAST(json_extract_string(value, '$.source.pos') AS BIGINT) AS pos,
             CAST(json_extract_string(value, '$.source.row') AS BIGINT) AS rw,
             tbl AS route_table
      FROM v WHERE tbl IN ('repos', 'users') AND fileno <= 2
    ),
    ev AS (
      SELECT route_table,
        printf('%012x', CAST(regexp_extract(file, '(\\d+)$', 1) AS BIGINT)) AS "commit",
        pos * 65536 + rw AS event_seq,
        CASE dop WHEN 'u' THEN 'U' WHEN 'd' THEN 'D' ELSE 'I' END AS op,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.repo')
             ELSE json_extract_string(value, '$.after.repo') END AS repo,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.path')
             ELSE json_extract_string(value, '$.after.path') END AS path,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.lang')
             ELSE json_extract_string(value, '$.after.lang') END AS lang,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.content')
             ELSE json_extract_string(value, '$.after.content') END AS content
      FROM p
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY route_table, repo, path
        ORDER BY "commit" DESC, event_seq DESC
      ) AS rn FROM ev
    )
    SELECT route_table, repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def q_cdc_fanout_consistent_cut(spark, sf):
    """Cross-table consistent cut (engine/fanout.py consistent_cut):
    the mixed feed splits into two ascending commit ranges; both tables
    apply batch 1, then a simulated crash lands batch 2 on 'repos'
    ONLY — the topology is torn. consistent_cut pins the last feed
    position both tables hold (batch 1's), and the returned frame reads
    BOTH tables time-traveled to their cut snapshots — for 'repos' that
    is strictly behind its head, so a green hash proves the ledger
    picked the right snapshot and the travel read excludes the torn
    batch. Oracle = per-table LWW fold over commits <= the cut."""
    from filters_spark.engine import (
        CDCEngine, TableRoute, consistent_cut, fan_out_debezium,
    )
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec
    from filters_spark.lake.table import LakeTable

    rows = _t(spark, sf, "orders").selectExpr(*_DBZ_FAN_ROW_EXPRS)
    env1 = rows.filter("fileno <= 2").selectExpr(f"{_DBZ_FAN_VALUE_SQL} AS value")
    env2 = rows.filter("fileno >= 3").selectExpr(f"{_DBZ_FAN_VALUE_SQL} AS value")
    root = _tmpdir("filters_spark_cutq_")

    def mk(name):
        reg = SpecRegistry(["repo", "path", "lang", "content"])
        reg.register(VersionSpec(1, _EVO_SPECS_V1))
        t = LakeTable.create(spark, os.path.join(root, name), ["repo", "path"], num_buckets=8)
        return CDCEngine(spark, t, reg), t

    eng_r, t_r = mk("repos")
    eng_u, t_u = mk("users")
    routes = [TableRoute("repos", eng_r), TableRoute("users", eng_u)]
    fan_out_debezium(env1, routes, unrouted="ignore")
    fan_out_debezium(env2, [routes[0]], unrouted="ignore")  # torn: users missing
    cut = consistent_cut({"repos": t_r, "users": t_u})
    if cut["snapshots"]["repos"] == t_r.current_snapshot_id():
        raise AssertionError("cut must be strictly behind the torn table's head")
    cols = ["repo", "path", "commit", "event_seq", "lang", "content", "content_sha"]
    return (
        t_r.read(snapshot_id=cut["snapshots"]["repos"])
        .select(F.lit("repos").alias("route_table"), *cols)
        .unionByName(
            t_u.read(snapshot_id=cut["snapshots"]["users"])
            .select(F.lit("users").alias("route_table"), *cols)
        )
    )


@_q(
    "cdc_txn_fanout_recovery",
    f"""
    WITH r AS (SELECT {", ".join(_DBZ_FAN_ROW_EXPRS)} FROM orders),
    v AS (SELECT tbl, {_DBZ_FAN_VALUE_SQL} AS value FROM r),
    p AS (
      SELECT value,
             json_extract_string(value, '$.source.table') AS route_table,
             json_extract_string(value, '$.op') AS dop,
             json_extract_string(value, '$.source.file') AS file,
             CAST(json_extract_string(value, '$.source.pos') AS BIGINT) AS pos,
             CAST(json_extract_string(value, '$.source.row') AS BIGINT) AS rw
      FROM v WHERE tbl IN ('repos', 'users')
    ),
    ev AS (
      SELECT route_table,
        printf('%012x', CAST(regexp_extract(file, '(\\d+)$', 1) AS BIGINT)) AS "commit",
        pos * 65536 + rw AS event_seq,
        CASE dop WHEN 'u' THEN 'U' WHEN 'd' THEN 'D' ELSE 'I' END AS op,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.repo')
             ELSE json_extract_string(value, '$.after.repo') END AS repo,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.path')
             ELSE json_extract_string(value, '$.after.path') END AS path,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.lang')
             ELSE json_extract_string(value, '$.after.lang') END AS lang,
        CASE WHEN dop = 'd' THEN json_extract_string(value, '$.before.content')
             ELSE json_extract_string(value, '$.after.content') END AS content
      FROM p
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY route_table, repo, path
        ORDER BY "commit" DESC, event_seq DESC
      ) AS rn FROM ev
    )
    SELECT route_table, repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def q_cdc_txn_fanout_recovery(spark, sf):
    """Atomic multi-table fan-out + crash recovery (engine/txn.py):
    the mixed feed splits into two ascending commit ranges. Batch 1
    commits atomically (stage both tables -> durable decision ->
    publish both). Batch 2 CRASHES mid-publish — 'repos' published,
    'users' still staged, decision record durable — and recover_fanout
    rolls it forward. The returned frame is the union of both tables'
    final states, so a green hash value-checks the whole two-phase
    protocol (stage, decision log, roll-forward publish, dead-letter
    and lineage side effects) against DuckDB's fold of the FULL feed:
    recovery must land byte-identically where an uncrashed run would.
    Oracle = same per-table LWW fold as cdc_fanout_routes."""
    from filters_spark.engine import CDCEngine, TableRoute
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec
    from filters_spark.engine.txn import (
        SimulatedCrash, fan_out_atomic, pending_txns, recover_fanout,
    )
    from filters_spark.lake.table import LakeTable

    rows = _t(spark, sf, "orders").selectExpr(*_DBZ_FAN_ROW_EXPRS)
    env1 = rows.filter("fileno <= 2").selectExpr(f"{_DBZ_FAN_VALUE_SQL} AS value")
    env2 = rows.filter("fileno >= 3").selectExpr(f"{_DBZ_FAN_VALUE_SQL} AS value")
    root = _tmpdir("filters_spark_txnq_")

    def mk(name):
        reg = SpecRegistry(["repo", "path", "lang", "content"])
        reg.register(VersionSpec(1, _EVO_SPECS_V1))
        t = LakeTable.create(spark, os.path.join(root, name), ["repo", "path"], num_buckets=8)
        return CDCEngine(spark, t, reg), t

    eng_r, t_r = mk("repos")
    eng_u, t_u = mk("users")
    routes = [TableRoute("repos", eng_r), TableRoute("users", eng_u)]
    txn_dir = os.path.join(root, "txn")

    rep1 = fan_out_atomic(env1, routes, txn_dir, unrouted="ignore")
    if rep1["txn"] != "committed":
        raise AssertionError(f"batch 1 must commit: {rep1}")
    sid_u = t_u.current_snapshot_id()
    try:
        fan_out_atomic(env2, routes, txn_dir, unrouted="ignore",
                       _crash="published:0")
        raise AssertionError("crash injection did not fire")
    except SimulatedCrash:
        pass
    if t_u.current_snapshot_id() != sid_u:
        raise AssertionError("users must still be missing batch 2 at the crash")
    recover_fanout(routes, txn_dir, min_age_seconds=0)
    if pending_txns(eng_r.io, txn_dir):
        raise AssertionError("recovery left a pending decision record")
    cols = ["repo", "path", "commit", "event_seq", "lang", "content", "content_sha"]
    return (
        t_r.read().select(F.lit("repos").alias("route_table"), *cols)
        .unionByName(t_u.read().select(F.lit("users").alias("route_table"), *cols))
    )


# --- filter layer: reference operator semantics over testdata ----------------


@_q(
    "filter_strip",
    """
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '^[ \t\r\n]+', ''), '[ \t\r\n]+$', '') AS stripped
    FROM documents WHERE doc_id < 500
    """,
)
def q_filter_strip(spark, sf):
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    stripped = F.regexp_replace(F.regexp_replace("text", r"^[ \t\r\n]+", ""), r"[ \t\r\n]+$", "")
    return d.select("doc_id", stripped.alias("stripped"))


@_q(
    "filter_required_notempty",
    """
    SELECT source, count(*) AS n_valid FROM documents
    WHERE text IS NOT NULL AND length(text) > 0
    GROUP BY source
    """,
)
def q_filter_required(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .groupBy("source")
        .agg(F.count("*").alias("n_valid"))
    )


@_q(
    "filter_choice_lower",
    """
    SELECT lower(lang) AS lang_norm, count(*) AS n FROM documents
    WHERE lower(lang) IN ('en','de','es','fr','zh')
    GROUP BY lower(lang)
    """,
)
def q_filter_choice(spark, sf):
    d = _t(spark, sf, "documents")
    # translate-based ASCII lowering, not F.lower: Spark 4's ICU
    # case-mapping lock serializes executor threads (see
    # kernels.AsciiLowerK); identical result for the ASCII choice gate.
    norm = F.translate("lang", "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")
    return (
        d.filter(norm.isin("en", "de", "es", "fr", "zh"))
        .groupBy(norm.alias("lang_norm"))
        .agg(F.count("*").alias("n"))
    )


@_q(
    "filter_length_bounds",
    """
    SELECT lang, count(*) AS n_in_bounds FROM documents
    WHERE length(text) >= 50 AND length(text) <= 400
    GROUP BY lang
    """,
)
def q_filter_length_bounds(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.filter((F.length("text") >= 50) & (F.length("text") <= 400))
        .groupBy("lang")
        .agg(F.count("*").alias("n_in_bounds"))
    )


@_q(
    "filter_int_min_max",
    """
    SELECT event_type, count(*) AS n_valid, max(k_int) AS max_k FROM (
      SELECT event_type, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int
      FROM events
    ) WHERE k_int IS NOT NULL AND k_int >= 0 AND k_int <= 100
    GROUP BY event_type
    """,
)
def q_filter_int_min_max(spark, sf):
    ev = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").try_cast("long")
    return (
        ev.select("event_type", k.alias("k_int"))
        .filter(F.col("k_int").isNotNull() & (F.col("k_int") >= 0) & (F.col("k_int") <= 100))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_valid"), F.max("k_int").alias("max_k"))
    )


@_q(
    "filter_regex_match",
    """
    SELECT lang, count(*) AS n_match FROM documents
    WHERE regexp_matches(text, 'merge.*join|join.*merge')
    GROUP BY lang
    """,
)
def q_filter_regex(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.filter(F.col("text").rlike("merge.*join|join.*merge"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_match"))
    )


@_q(
    "filter_split_tokens",
    """
    SELECT doc_id, len(string_split(text, ' ')) AS n_parts,
           string_split(text, ' ')[1] AS first_token
    FROM documents WHERE doc_id < 500
    """,
)
def q_filter_split(spark, sf):
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    parts = F.split("text", " ", -1)
    return d.select(
        "doc_id", F.size(parts).alias("n_parts"), F.element_at(parts, 1).alias("first_token")
    )


@_q(
    "filter_uuid_canonical",
    """
    SELECT doc_id,
           substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4) || '-'
             || substr(h,17,4) || '-' || substr(h,21,12) AS uuid_canonical
    FROM (SELECT doc_id, md5(text) AS h FROM documents) WHERE doc_id < 500
    """,
)
def q_filter_uuid(spark, sf):
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    h = F.md5("text")
    canon = F.concat_ws(
        "-",
        F.substring(h, 1, 8), F.substring(h, 9, 4), F.substring(h, 13, 4),
        F.substring(h, 17, 4), F.substring(h, 21, 12),
    )
    return d.select("doc_id", canon.alias("uuid_canonical"))


@_q(
    "filter_datetime_utc",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
    FROM events GROUP BY strftime(ts, '%Y-%m-%d')
    """,
)
def q_filter_datetime(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count("*").alias("n")
    )


@_q(
    "filter_unicode_normalize",
    """
    SELECT doc_id,
           md5(replace(replace(nfc_normalize(regexp_replace(text, '[^\\P{C}\\s]+', '', 'g')),
                               chr(13) || chr(10), chr(10)),
                       chr(13), chr(10))) AS norm_md5
    FROM documents WHERE doc_id < 500
    """,
)
def q_filter_unicode(spark, sf):
    """The Unicode kernel itself (NFC + non-printable strip + LF
    normalization) vs DuckDB's nfc_normalize — kernel path, not SQL."""
    from filters_spark.operators.validate import validate

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 500).select("doc_id", "text")
    v = validate(d, {"text": {"chain": ["unicode"]}}, keep_raw=False)
    return v.select("doc_id", F.md5("text").alias("norm_md5"))


# --- engine layer: relational core (scan/join/agg/window/sort) ---------------


@_q(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_pricing(spark, sf):
    li = _t(spark, sf, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "join_revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                  JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_join_revenue(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@_q(
    "window_topk_per_user",
    """
    SELECT user_id, event_id, CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value, rnk FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk
      FROM events
    ) WHERE rnk <= 3
    """,
)
def q_window_topk(spark, sf):
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", F.col("value").cast("decimal(18,2)").cast("double").alias("value"), "rnk")
    )


@_q(
    "sort_limit_top_orders",
    """
    SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
)
def q_sort_limit(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("total"))
    )


@_q(
    "setop_active_users",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'signup'
    """,
)
def q_setop(spark, sf):
    ev = _t(spark, sf, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("event_type") == "signup").select("user_id")
    return a.intersect(b)


# --- corpus curation: dedupe / text / similarity -----------------------------


@_q(
    "dedup_exact_stats",
    """
    SELECT count(*) AS n_rows, count(DISTINCT md5(text)) AS n_distinct,
           count(*) - count(DISTINCT md5(text)) AS n_dupes
    FROM documents
    """,
)
def q_dedup_exact(spark, sf):
    d = _t(spark, sf, "documents")
    return d.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_dupes"),
    )


def _minhash_oracle_sql(num_hashes: int = 32, bands: int = 8, k: int = 5,
                        seed: int = 1, threshold: float = 0.4,
                        max_bucket: int = 200) -> str:
    """DuckDB twin of minhash_lsh_pairs with the injected sha64 hash
    family: shingles -> per-salt min-hash signature -> banded pairs ->
    bucket-size guard -> agreement-estimated jaccard. Band-bucket
    equality is mirrored as signature-SLICE equality (the xxhash64
    bucket id is just a compression of the slice)."""
    r = num_hashes // bands
    gram = f"array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+{k - 1}], ' ')"
    # one sha64 per shingle, then the cheap mix31 permutation per salt
    # — mirrors minhash_signature(base_hash_fn=sha64) exactly
    sig = (
        f"list_transform(range({seed}, {seed + num_hashes}), m -> "
        f"list_min(list_transform(hs, h -> {mix31_sql('h', 'm')})))"
    )
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, sig, {b} AS band, "
        f"array_to_string(list_transform(sig[{b * r + 1}:{b * r + r}], "
        f"x -> CAST(x AS VARCHAR)), ',') AS key FROM s"
        for b in range(bands)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
      FROM documents WHERE doc_id < 2000
    ), g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - {k - 1}, 1) + 1), i -> {gram})) AS sh
      FROM t
    ), hg AS (
      SELECT doc_id, list_transform(sh, s -> {sha64_sql('s')}) AS hs FROM g
    ), s AS (
      SELECT doc_id, {sig} AS sig FROM hg
    ), banded AS (
      {band_rows}
    ), ok AS (
      SELECT band, key FROM banded GROUP BY band, key
      HAVING count(*) <= {max_bucket}
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_filter(range(1, {num_hashes} + 1),
                 i -> a.sig[CAST(i AS INT)] = b.sig[CAST(i AS INT)])) AS agree
      FROM banded a
      JOIN ok USING (band, key)
      JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, round(agree / {num_hashes}.0, 4) AS est_jaccard
    FROM pairs WHERE agree / {num_hashes}.0 >= {threshold}
    """


@_q("dedup_minhash_lsh", _minhash_oracle_sql())
def q_dedup_minhash(spark, sf):
    """Banded minhash-LSH near-dup pairs, driven with the injected
    DuckDB-mirrorable hash family (operators/hashing.py: one sha64 per
    shingle + the mix31 permutation per salt) so the whole shingle ->
    signature -> band -> estimate path is value-checked; the xxhash64
    default stays the scale-tier choice."""
    from filters_spark.operators.dedupe import minhash_lsh_pairs
    from filters_spark.operators.hashing import sha64

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 2000)
    return minhash_lsh_pairs(d, "text", "doc_id", num_hashes=32, bands=8,
                             jaccard_threshold=0.4, base_hash_fn=sha64)


def _simhash_oracle_sql(max_hamming: int = 3, max_bucket: int = 1000) -> str:
    """DuckDB twin of simhash_dupes with the injected sha64 token hash:
    per-bit weighted majority over distinct-token hashes, then the SAME
    chunk blocking + degenerate-bucket guard the Spark operator applies
    (pigeonhole blocking is recall-complete, so absent guarded-out
    buckets the candidate set equals brute force; the guard is mirrored
    so equality holds on the guarded set too, exactly as
    ``_minhash_oracle_sql`` mirrors minhash's guard)."""
    min_long = "(-9223372036854775807 - 1)"
    bit_terms = []
    for i in range(64):
        mask = str(1 << i) if i < 63 else min_long
        bit_terms.append(
            f"(CASE WHEN 2 * len(list_filter(hs, x -> (x & {mask}) != 0)) > len(hs) "
            f"THEN {mask} ELSE 0 END)"
        )
    sh = " | ".join(bit_terms)
    # same chunk bounds formula as simhash_dupes. Spark does
    # shiftrightunsigned; DuckDB's >> on signed BIGINT sign-extends,
    # but (x >> lo) & mask is identical either way: the two shifts
    # differ only in bits >= 64-lo, and mask width hi-lo <= 64-lo
    # (DuckDB refuses CAST(negative AS UBIGINT), so the signed route
    # is the only portable one)
    n_chunks = max_hamming + 1
    bounds = [(i * 64 // n_chunks, (i + 1) * 64 // n_chunks) for i in range(n_chunks)]
    chunk_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, sh, {i} AS chunk, "
        + ("sh AS val FROM s" if hi - lo == 64 else
           f"(sh >> {lo}) & {(1 << (hi - lo)) - 1} AS val FROM s")
        for i, (lo, hi) in enumerate(bounds)
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(string_split_regex(lower(text), '\\s+')) AS toks
      FROM documents WHERE doc_id < 2000
    ), h AS (
      SELECT doc_id, list_transform(toks, s -> {sha64_sql('s')}) AS hs FROM t
    ), s AS (
      SELECT doc_id, ({sh}) AS sh FROM h
    ), chunks AS (
      {chunk_rows}
    ), ok AS (
      SELECT chunk, val FROM chunks GROUP BY chunk, val
      HAVING count(*) <= {max_bucket}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sh AS sh_a, b.sh AS sh_b
      FROM chunks a
      JOIN ok USING (chunk, val)
      JOIN chunks b ON a.chunk = b.chunk AND a.val = b.val
                    AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


@_q("dedup_simhash", _simhash_oracle_sql())
def q_dedup_simhash(spark, sf):
    """SimHash near-dup pairs (chunk blocking + exact hamming verify),
    driven with the injected sha64 token hash so the full majority-vote
    fingerprint AND the blocking join are value-checked against a
    brute-force DuckDB all-pairs oracle (valid because pigeonhole
    blocking is recall-complete)."""
    from filters_spark.operators.dedupe import simhash_dupes
    from filters_spark.operators.hashing import sha64

    # max_hamming=3: recall is guaranteed for any threshold (chunks
    # derive from it), but 3 keeps the near-dup pair set near-dup-sized
    # for the contract ledger (6 admits ~95k loosely-similar pairs)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 2000)
    return simhash_dupes(d, "text", "doc_id", max_hamming=3, hash_fn=sha64)


@_q(
    "text_repetition_filter",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, list_transform(
        range(1, greatest(len(toks) - 2, 1) + 1),
        i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2], ' ')
      ) AS grams FROM t
    )
    SELECT doc_id,
           len(grams) AS total_ngrams,
           len(list_distinct(grams)) AS distinct_ngrams,
           CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
             / len(grams) AS dup_fraction
    FROM g
    """,
)
def q_text_repetition_filter(spark, sf):
    """Repeated-3-gram fraction per document (operators/textstats.py
    ngram_repetition — the Gopher/C4 repetitious-text quality gate):
    exact integer gram counts plus dup_fraction as ONE IEEE division
    of those ints, so the score hash-matches DuckDB bit-for-bit.
    Map-only native higher-order functions, zero shuffles."""
    from filters_spark.operators.textstats import ngram_repetition

    return ngram_repetition(_t(spark, sf, "documents"), "text", n=3)


@_q(
    "text_decontaminate",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(toks) - 7, 1) + 1),
        i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+7], ' ')
      )) AS sh FROM t
    ), bench AS (
      SELECT DISTINCT unnest(sh) AS s FROM g WHERE doc_id % 97 = 0
    ), doc_sh AS (
      SELECT doc_id, unnest(sh) AS s FROM g
    ), hits AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM doc_sh JOIN bench USING (s) GROUP BY doc_id
    )
    SELECT g.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.n_hits, 0) >= 3 AS contaminated
    FROM g LEFT JOIN hits h USING (doc_id)
    """,
)
def q_text_decontaminate(spark, sf):
    """Benchmark decontamination (operators/textstats.py
    decontaminate — the GPT-3/PaLM n-gram-overlap test): documents
    sharing >= 3 distinct word 8-grams with the planted benchmark
    slice (doc_id % 97 = 0 — whose texts ARE in the corpus, so
    self-contamination is guaranteed and the flag set is non-trivial)
    are marked. The benchmark's distinct shingle set BROADCASTS (eval
    sets are small by definition); only hit rows reach the per-doc
    count shuffle."""
    from filters_spark.operators.textstats import decontaminate

    d = _t(spark, sf, "documents")
    return decontaminate(
        d, d.filter(F.col("doc_id") % 97 == 0), "text", n=8, min_hits=3
    )


@_q(
    "text_corpus_line_dedupe",
    """
    WITH d2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                    THEN text || '. Subscribe to our newsletter. Click here to read more'
                  WHEN doc_id % 3 = 1
                    THEN text || '. Subscribe to our newsletter'
                  ELSE text END AS text
      FROM documents
    ), t AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, '.'), s -> trim(s)),
                         s -> len(s) > 0) AS segs
      FROM d2
    ), b AS (
      SELECT doc_id, unnest(segs) AS seg,
             unnest(range(1, len(segs) + 1)) AS pos
      FROM t
    ), hot AS (
      SELECT seg FROM b GROUP BY seg HAVING count(DISTINCT doc_id) >= 2
    ), kept AS (
      SELECT b.* FROM b ANTI JOIN hot USING (seg)
    ), reb AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(seg, '. ' ORDER BY pos) AS cleaned_text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(t.segs) AS BIGINT) AS n_segments,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.cleaned_text, '') AS cleaned_text
    FROM t LEFT JOIN reb r USING (doc_id)
    """,
)
def q_text_corpus_line_dedupe(spark, sf):
    """Corpus-wide boilerplate removal (operators/textstats.py
    corpus_segment_dedupe — the CCNet/RefinedWeb line-dedupe pass,
    complementing text_dup_segments' WITHIN-document stats): sentences
    planted across the corpus ('Subscribe to our newsletter' into
    every doc_id % 3 in {0, 1}, a second tail into % 3 == 0 only) are
    detected by corpus-wide distinct-document frequency >= 2 and
    stripped from every document; each document's text is rebuilt from
    its surviving sentences in original order and must match DuckDB's
    ordered string_agg byte-for-byte. Scale shape: segment-frequency
    agg + anti join + per-doc rebuild, all keyed shuffles, no Python.
    (The natural corpus contributes no cross-document sentences; if it
    did, both engines would strip them identically.)"""
    from filters_spark.operators.textstats import corpus_segment_dedupe

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(". Subscribe to our newsletter. Click here to read more"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.col("text"), F.lit(". Subscribe to our newsletter")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return corpus_segment_dedupe(d, "text", "doc_id", sep=r"\.", min_docs=2)


@_q(
    "text_token_stats",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0))) AS BIGINT) AS total_tokens,
           max(len(list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0))) AS max_tokens
    FROM documents GROUP BY lang
    """,
)
def q_text_tokens(spark, sf):
    from filters_spark.operators.textstats import token_count

    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("total_tokens"),
        F.max(token_count(F.col("text"))).alias("max_tokens"),
    )


@_q(
    "text_quality_buckets",
    """
    SELECT q_bucket, count(*) AS n FROM (
      SELECT CAST(floor(least(len(list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0)) / 50.0, 1.0) * 10) AS INT) AS q_bucket
      FROM documents
    ) GROUP BY q_bucket
    """,
)
def q_text_quality(spark, sf):
    from filters_spark.operators.textstats import token_count

    d = _t(spark, sf, "documents")
    len_score = F.least(token_count(F.col("text")) / 50.0, F.lit(1.0))
    return d.select(F.floor(len_score * 10).cast("int").alias("q_bucket")).groupBy("q_bucket").agg(
        F.count("*").alias("n")
    )


def _fingerprint_sql(window: int = 8) -> str:
    """DuckDB twin of textstats.fingerprint with the injected sha64
    gram hash: min over word-window grams of lowercased tokens
    (``fptoks`` is provided by the surrounding CTE)."""
    gram = f"array_to_string(fptoks[CAST(i AS INT):CAST(i AS INT)+{window - 1}], ' ')"
    return (
        f"list_min(list_transform("
        f"range(1, greatest(len(fptoks) - {window - 1}, 1) + 1), "
        f"i -> {sha64_sql(gram)}))"
    )


_TEXT_PROFILE_ORACLE_TMPL = r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks,__FPTOKS__
         list_transform(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0),
                        x -> regexp_replace(x, '[^\p{L}]', '', 'g')) AS ltoks
  FROM documents WHERE doc_id < 1000
), f AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS punct,
         length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS alpha,
         len(list_distinct(toks)) AS n_distinct,
         len(list_filter(list_transform(toks, x -> lower(x)),
             x -> list_contains(['the','a','and','of','to','in','is','that','it','for',
                                 'der','die','das','und','ist','nicht','mit','ein','zu','den',
                                 'el','la','de','que','y','en','un','es','se','no',
                                 'le','et','est','une','les','des'], x))) AS n_stop,
         CAST(list_sum(list_transform(toks, w ->
             greatest(1, CAST(floor(length(w) / 4.0) AS INT)
                        + length(regexp_replace(w, '[\w]', '', 'g'))))) AS INT) AS bpe_tokens_est,
         len(list_filter(ltoks, x -> list_contains(['the','a','and','of','to','in','is','that','it','for'], x))) AS h_en,
         len(list_filter(ltoks, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein','zu','den'], x))) AS h_de,
         len(list_filter(ltoks, x -> list_contains(['el','la','de','que','y','en','un','es','se','no'], x))) AS h_es,
         len(list_filter(ltoks, x -> list_contains(['le','la','de','et','est','un','une','les','des','que'], x))) AS h_fr__FPCOL__
  FROM t
)
SELECT doc_id, n_tokens, bpe_tokens_est,
  round(CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END, 4) AS stopword_ratio,
  round(greatest(0.0,
      0.4 * least(n_tokens / 50.0, 1.0)
    + 0.3 * (CASE WHEN n_chars > 0 THEN alpha * 1.0 / n_chars ELSE 0.0 END)
    + 0.3 * (CASE WHEN n_tokens > 0 THEN n_distinct * 1.0 / n_tokens ELSE 0.0 END)
    - CASE WHEN n_chars > 0 AND punct * 1.0 / n_chars > 0.3 THEN 0.5 ELSE 0.0 END), 4) AS quality,
  CASE WHEN greatest(h_en, h_de, h_es, h_fr) = 0 THEN 'und'
       WHEN h_fr = greatest(h_en, h_de, h_es, h_fr) THEN 'fr'
       WHEN h_es = greatest(h_en, h_de, h_es, h_fr) THEN 'es'
       WHEN h_en = greatest(h_en, h_de, h_es, h_fr) THEN 'en'
       ELSE 'de' END AS lang_guess__FPSEL__
FROM f
"""


def _text_profile_oracle(with_fingerprint: bool) -> str:
    """One oracle body serves text_profile (fingerprint column driven
    by the injected sha64 gram hash) and text_profile_core (no
    fingerprint): the ~40-line quality/lang-id formula exists ONCE, so
    an edit to it can never desynchronize the two variants."""
    fptoks = (
        "\n         list_filter(string_split_regex(lower(text), '\\s+'),"
        " x -> len(x) > 0) AS fptoks,"
        if with_fingerprint else ""
    )
    fpcol = (
        ",\n         " + _fingerprint_sql() + " AS fingerprint"
        if with_fingerprint else ""
    )
    fpsel = ",\n  fingerprint" if with_fingerprint else ""
    return (
        _TEXT_PROFILE_ORACLE_TMPL
        .replace("__FPTOKS__", fptoks)
        .replace("__FPCOL__", fpcol)
        .replace("__FPSEL__", fpsel)
    )


@_q(
    "text_profile",
    _text_profile_oracle(with_fingerprint=True),
)
def q_text_profile(spark, sf):
    """Full curation profile INCLUDING the winnowing fingerprint,
    driven with the injected sha64 gram hash (operators/hashing.py) so
    every column — token counts, BPE estimate, stopword ratio, quality,
    lang-id AND fingerprint — is value-checked against DuckDB."""
    from filters_spark.operators.hashing import sha64
    from filters_spark.operators.textstats import text_profile

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 1000)
    return text_profile(d, fingerprint_hash_fn=sha64).select(
        "doc_id", "n_tokens", "bpe_tokens_est", "stopword_ratio", "quality",
        "lang_guess", "fingerprint",
    )


@_q(
    "text_profile_core",
    _text_profile_oracle(with_fingerprint=False),
)
def q_text_profile_core(spark, sf):
    """The full curation profile minus the xxhash fingerprint — token
    count, BPE estimate, stopword ratio, quality score and language
    guess all value-checked against a DuckDB reimplementation
    (operators/textstats.py; the fingerprint column has no DuckDB twin
    and stays in the rows-only text_profile entry)."""
    from filters_spark.operators.textstats import text_profile

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 1000)
    return text_profile(d).select(
        "doc_id", "n_tokens", "bpe_tokens_est", "stopword_ratio", "quality",
        "lang_guess",
    )


@_q(
    "text_lm_score",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> len(t) > 0)) AS token
      FROM documents
    ), model AS (
      SELECT token, count(*) AS n FROM toks GROUP BY token
    ), tot AS (
      SELECT CAST(sum(n) AS DOUBLE) AS total, count(*) AS vocab FROM model
    )
    SELECT t.doc_id, count(*) AS n_tokens,
           round(avg(-ln((m.n + 1.0) / (tot.total + 1.0 * (tot.vocab + 1)))), 4)
             AS avg_neg_logp
    FROM toks t JOIN model m USING (token), tot
    GROUP BY t.doc_id
    """,
)
def q_text_lm_score(spark, sf):
    """Unigram-LM quality scoring (operators/textstats.py:lm_score):
    per-document cross-entropy against the corpus's own unigram model
    with add-one smoothing — the standard LM-quality filter for
    pretraining corpora. Value-checked end to end (model build + score)
    against a DuckDB reimplementation; avg is rounded to 4 decimals on
    both sides to absorb float sum-order differences."""
    from filters_spark.operators.textstats import lm_score, unigram_counts

    d = _t(spark, sf, "documents")
    return lm_score(d, unigram_counts(d))


@_q(
    "text_repetition_topgram",
    """
    WITH toks AS (
      SELECT doc_id, len(text) AS nc,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> len(t) > 0) AS w
      FROM documents
    ), grams AS (
      SELECT doc_id, nc,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i+1])) AS gram
      FROM toks WHERE len(w) >= 2
    ), counts AS (
      SELECT doc_id, nc, gram, count(*) AS n_occ
      FROM grams GROUP BY doc_id, nc, gram
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY n_occ DESC, gram ASC) AS rn
      FROM counts
    )
    SELECT doc_id, gram AS top_gram, n_occ AS top_gram_count,
           round(n_occ * len(gram) / nc, 4) AS top_gram_char_frac
    FROM ranked WHERE rn = 1
    """,
)
def q_text_repetition_topgram(spark, sf):
    """Gopher repetition filter (operators/textstats.py:top_ngram_stats):
    fraction of each document's characters covered by its most frequent
    word 2-gram. Explode -> one groupBy -> row_number window; groupBy
    and window share the doc_id partitioning."""
    from filters_spark.operators.textstats import top_ngram_stats

    return top_ngram_stats(_t(spark, sf, "documents"), n=2)


@_q(
    "text_dup_segments",
    """
    WITH segs AS (
      SELECT doc_id,
             list_filter(list_transform(string_split_regex(text, '\\.'),
                                        s -> trim(s)),
                         s -> len(s) > 0) AS segs
      FROM documents
    )
    SELECT doc_id, len(segs) AS n_segments,
           len(list_distinct(segs)) AS distinct_segments,
           CASE WHEN len(segs) > 0
                THEN round(1 - len(list_distinct(segs)) / CAST(len(segs) AS DOUBLE), 4)
                ELSE 0.0 END AS dup_segment_frac
    FROM segs
    """,
)
def q_text_dup_segments(spark, sf):
    """Duplicate-segment fraction (operators/textstats.py:
    dup_segment_stats) — Gopher's duplicate-line signal over sentence
    segments ('.') since the corpus is single-line. Map-only native
    array expressions."""
    from filters_spark.operators.textstats import dup_segment_stats

    return dup_segment_stats(_t(spark, sf, "documents"))


@_q(
    "text_contamination",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> len(t) > 0) AS w
      FROM documents
    ), bench AS (
      SELECT DISTINCT unnest(list_transform(range(1, len(w) - 6),
               i -> array_to_string(w[i:i+7], ' '))) AS gram, 1 AS hit
      FROM toks WHERE doc_id % 25 = 0 AND len(w) >= 8
    ), dg AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(w) - 6),
               i -> array_to_string(w[i:i+7], ' ')))) AS gram
      FROM toks WHERE len(w) >= 8
    )
    SELECT dg.doc_id, count(*) AS n_grams,
           CAST(sum(coalesce(b.hit, 0)) AS BIGINT) AS n_contaminated,
           round(sum(coalesce(b.hit, 0)) / CAST(count(*) AS DOUBLE), 4)
             AS contaminated_frac
    FROM dg LEFT JOIN bench b ON dg.gram = b.gram
    GROUP BY dg.doc_id
    """,
)
def q_text_contamination(spark, sf):
    """Benchmark decontamination (operators/textstats.py:
    ngram_contamination): per-document fraction of distinct word
    8-grams appearing in a 'benchmark' slice (doc_id % 25 = 0 stands
    in for an eval suite). Benchmark gram set is broadcast; the corpus
    is touched by one explode + one groupBy."""
    from filters_spark.operators.textstats import ngram_contamination

    d = _t(spark, sf, "documents")
    return ngram_contamination(d, d.filter(F.col("doc_id") % 25 == 0), n=8)


@_q(
    "search_bm25_topk",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> len(t) > 0) AS w
      FROM documents
    ), t AS (
      SELECT doc_id, len(w) AS dl,
             len(list_filter(w, x -> x = 'hash'))  AS tf0,
             len(list_filter(w, x -> x = 'join'))  AS tf1,
             len(list_filter(w, x -> x = 'merge')) AS tf2
      FROM d
    ), s AS (
      SELECT count(*) AS n, avg(dl) AS avgdl,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
      FROM t
    )
    SELECT doc_id,
      round(
        ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
          / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
      + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
          / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
      + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
          / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS bm25
    FROM t, s
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def q_search_bm25_topk(spark, sf):
    """Lexical search (operators/search.py:bm25_topk): BM25 top-10 for
    'hash join merge'. Map-only tf pass + one-row broadcast corpus
    stats + TakeOrderedAndProject; term contributions summed in fixed
    order so the float score is bit-reproducible vs DuckDB."""
    from filters_spark.operators.search import bm25_topk

    return bm25_topk(_t(spark, sf, "documents"), "hash join merge", k=10)


@_q(
    "events_asof_join",
    """
    SELECT l.event_id, l.user_id, l.ts, l.value,
           r.event_id AS event_id_r, r.value AS value_r, r.ts AS ts_r
    FROM (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
                    WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q_events_asof_join(spark, sf):
    """Backward as-of join (operators/events.py:asof_join): each click
    picks up the user's most recent prior-or-simultaneous purchase.
    Union + ordered-window formulation — ONE shuffle on the key, no
    range join — checked against DuckDB's native ASOF JOIN."""
    from filters_spark.operators.events import asof_join

    e = _t(spark, sf, "events")
    cols = ["event_id", "user_id", "ts", "value"]
    left = e.filter(F.col("event_type") == "click").select(*cols)
    right = e.filter(F.col("event_type") == "purchase").select(*cols)
    return asof_join(
        left, right, on="user_id", left_ts="ts",
        right_cols=["event_id", "value"], tiebreak="event_id",
    )


@_q(
    "events_sessionize",
    """
    WITH b AS (
      SELECT user_id, ts, epoch_us(ts) AS us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 14400000000
                  THEN 1 ELSE 0 END AS nb
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             sum(nb) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) - 1 AS sn
      FROM b
    )
    SELECT user_id, user_id || '-' || sn AS session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           CAST(floor((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0)
                AS BIGINT) AS duration_secs
    FROM s GROUP BY user_id, sn
    """,
)
def q_events_sessionize(spark, sf):
    """Gap sessionization (operators/events.py:session_stats): a new
    session after >4h of user inactivity; per-session bounds, counts,
    exact duration. One window + one groupBy sharing the user-key
    exchange; gap test in integer microseconds on both engines."""
    from filters_spark.operators.events import session_stats

    return session_stats(_t(spark, sf, "events"), gap_secs=14400)


@_q(
    "events_interval_count",
    """
    WITH s AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'signup'),
         err AS (SELECT ts FROM events WHERE event_type = 'error')
    SELECT s.event_id, s.user_id, s.ts,
           count(e.ts) AS n_errors_24h
    FROM s LEFT JOIN err e
      ON e.ts > s.ts AND e.ts <= s.ts + INTERVAL 24 HOURS
    GROUP BY s.event_id, s.user_id, s.ts
    """,
)
def q_events_interval_count(spark, sf):
    """Keyless interval join (operators/events.py:interval_join): per
    signup, errors from ANY user in the following 24h. Bin-bucketed
    equi-join (one day bins) instead of the quadratic nested-loop a
    raw range predicate plans; zero-match signups restored by joining
    the pair counts back onto the signup side."""
    from filters_spark.operators.events import interval_join

    e = _t(spark, sf, "events")
    signups = e.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    errors = e.filter(F.col("event_type") == "error").select("ts")
    pairs = interval_join(
        signups, errors,
        F.col("ts"), F.col("ts") + F.expr("INTERVAL 24 HOURS"),
        bin_secs=86400,
    )
    counts = pairs.groupBy("event_id").agg(F.count("*").alias("_n"))
    return signups.join(counts, "event_id", "left").select(
        "event_id", "user_id", "ts",
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_errors_24h"),
    )


@_q(
    "events_funnel",
    """
    WITH s AS (
      SELECT user_id, min(ts) FILTER (event_type = 'view') AS stage1_ts
      FROM events GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, s.stage1_ts,
             min(e.ts) FILTER (e.event_type = 'click' AND e.ts > s.stage1_ts)
               AS stage2_ts
      FROM events e JOIN s ON e.user_id = s.user_id
      GROUP BY e.user_id, s.stage1_ts
    ),
    p AS (
      SELECT e.user_id, c.stage1_ts, c.stage2_ts,
             min(e.ts) FILTER (e.event_type = 'purchase' AND e.ts > c.stage2_ts)
               AS stage3_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      GROUP BY e.user_id, c.stage1_ts, c.stage2_ts
    )
    SELECT user_id, stage1_ts, stage2_ts, stage3_ts,
           CAST(CASE WHEN stage3_ts IS NOT NULL THEN 3
                     WHEN stage2_ts IS NOT NULL THEN 2 ELSE 1 END AS INT)
             AS funnel_stage
    FROM p WHERE stage1_ts IS NOT NULL
    """,
)
def q_events_funnel(spark, sf):
    """Ordered conversion funnel view -> click -> purchase
    (operators/events.py:funnel): per user, each stage's earliest time
    STRICTLY AFTER the previous stage. The Spark plan is N stacked
    conditional-min windows over ONE user-key exchange (no joins, one
    scan); the oracle recomputes each stage as a join-and-filter
    aggregation chain — agreement certifies the ordering semantics,
    not just the counts."""
    from filters_spark.operators.events import funnel

    return funnel(_t(spark, sf, "events"), ["view", "click", "purchase"])


@_q(
    "events_retention_cohorts",
    """
    WITH f AS (
      SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id
    )
    SELECT f.cohort,
           date_diff('day', f.cohort,
                     CAST(date_trunc('day', e.ts) AS DATE)) AS period_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
    FROM events e JOIN f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_events_retention_cohorts(spark, sf):
    """Cohort retention triangle (operators/events.py:
    retention_cohorts): users cohorted by first-event day; each
    (cohort, day-offset) cell counts distinct returning users. Two
    shuffles — per-user first-event min, then the distinct count on
    the cell key — with the user-cardinality cohort frame joined back
    under AQE's broadcast decision."""
    from filters_spark.operators.events import retention_cohorts

    return retention_cohorts(_t(spark, sf, "events"))


@_q(
    "events_transitions",
    """
    WITH pairs AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    )
    SELECT from_type, to_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(count(*)) OVER (PARTITION BY from_type) AS BIGINT)
             AS from_total
    FROM pairs WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def q_events_transitions(spark, sf):
    """Event-sequence transition matrix (operators/events.py:
    transition_counts): consecutive-pair counts per (from, to) event
    type with the per-from-state total alongside (P(to|from) = n /
    from_total). The lead window is the only data-scale shuffle; the
    pair groupBy is constant-width (|types|²) with map-side partials,
    and the from_total window runs over that constant-width frame."""
    from filters_spark.operators.events import transition_counts

    return transition_counts(_t(spark, sf, "events"))


@_q(
    "events_interval_join",
    """
    SELECT l.user_id,
           l.ts AS l_ts, l.event_id AS l_event_id,
           r.ts AS r_ts, r.event_id AS r_event_id, r.value AS r_value
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
    WHERE l.event_type = 'signup' AND r.event_type = 'purchase'
    """,
)
def q_events_interval_join(spark, sf):
    """Event-time interval join (streaming/joins.py interval_join):
    purchases within [0, 30 min] AFTER a signup by the same user — the
    attribution-window shape. ONE operator for batch and streaming: in
    batch it plans as a single key-equality shuffle per side with the
    range as a join residual; over two streams the same plan becomes
    Spark's watermarked stream-stream inner join, where the interval
    bound is what lets the engine evict buffered rows (state is
    watermark + 30 min per key, independent of stream length —
    restart/late-drop pinned in tests/test_streaming.py). The
    watermark argument is passed here too and ignored by the batch
    planner: mode-agnosticism is the contract under test."""
    from filters_spark.streaming.joins import interval_join

    ev = _t(spark, sf, "events")
    return interval_join(
        ev.filter(F.col("event_type") == "signup")
          .select("ts", "user_id", "event_id"),
        ev.filter(F.col("event_type") == "purchase")
          .select("ts", "user_id", "event_id", "value"),
        ("user_id",), lower_s=0.0, upper_s=1800.0, watermark="10 minutes",
    )


@_q(
    "events_scd2_asof",
    """
    WITH dim AS (
      SELECT user_id, ts, event_id, event_type AS status,
             lead(ts) OVER w AS vt_ts, lead(event_id) OVER w AS vt_eid
      FROM events WHERE event_type IN ('signup', 'error')
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT f.user_id, f.ts, f.event_id, f.value, d.status AS dim_status
    FROM events f LEFT JOIN dim d
      ON f.user_id = d.user_id
     AND (d.ts, d.event_id) <= (f.ts, f.event_id)
     AND (d.vt_ts IS NULL OR (f.ts, f.event_id) < (d.vt_ts, d.vt_eid))
    WHERE f.event_type = 'purchase'
    """,
)
def q_events_scd2_asof(spark, sf):
    """Temporal (point-in-time) join against SCD2 history (operators/
    events.py scd2_asof_join — FOR SYSTEM_TIME AS OF as a join): each
    purchase picks up the user's status dimension (signup/error
    events as versions) AS IT WAS at the purchase's (ts, event_id)
    position — lexicographic struct containment, identical to the
    oracle's row-value comparison. Left semantics keep purchases
    before any version (NULL status). ONE key shuffle per side, range
    as a join residual."""
    from filters_spark.operators.events import scd2_asof_join, scd2_history

    ev = _t(spark, sf, "events")
    dim_ev = ev.filter(F.col("event_type").isin("signup", "error")).select(
        "user_id", "ts", "event_id", F.lit("U").alias("op"),
        F.col("event_type").alias("status"),
    )
    hist = scd2_history(dim_ev, ["user_id"], ["status"], ["ts", "event_id"])
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return scd2_asof_join(facts, hist, ["user_id"], ["ts", "event_id"]).select(
        "user_id", "ts", "event_id", "value", "dim_status"
    )


@_q(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id AS id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 4) AS cosine
    FROM embeddings e, q
    WHERE e.vec_id != 0
    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def q_ann_cosine(spark, sf):
    from filters_spark.operators.similarity import cosine

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("cos_raw", cosine(F.col("embedding").cast("array<double>"), F.col("qvec").cast("array<double>")))
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("vec_id").asc())
        .limit(10)
        .select(F.col("vec_id").alias("id"), F.round("cos_raw", 4).alias("cosine"))
    )


_ANN_DIM, _ANN_BITS, _ANN_TABLES, _ANN_SEED, _ANN_K = 64, 8, 4, 7, 5


def _ann_lsh_oracle_sql() -> str:
    """DuckDB twin of lsh_ann_topk with the sha-derived literal ±1
    hyperplanes (operators/hashing.py:sha_planes): identical plane
    matrix inlined into both engines, identical left-assoc double sum
    order (Spark's fold starts 0.0 + x1*p1, exact), so signatures are
    bit-identical; candidates then get the exact cosine re-rank."""
    def sig(t: int) -> str:
        planes = sha_planes(_ANN_DIM, _ANN_BITS, _ANN_SEED + t)
        bits = []
        for i in range(_ANN_BITS):
            chain = " + ".join(
                f"e[{j + 1}] * {planes[i][j]}" for j in range(_ANN_DIM)
            )
            bits.append(f"(CASE WHEN ({chain}) > 0 THEN {1 << i} ELSE 0 END)")
        return " + ".join(bits)

    bs = "\n      UNION ALL ".join(
        f"SELECT id, {t} AS t, ({sig(t)}) AS sig FROM base" for t in range(_ANN_TABLES)
    )
    qs = "\n      UNION ALL ".join(
        f"SELECT query_id, {t} AS t, ({sig(t)}) AS sig FROM q" for t in range(_ANN_TABLES)
    )
    return f"""
    WITH base AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id >= 3
    ), q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id < 3
    ), bs AS (
      {bs}
    ), qs AS (
      {qs}
    ), cand AS (
      SELECT DISTINCT qs.query_id, bs.id
      FROM bs JOIN qs ON bs.t = qs.t AND bs.sig = qs.sig
    ), scored AS (
      SELECT c.query_id, c.id, list_cosine_similarity(b.e, q.e) AS cos
      FROM cand c JOIN base b ON b.id = c.id JOIN q ON q.query_id = c.query_id
    )
    SELECT query_id, id, round(cos, 4) AS cosine, CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, id) AS rn
          FROM scored)
    WHERE rn <= {_ANN_K}
    """


@_q("ann_lsh_topk", _ann_lsh_oracle_sql())
def q_ann_lsh(spark, sf):
    """Random-hyperplane LSH ANN, driven with the sha-derived LITERAL
    plane matrix (operators/hashing.py:sha_planes) so the single-scan
    posexplode candidate plan AND the exact re-rank are value-checked
    against DuckDB; the xxhash-derived planes stay the zero-model
    production default."""
    from filters_spark.operators.hashing import sha_planes
    from filters_spark.operators.similarity import lsh_ann_topk

    e = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_ann_topk(
        e.filter(F.col("vec_id") >= 3), q,
        dim=_ANN_DIM, k=_ANN_K, bits=_ANN_BITS, tables=_ANN_TABLES, seed=_ANN_SEED,
        planes_fn=lambda t: sha_planes(_ANN_DIM, _ANN_BITS, _ANN_SEED + t),
    )


@_q(
    "dedup_embedding_cosine",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE a.vec_id < 500 AND b.vec_id < 500
      AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) > 0.2
    """,
)
def q_dedup_embedding(spark, sf):
    from filters_spark.operators.similarity import cosine

    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 500)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("label").alias("label"),
                 F.col("embedding").cast("array<double>").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("label").alias("label"),
                 F.col("embedding").cast("array<double>").alias("vb"))
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_raw", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos_raw") > 0.2)
        .select("id_a", "id_b", F.round("cos_raw", 4).alias("cosine"))
    )


_EMB_BITS, _EMB_TABLES, _EMB_SEED, _EMB_TH = 6, 8, 11, 0.3


def _emb_lsh_oracle_sql() -> str:
    """DuckDB twin of lsh_near_pairs (self-join hyperplane LSH) with
    the sha-derived literal planes: identical signatures, identical
    candidate set (bucket guard mirrored), exact cosine verify."""
    def sig(t: int) -> str:
        planes = sha_planes(_ANN_DIM, _EMB_BITS, _EMB_SEED + t)
        bits = []
        for i in range(_EMB_BITS):
            chain = " + ".join(f"e[{j + 1}] * {planes[i][j]}" for j in range(_ANN_DIM))
            bits.append(f"(CASE WHEN ({chain}) > 0 THEN {1 << i} ELSE 0 END)")
        return " + ".join(bits)

    sigs = "\n      UNION ALL ".join(
        f"SELECT id, {t} AS t, ({sig(t)}) AS sig FROM v" for t in range(_EMB_TABLES)
    )
    return f"""
    WITH v AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), sigs AS (
      {sigs}
    ), ok AS (
      SELECT t, sig FROM sigs GROUP BY t, sig HAVING count(*) <= 1000
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM sigs a
      JOIN ok USING (t, sig)
      JOIN sigs b ON a.t = b.t AND a.sig = b.sig AND a.id < b.id
    ), scored AS (
      SELECT c.id_a, c.id_b, list_cosine_similarity(x.e, y.e) AS cos
      FROM cand c JOIN v x ON x.id = c.id_a JOIN v y ON y.id = c.id_b
    )
    SELECT id_a, id_b, round(cos, 4) AS cosine FROM scored WHERE cos >= {_EMB_TH}
    """


@_q("dedup_embedding_lsh", _emb_lsh_oracle_sql())
def q_dedup_embedding_lsh(spark, sf):
    """The SCALE path for embedding near-dup detection
    (operators/similarity.py:lsh_near_pairs): hyperplane-LSH self-join
    candidates + exact cosine verify — replaces the label-blocked
    quadratic tier at corpus scale; driven with sha-derived literal
    planes so candidates AND scores are value-checked."""
    from filters_spark.operators.hashing import sha_planes
    from filters_spark.operators.similarity import lsh_near_pairs

    e = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return lsh_near_pairs(
        e, dim=_ANN_DIM, cosine_threshold=_EMB_TH,
        bits=_EMB_BITS, tables=_EMB_TABLES, seed=_EMB_SEED, max_bucket=1000,
        planes_fn=lambda t: sha_planes(_ANN_DIM, _EMB_BITS, _EMB_SEED + t),
    )


# --- filter layer round 2: kernel-path contract queries ----------------------
# Each routes through validate() so the driver verifies the OPERATOR
# (Arrow kernel / native Column path), not a SQL re-expression.


@_q(
    "filter_decimal_round",
    """
    SELECT event_id, CAST(round(CAST(value AS DECIMAL(18,2)), 1) AS VARCHAR) AS rounded
    FROM events WHERE event_id < 3000
    """,
)
def q_filter_decimal_round(spark, sf):
    """Decimal parse -> Round(to_nearest=0.1, HALF_UP) kernels
    (reference number.py:22-104, 280-334); input is the exact decimal
    string so both sides round the same exact value."""
    from filters_spark.operators.validate import validate

    ev = _t(spark, sf, "events").filter(F.col("event_id") < 3000)
    d = ev.select(
        "event_id", F.col("value").cast("decimal(18,2)").cast("string").alias("rounded")
    )
    v = validate(
        d,
        {"rounded": {"chain": [("decimal", {}), ("round", {"to_nearest": "0.1"})],
                     "dtype": "string"}},
        keep_raw=False,
    )
    return v.select("event_id", "rounded")


@_q(
    "filter_date_parse",
    """
    SELECT CAST(ts AS DATE) AS day, count(*) AS n
    FROM events GROUP BY CAST(ts AS DATE)
    """,
)
def q_filter_date_parse(spark, sf):
    """Date kernel: dateutil parse of 'MM/dd/yyyy' strings -> date
    (reference simple.py:268-291)."""
    from filters_spark.operators.validate import validate

    ev = _t(spark, sf, "events")
    d = ev.select(F.date_format("ts", "MM/dd/yyyy").alias("day"))
    v = validate(d, {"day": {"chain": ["date"], "dtype": "date"}}, keep_raw=False)
    return v.groupBy("day").agg(F.count("*").alias("n"))


@_q(
    "filter_casefold",
    """
    SELECT doc_id, lower(upper(text)) AS folded
    FROM documents WHERE doc_id < 500
    """,
)
def q_filter_casefold(spark, sf):
    """CaseFold kernel (str.casefold, reference string.py:106-139);
    documents are ASCII (verified) so casefold == lower for the oracle."""
    from filters_spark.operators.validate import validate

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    u = d.select("doc_id", F.upper("text").alias("folded"))
    v = validate(u, {"folded": {"chain": ["case_fold"], "dtype": "string"}}, keep_raw=False)
    return v.select("doc_id", "folded")


@_q(
    "filter_bytes_encode",
    """
    SELECT doc_id, to_base64(encode(text)) AS b64_bs, to_base64(encode(text)) AS b64_ba
    FROM documents WHERE doc_id < 300
    """,
)
def q_filter_bytes_encode(spark, sf):
    """ByteString (unicode->bytes, string.py:765-822) and ByteArray
    (simple.py:63-125) kernels; byte outputs compared as base64."""
    from filters_spark.operators.validate import validate

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    two = d.select("doc_id", F.col("text").alias("bs"), F.col("text").alias("ba"))
    v = validate(
        two,
        {
            "bs": {"chain": ["byte_string"], "dtype": "binary"},
            "ba": {"chain": ["byte_array"], "dtype": "binary"},
        },
        keep_raw=False,
    )
    # this Spark build's base64() chunks at 76 chars with CRLF
    # (legacy commons-codec behavior); strip to the canonical form
    b64 = lambda c: F.regexp_replace(F.base64(c), "[\\r\\n]", "")  # noqa: E731
    return v.select("doc_id", b64("bs").alias("b64_bs"), b64("ba").alias("b64_ba"))


@_q(
    "filter_base64_roundtrip",
    """
    SELECT doc_id, text AS decoded FROM documents WHERE doc_id < 300
    """,
)
def q_filter_base64_roundtrip(spark, sf):
    """Base64Decode kernel (ws strip, alphabet check, padding fixup,
    reference string.py:39-102): base64(text) built in Spark, decoded by
    the kernel; round-trip must restore the original text."""
    from filters_spark.operators.validate import validate

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    enc = d.select(
        "doc_id", F.encode(F.base64(F.encode("text", "utf-8")), "utf-8").alias("decoded")
    )
    v = validate(enc, {"decoded": {"chain": ["base64_decode"], "dtype": "binary"}}, keep_raw=False)
    return v.select("doc_id", F.col("decoded").cast("string").alias("decoded"))


@_q(
    "filter_max_bytes_truncate",
    """
    SELECT doc_id,
           CASE WHEN octet_length(encode(text)) > 100 THEN substr(text, 1, 100) ELSE text END AS clipped,
           octet_length(encode(text)) > 100 AS was_clipped
    FROM documents WHERE doc_id < 500
    """,
)
def q_filter_max_bytes(spark, sf):
    """MaxBytes kernel: UTF-8 byte budget with truncating replacement —
    the only filter whose error carries a non-None replacement
    (reference string.py:250-453). ASCII docs => byte==char positions
    for the oracle's substr."""
    from filters_spark.operators.validate import validate

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    v = validate(
        d.select("doc_id", F.col("text").alias("clipped")),
        {"clipped": {"chain": [("max_bytes", {"max_bytes": 100})], "dtype": "binary"}},
        keep_raw=False,
    )
    return v.select(
        "doc_id",
        F.col("clipped").cast("string").alias("clipped"),
        (F.size("_errors") > 0).alias("was_clipped"),
    )


@_q(
    "filter_ip_canonical",
    """
    SELECT ((user_id % 300) <= 255 AND event_id % 11 != 0) AS is_valid,
           count(*) AS n,
           count(DISTINCT CASE WHEN (user_id % 300) <= 255 AND event_id % 11 != 0
                 THEN (user_id % 300) || '.' || (event_id % 256) || '.7.9' END) AS n_ips
    FROM events
    GROUP BY 1
    """,
)
def q_filter_ip(spark, sf):
    """IpAddress kernel (inet_pton gate, reference string.py:143-214):
    synthesized dotted quads, octet>255 and garbage rows must fail."""
    from filters_spark.operators.validate import validate

    ev = _t(spark, sf, "events")
    ip = F.when(F.col("event_id") % 11 == 0, F.lit("not-an-ip")).otherwise(
        F.concat_ws(
            ".",
            (F.col("user_id") % 300).cast("string"),
            (F.col("event_id") % 256).cast("string"),
            F.lit("7"), F.lit("9"),
        )
    )
    v = validate(
        ev.select(ip.alias("ip")),
        {"ip": {"chain": [("ip_address", {"ipv4": True})], "dtype": "string"}},
        keep_raw=False,
    )
    return v.groupBy((F.size("_errors") == 0).alias("is_valid")).agg(
        F.count("*").alias("n"), F.countDistinct("ip").alias("n_ips")
    )


@_q(
    "filter_mapper_nested",
    """
    SELECT CASE WHEN k > 49 THEN 'props.k' END AS err_key,
           CASE WHEN k > 49 THEN 'too_big' END AS err_code,
           count(*) AS n,
           CAST(sum(CASE WHEN k <= 49 THEN k END) AS BIGINT) AS sum_k
    FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
    GROUP BY 1, 2
    """,
)
def q_filter_mapper_nested(spark, sf):
    """JsonDecode -> Mapper composition with dotted error keys
    (reference string.py:217-246 + complex.py:174-383): per-key chains
    over the decoded payload; 'props.k' failures poison only that slot."""
    from filters_spark.operators.validate import validate

    ev = _t(spark, sf, "events")
    spec = {
        "props": {
            "chain": [
                "json_decode",
                {
                    "filter": "mapper",
                    "filter_map": {"k": [("max", {"max_value": 49})]},
                    "allow_missing_keys": False,
                    "allow_extra_keys": False,
                },
            ],
            "dtype": "struct<k:bigint>",
        }
    }
    v = validate(ev.select("props"), spec, keep_raw=False)
    first = F.try_element_at("_errors", F.lit(1))
    return v.groupBy(
        first["key"].alias("err_key"), first["code"].alias("err_code")
    ).agg(F.count("*").alias("n"), F.sum(F.col("props")["k"]).alias("sum_k"))


@_q(
    "filter_repeater_elements",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_parts,
           len(list_filter(string_split(text, ' '), t -> len(t) > 6)) AS n_dropped,
           len(list_filter(string_split(text, ' '), t -> len(t) > 6)) AS n_errs
    FROM documents WHERE doc_id < 400
    """,
)
def q_filter_repeater(spark, sf):
    """Split -> Repeater(max_length) composition (reference
    complex.py:21-170): per-element chain, invalid elements nulled in
    place, one dotted error per bad slot."""
    from filters_spark.operators.validate import validate

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 400)
    spec = {
        "toks": {
            "chain": [
                ("split", {"pattern": " "}),
                {"filter": "repeater", "steps": [("max_length", {"max_length": 6})]},
            ],
            "dtype": "array<string>",
        }
    }
    v = validate(d.select("doc_id", F.col("text").alias("toks")), spec, keep_raw=False)
    return v.select(
        "doc_id",
        F.size("toks").alias("n_parts"),
        F.size(F.filter("toks", lambda x: x.isNull())).alias("n_dropped"),
        F.size("_errors").alias("n_errs"),
    )


@_q(
    "filter_presence_modes",
    """
    SELECT opt_val, empty_err, count(*) AS n FROM (
      SELECT CASE WHEN event_id % 5 IN (0, 1) THEN 'unknown' ELSE event_type END AS opt_val,
             CASE WHEN event_id % 5 IN (0, 1) THEN NULL ELSE 'not_empty' END AS empty_err
      FROM events
    ) GROUP BY opt_val, empty_err
    """,
)
def q_filter_presence(spark, sf):
    """Empty / Optional / NoOp kernels (reference simple.py:294-319,
    541-574): None and '' pass Empty and are defaulted by Optional;
    non-empty values fail Empty and pass through Optional + NoOp."""
    from filters_spark.operators.validate import validate

    ev = _t(spark, sf, "events")
    s = F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("string")).when(
        F.col("event_id") % 5 == 1, F.lit("")
    ).otherwise(F.col("event_type"))
    d = ev.select(s.alias("c_empty"), s.alias("c_opt"))
    v = validate(
        d,
        {
            "c_empty": {"chain": ["empty"], "dtype": "string"},
            "c_opt": {"chain": [("optional", {"default": "unknown"}), "noop"], "dtype": "string"},
        },
        keep_raw=False,
    )
    first = F.try_element_at("_errors", F.lit(1))
    return v.groupBy(
        F.col("c_opt").alias("opt_val"), first["code"].alias("empty_err")
    ).agg(F.count("*").alias("n"))


@_q(
    "filter_type_gate",
    """
    SELECT val, err_code, count(*) AS n FROM (
      SELECT CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_type END AS val,
             CASE WHEN event_id % 3 = 0 THEN 'wrong_type' END AS err_code
      FROM events
    ) GROUP BY val, err_code
    """,
)
def q_filter_type_gate(spark, sf):
    """Type kernel isinstance gate (reference base.py:623-713) over
    mixed-type JSON payloads: objects fail Type(str), strings pass."""
    from filters_spark.functions import kernels as K
    from filters_spark.operators.validate import validate

    ev = _t(spark, sf, "events")
    j = F.when(F.col("event_id") % 3 == 0, F.col("props")).otherwise(
        F.concat(F.lit('"'), F.col("event_type"), F.lit('"'))
    )
    v = validate(
        ev.select(j.alias("val")),
        {"val": {"chain": [K.JsonDecodeK(), K.TypeK((str,))], "dtype": "string"}},
        keep_raw=False,
    )
    first = F.try_element_at("_errors", F.lit(1))
    return v.groupBy("val", first["code"].alias("err_code")).agg(F.count("*").alias("n"))


@_q(
    "filter_array_gate",
    """
    SELECT err_code, count(*) AS n, CAST(sum(first_elem) AS BIGINT) AS sum_first FROM (
      SELECT CASE WHEN event_id % 4 = 0 THEN 'wrong_type' END AS err_code,
             CASE WHEN event_id % 4 != 0
                  THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS first_elem
      FROM events
    ) GROUP BY err_code
    """,
)
def q_filter_array_gate(spark, sf):
    """Array kernel: non-string Sequence gate (reference
    simple.py:35-60) + MinLength over list values: JSON objects fail,
    JSON arrays pass and keep their elements."""
    from filters_spark.functions import kernels as K
    from filters_spark.operators.validate import validate

    ev = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    j = F.when(F.col("event_id") % 4 == 0, F.col("props")).otherwise(
        F.format_string("[%d,%d]", k, k + 1)
    )
    v = validate(
        ev.select(j.alias("arr")),
        {"arr": {"chain": [K.JsonDecodeK(), K.ArrayK(), K.MinLengthK(2)], "dtype": "array<bigint>"}},
        keep_raw=False,
    )
    first = F.try_element_at("_errors", F.lit(1))
    return v.groupBy(first["code"].alias("err_code")).agg(
        F.count("*").alias("n"),
        F.sum(F.element_at("arr", 1)).alias("sum_first"),
    )


# --- corpus curation round 2: exact jaccard oracle + IVF ----------------------


@_q(
    "dedup_ngram_jaccard",
    """
    WITH g AS (
      SELECT doc_id,
             string_split_regex(lower(text), '\\s+') AS toks
      FROM documents WHERE doc_id < 1000
    ), s AS (
      SELECT doc_id, toks[1] AS blk,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' ')
             )) AS grams
      FROM g
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
    FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
    """,
)
def q_dedup_ngram_jaccard(spark, sf):
    """Exact word-3-gram Jaccard pairs, prefix-blocked — the exact
    verification tier behind MinHash (operators/dedupe.py)."""
    from filters_spark.operators.dedupe import ngram_jaccard_pairs

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 1000)
    return ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)


@_q(
    "dedup_clusters",
    """
    WITH RECURSIVE g AS (
      SELECT doc_id,
             string_split_regex(lower(text), '\\s+') AS toks
      FROM documents WHERE doc_id < 1000
    ), s AS (
      SELECT doc_id, toks[1] AS blk,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' ')
             )) AS grams
      FROM g
    ), p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
    ), e AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION SELECT id_b, id_a FROM p
    ), walk(id, label) AS (
      SELECT src, src FROM e
      UNION
      SELECT e.src, w.label FROM e JOIN walk w ON e.dst = w.id
    )
    SELECT id, min(label) AS cluster_id FROM walk GROUP BY id
    """,
)
def q_dedup_clusters(spark, sf):
    """Pairs -> connected components -> (id, min-id representative):
    the keep-one step after any near-dup pair generator. Iterative
    hash-min label propagation (operators/dedupe.py:dedupe_clusters) vs
    an exact recursive-CTE reachability oracle."""
    from filters_spark.operators.dedupe import dedupe_clusters, ngram_jaccard_pairs

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 1000)
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    return dedupe_clusters(pairs)


@_q(
    "ann_ivf_assign",
    """
    WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cvec
               FROM embeddings WHERE vec_id < 4),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
               FROM embeddings WHERE vec_id >= 4 AND vec_id < 1000)
    SELECT vec_id, cell FROM (
      SELECT v.vec_id, c.cell,
             row_number() OVER (PARTITION BY v.vec_id
                                ORDER BY list_cosine_similarity(v.vec, c.cvec) DESC, c.cell ASC) AS rn
      FROM v, c
    ) WHERE rn = 1
    """,
)
def q_ann_ivf_assign(spark, sf):
    """IVF coarse quantization: nearest-centroid assignment as a
    map-only broadcast argmax (operators/similarity.py:ivf_assign)."""
    from filters_spark.operators.similarity import ivf_assign

    e = _t(spark, sf, "embeddings")
    cents = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cell"), F.col("embedding").cast("array<double>").alias("centroid")
    )
    vecs = e.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 1000)).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return ivf_assign(vecs, cents).select("vec_id", "cell")


# --- training-data sampling / packing ----------------------------------------


@_q(
    "sample_hash_split",
    """
    SELECT split, lang, count(*) AS n FROM (
      SELECT lang,
             CASE WHEN ((doc_id % 2147483648) * 1099087573 % 2147483648)
                       / 2147483648.0 < 0.98 THEN 'train'
                  WHEN ((doc_id % 2147483648) * 1099087573 % 2147483648)
                       / 2147483648.0 < 0.99 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ) GROUP BY split, lang
    """,
)
def q_sample_hash_split(spark, sf):
    """Deterministic weighted train/val/test split by id hash
    (operators/sampling.py:hash_split) — bit-identical assignment in
    any engine with 64-bit integer math; no RNG, no shuffle."""
    from filters_spark.operators.sampling import hash_split

    d = _t(spark, sf, "documents")
    return hash_split(d, "doc_id", {"train": 0.98, "val": 0.01, "test": 0.01}).groupBy(
        "split", "lang"
    ).agg(F.count("*").alias("n"))


@_q(
    "sample_quota_per_source",
    """
    SELECT source, doc_id FROM (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn <= 50
    """,
)
def q_sample_quota(spark, sf):
    """Per-source caps (corpus balancing): keep at most 50 docs per
    source, deterministically (operators/sampling.py:quota_per_group)."""
    from filters_spark.operators.sampling import quota_per_group

    d = _t(spark, sf, "documents")
    return quota_per_group(d, "source", "doc_id", 50).select("source", "doc_id")


@_q(
    "sample_pack_sequences",
    """
    SELECT seq_id, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_tokens FROM (
      SELECT concat(source, '-', CAST(CAST(floor((sum(n_chars) OVER (PARTITION BY source
                         ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_chars) / 4096.0)
                         AS BIGINT) AS VARCHAR)) AS seq_id,
             n_chars
      FROM documents WHERE doc_id < 2000
    ) GROUP BY seq_id
    """,
)
def q_sample_pack(spark, sf):
    """Greedy contiguous packing of documents into 4096-token training
    sequences (operators/sampling.py:pack_sequences), SHARDED by
    ``source`` (a partitioned window — no orderBy-only global window),
    summarized per sequence; n_chars stands in for the token count
    column. The oracle CASTs its sum to BIGINT: DuckDB sum(BIGINT) is
    HUGEINT, which pandas renders as float64 and the driver hash would
    see '4568.0' vs Spark's '4568'."""
    from filters_spark.operators.sampling import pack_sequences

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 2000)
    packed = pack_sequences(d, "doc_id", "n_chars", 4096, partition_col="source")
    return packed.groupBy("seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_tokens"),
    )


@_q(
    "sample_stratified",
    """
    SELECT doc_id, lang FROM documents
    WHERE ((doc_id % 2147483648) * 1099087573 % 2147483648) / 2147483648.0
          < CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 1.0
                      WHEN 'de' THEN 0.25 ELSE 0.1 END
    """,
)
def q_sample_stratified(spark, sf):
    """Per-stratum sampling rates (corpus mixing: downweight en to 50%,
    keep zh, thin the rest) via operators/sampling.py:stratified_sample
    — map-only deterministic hash test, no shuffle, no RNG."""
    from filters_spark.operators.sampling import stratified_sample

    d = _t(spark, sf, "documents")
    return stratified_sample(
        d, "lang", {"en": 0.5, "zh": 1.0, "de": 0.25}, "doc_id", default_frac=0.1
    ).select("doc_id", "lang")


@_q(
    "sample_balance_strata",
    """
    WITH c AS (
      SELECT lang AS s, count(*) AS n FROM documents GROUP BY lang
    ), t AS (
      SELECT min(n) AS target FROM c
    )
    SELECT doc_id, lang FROM documents
    JOIN c ON lang = c.s CROSS JOIN t
    WHERE ((doc_id % 2147483648) * 1099087573 % 2147483648) / 2147483648.0
          < least(1.0, target / n)
    """,
)
def q_sample_balance(spark, sf):
    """Downsample every language toward the smallest language's count
    (operators/sampling.py:balance_strata): one stratum-count aggregate
    broadcast back, then the same map-only hash keep-test as
    stratified_sample — no window, no hot-stratum task."""
    from filters_spark.operators.sampling import balance_strata

    d = _t(spark, sf, "documents")
    return balance_strata(d, "lang", "doc_id").select("doc_id", "lang")


@_q(
    "search_tfidf_terms",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> len(t) > 0) AS w
      FROM documents
    ), tc AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT doc_id, unnest(w) AS term FROM d
      ) GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, count(*) AS dfreq FROM tc GROUP BY term
      HAVING count(*) >= 2
    ), n AS (SELECT count(*) AS n FROM documents)
    SELECT doc_id, term, tf, tfidf FROM (
      SELECT tc.doc_id, tc.term, tc.tf,
             round(CAST(tc.tf AS DOUBLE) * ln(n.n / dfq.dfreq), 4) AS tfidf,
             row_number() OVER (
               PARTITION BY tc.doc_id
               ORDER BY round(CAST(tc.tf AS DOUBLE) * ln(n.n / dfq.dfreq), 4)
                        DESC, tc.term
             ) AS rn
      FROM tc JOIN dfq USING (term) CROSS JOIN n
    ) WHERE rn <= 3
    """,
)
def q_search_tfidf(spark, sf):
    """Top-3 characteristic terms per document by tf-idf
    (operators/search.py:tfidf_topk_terms, min_df=2): explode +
    doc-term counts, vocabulary doc-frequency pass, keyed join back,
    deterministic per-doc top-k on the rounded score."""
    from filters_spark.operators.search import tfidf_topk_terms

    return tfidf_topk_terms(_t(spark, sf, "documents"), k=3, min_df=2)


@_q(
    "search_inverted_postings",
    """
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> len(t) > 0)) AS w
      FROM documents
    ), t AS (
      SELECT doc_id, unnest(w) AS term FROM d
    ), r AS (
      SELECT term, doc_id,
             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      FROM t
    ), n AS (SELECT count(*) AS n FROM documents)
    SELECT term, df_count, postings FROM (
      SELECT term, CAST(count(*) AS BIGINT) AS df_count,
             array_to_string(list_sort(list(doc_id) FILTER (rn <= 20)), ',')
               AS postings
      FROM r GROUP BY term
    ) CROSS JOIN n
    WHERE df_count >= 2 AND df_count <= 0.5 * n
    """,
)
def q_search_postings(spark, sf):
    """Inverted-index build (operators/search.py:inverted_postings):
    per-term doc frequency + capped sorted posting list (presence
    postings over distinct per-doc terms); vocabulary trimmed to
    2 <= df <= 50% of the corpus. The cap bounds the aggregation
    buffer BEFORE collect_list (rank window sharing the groupBy's
    exchange), so stopword terms cost O(cap), not O(corpus)."""
    from filters_spark.operators.search import inverted_postings

    return inverted_postings(
        _t(spark, sf, "documents"), min_df=2, max_df_frac=0.5, max_postings=20
    )


@_q(
    "agg_rollup_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark, sf):
    """Hierarchical subtotal aggregate (F.rollup == SQL GROUP BY
    ROLLUP): per (flag, status), per flag, and grand total in one
    pass — Spark expands grouping sets in a single shuffle with
    map-side partials."""
    li = _t(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity").cast("double"), 2).alias("sum_qty"),
    )


@_q(
    "agg_cube_order_stats",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_totalprice) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_cube(spark, sf):
    """Full cross-dimensional subtotals (F.cube == GROUP BY CUBE) with
    ``grouping_id`` disambiguating genuine NULL group values from
    subtotal rows — the standard OLAP cube over a fact table. Like
    rollup, Spark expands the grouping sets inside ONE shuffle with
    map-side partial aggregation; the revenue sum stays DECIMAL-exact
    until the final cast so partition order can't perturb the double."""
    o = _t(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("n"),
        F.sum("o_totalprice").cast("double").alias("revenue"),
    ).select("o_orderstatus", "o_orderpriority", "gid", "n", "revenue")


@_q(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_totalprice) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_agg_grouping_sets(spark, sf):
    """Explicit GROUPING SETS — the third member of the grouping
    family next to CUBE and ROLLUP: per-status totals, per-priority
    totals and the grand total in ONE aggregation (one shuffle with
    map-side partials over the expanded sets), grouping_id
    disambiguating subtotal rows from genuine NULL groups. Spelled
    through spark.sql — the declarative surface Catalyst plans
    identically to the DataFrame cube/rollup calls."""
    _t(spark, sf, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               count(*) AS n,
               CAST(sum(o_totalprice) AS DOUBLE) AS revenue
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


@_q(
    "agg_pivot_status",
    """
    SELECT o_orderpriority AS priority,
           CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS open_n,
           CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS done_n,
           CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS part_n,
           CAST(sum(o_totalprice) FILTER (o_orderstatus = 'F') AS DOUBLE)
             AS done_revenue
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_pivot_status(spark, sf):
    """Pivot (long -> wide) via ``DataFrame.pivot`` with an EXPLICIT
    value list — the scale-safe spelling: without it Spark runs an
    extra distinct job over the pivot column and the output schema
    depends on the data. The oracle respells it as conditional
    aggregation (FILTER clauses), which is exactly the physical plan
    Spark compiles a pivot to — one shuffle, map-side partials, no
    per-value scan."""
    o = _t(spark, sf, "orders")
    wide = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            # count(*) is rejected inside a pivot agg — count(1) is the
            # same aggregate and pivot-legal
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").cast("double").alias("rev"),
        )
    )
    return wide.select(
        "priority",
        F.coalesce("O_n", F.lit(0)).alias("open_n"),
        F.coalesce("F_n", F.lit(0)).alias("done_n"),
        F.coalesce("P_n", F.lit(0)).alias("part_n"),
        F.col("F_rev").alias("done_revenue"),
    )


@_q(
    "join_anti_idle_customers",
    """
    SELECT c_custkey, c_name, c_mktsegment,
           CAST(c_acctbal AS DOUBLE) AS acctbal
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def q_join_anti_idle_customers(spark, sf):
    """Anti join (customers with no urgent order — the TPC-H Q22
    shape) as a native ``left_anti`` join: Catalyst plans NOT EXISTS
    and left_anti identically. The priority predicate is pushed below
    the join into the orders scan, and the build side is pruned to the
    join key only — at scale the anti join's shuffle carries one
    column, not the orders table."""
    c = _t(spark, sf, "customer")
    o = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment",
        F.col("c_acctbal").cast("double").alias("acctbal"),
    )


@_q(
    "agg_value_percentiles",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(value, 0.5), 4)  AS p50,
           round(quantile_cont(value, 0.9), 4)  AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_value_percentiles(spark, sf):
    """Exact percentiles per group (Spark ``percentile`` == DuckDB
    ``quantile_cont``: both sort and linearly interpolate at rank
    (n-1)*p). One shuffle on the group key; Spark's exact percentile
    buffers each group's values, so group cardinality — not table
    size — bounds memory; at 100 TB with huge groups switch to
    ``percentile_approx`` (t-digest, mergeable map-side partials) —
    same call shape, bounded state."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.expr("percentile(value, 0.5D)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9D)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99D)"), 4).alias("p99"),
    )


@_q(
    "stream_windowed_stats",
    """
    SELECT date_trunc('hour', ts) AS win_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q_stream_windowed_stats(spark, sf):
    """Event-time tumbling-window aggregate (streaming/windows.py:
    windowed_event_stats) run in BATCH mode — the same logical plan
    runs incrementally under Structured Streaming with watermark-
    bounded state (tests/test_streaming.py pins append-mode
    finalization + late-data drop). Spark's epoch-aligned 1h window
    start == DuckDB date_trunc('hour'). Value summed as DECIMAL so the
    result is partition-order independent."""
    from filters_spark.streaming.windows import windowed_event_stats

    return windowed_event_stats(
        _t(spark, sf, "events"), window="1 hour", watermark="10 minutes"
    )


@_q(
    "feature_rolling_counts",
    """
    SELECT event_id, user_id, ts,
           CAST(count(*) OVER w AS BIGINT) AS n_span,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_span
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_feature_rolling_counts(spark, sf):
    """Per-event trailing 7-day activity features (operators/events.py:
    rolling_features): a time-RANGE window (ties are frame peers, so
    the result is deterministic without an ordering tiebreak), DECIMAL
    sum for partition-order independence, one shuffle on the user
    key."""
    from filters_spark.operators.events import rolling_features

    return rolling_features(_t(spark, sf, "events"), span_secs=7 * 86400)


@_q(
    "stream_session_stats",
    """
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 28800
                  THEN 1 ELSE 0 END AS ns
      FROM events
    ), s AS (
      SELECT *, SUM(ns) OVER (
        PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 8 HOUR AS session_end,
           user_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_stream_session_stats(spark, sf):
    """Gap-based session windows (streaming/windows.py:
    session_event_stats) in batch mode; the identical plan runs
    incrementally under Structured Streaming with watermark-bounded
    session state (tests/test_streaming.py pins the streaming run).
    Spark merges TOUCHING windows — an event exactly gap after the
    last still extends the session — so the oracle starts a new
    session only at diff > gap (strict); session end = last event +
    gap in both engines."""
    from filters_spark.streaming.windows import session_event_stats

    return session_event_stats(
        _t(spark, sf, "events"), gap="8 hours", watermark="10 minutes"
    )


@_q(
    "text_pii_redact",
    # decorate each document with deterministic doc_id-derived PII spans
    # (the corpus itself is clean prose) so the redaction path has real
    # matches to find; both engines build the identical decorated text.
    """
    WITH d AS (
      SELECT doc_id,
             substr(text, 1, 40) || ' contact ops' || doc_id ||
             '@data.example.com from 10.' || (doc_id % 200) ||
             '.3.44 or call +1 415 55' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
             '\\+[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
           len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(text,
             '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS n_ipv4,
           len(regexp_extract_all(text,
             '\\+[0-9][0-9 ()-]{6,}[0-9]')) AS n_phone,
           len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) +
           len(regexp_extract_all(text,
             '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) +
           len(regexp_extract_all(text,
             '\\+[0-9][0-9 ()-]{6,}[0-9]')) AS n_pii
    FROM d
    """,
)
def q_text_pii_redact(spark, sf):
    """PII scrubbing (operators/textstats.py: pii_redact) — map-only
    native regexp_replace/regexp_count, dialect-safe patterns (Java ==
    RE2 on explicit classes + \\b). The corpus is clean, so the query
    injects deterministic doc_id-derived emails/IPs/phones first and
    the oracle builds the same decorated text."""
    from filters_spark.operators.textstats import pii_redact

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" contact ops"), F.col("doc_id").cast("string"),
            F.lit("@data.example.com from 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".3.44 or call +1 415 55"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return pii_redact(d).select(
        "doc_id", "redacted",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_pii").cast("long").alias("n_pii"),
    )


@_q(
    "sample_chunk_documents",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'),
                         t -> len(t) > 0) AS w
      FROM documents
    ), c AS (
      SELECT doc_id, w, len(w) AS n,
             greatest(CAST(1 AS BIGINT),
                      CAST(ceil((len(w) - 16) / 48.0) AS BIGINT)) AS n_chunks
      FROM d WHERE len(w) > 0
    ), e AS (
      SELECT doc_id, w, n, unnest(range(0, n_chunks)) AS chunk_id FROM c
    )
    SELECT doc_id, chunk_id,
           chunk_id * 48 + 1 AS start_token,
           CAST(len(w[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS BIGINT)
             AS n_tokens,
           array_to_string(w[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ')
             AS chunk_text
    FROM e
    """,
)
def q_sample_chunk_documents(spark, sf):
    """Context-window chunking (operators/sampling.py:
    chunk_documents): 64-token windows, 16-token overlap. Map-only
    explode(sequence)/slice — no shuffle, chunk-sized output rows."""
    from filters_spark.operators.sampling import chunk_documents

    return chunk_documents(
        _t(spark, sf, "documents"), chunk_tokens=64, overlap=16
    )


# --- multimodal plumbing (stub decode) ---------------------------------------


@_q(
    "multimodal_image_features",
    # the stub decode is sha256-derived, so DuckDB can mirror it exactly:
    # phash = first 8 bytes of sha256(payload) as signed big-endian int64,
    # mean_luma = round(abs(double(phash)) % 255 / 255, 6).
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 1920 + 1 AS INT) AS width,
             CAST(doc_id % 1080 + 1 AS INT) AS height,
             octet_length(CAST(text AS BLOB)) AS n_bytes,
             CAST(concat('0x', substr(sha256(text), 1, 16)) AS UBIGINT) AS u
      FROM documents WHERE doc_id < 2000
    )
    SELECT media_id, width, height, n_bytes,
           CAST(CASE WHEN u >= 9223372036854775808
                     THEN CAST(u AS HUGEINT) - 18446744073709551616
                     ELSE CAST(u AS HUGEINT) END AS BIGINT) AS phash,
           round(abs(CAST(CAST(CASE WHEN u >= 9223372036854775808
                     THEN CAST(u AS HUGEINT) - 18446744073709551616
                     ELSE CAST(u AS HUGEINT) END AS BIGINT) AS DOUBLE)) % 255 / 255,
                 6) AS mean_luma
    FROM m
    """,
)
def q_multimodal(spark, sf):
    """Arrow-batched mapInPandas decode plumbing (stub codecs) over a
    media frame derived from ``documents`` — payload = UTF-8 bytes of
    the text — so the whole path (binary column in, typed features out)
    is value-checked against DuckDB (operators/multimodal.py)."""
    from filters_spark.operators.multimodal import decode_images

    media = _t(spark, sf, "documents").filter(F.col("doc_id") < 2000).select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 1920 + 1).cast("int").alias("width"),
        (F.col("doc_id") % 1080 + 1).cast("int").alias("height"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return decode_images(media)


@_q(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS media_id,
           CAST(g.i AS INT) AS frame_idx,
           CAST(g.i AS BIGINT) * 5000 AS ts_ms
    FROM documents,
         LATERAL (SELECT unnest(generate_series(
             0, CAST(greatest((doc_id * 131 % 60000 + 1000) // 5000, 1) AS INT) - 1)) AS i) g
    WHERE doc_id < 2000
    """,
)
def q_multimodal_frames(spark, sf):
    """Frame-sampling cadence (one row per sampled frame) over video
    rows whose duration derives from ``doc_id`` — the binary frame
    column is dropped so the cadence contract is value-checked; frame
    bytes determinism is pinned in pytest (operators/multimodal.py)."""
    from filters_spark.operators.multimodal import sample_frames

    media = _t(spark, sf, "documents").filter(F.col("doc_id") < 2000).select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") * 131 % 60000 + 1000).alias("duration_ms"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return sample_frames(media, every_ms=5000).drop("frame")


# --- lake layer: snapshots / changefeed / merge-on-read / skipping / rollback
#
# Each query round-trips a deterministic change stream (derived from the
# orders table, so DuckDB can recompute the expected state from the same
# parquet) through a REAL LakeTable in a temp dir: CoW base commit,
# merge-on-read delta commit, then the read surface under test. The
# oracle never sees the lake — it recomputes the logical state in SQL,
# so equality checks the whole commit/manifest/merge/prune machinery.

# base state (snapshot 1): unique (repo, path) keys from o_orderkey % 3 == 0
_LAKE_BASE_CTE = """
    base AS (
      SELECT 'r' || CAST(o_custkey % 40 AS VARCHAR) AS repo,
             'p' || CAST(o_orderkey AS VARCHAR) AS path,
             printf('%012x', o_orderkey) AS "commit",
             o_orderkey AS event_seq,
             o_orderstatus AS lang,
             o_orderpriority AS content
      FROM orders WHERE o_orderkey % 3 = 0
    )
"""

# deltas (snapshot 2): updates / deletes / inserts, pairwise-disjoint keys
# (updates need even keys, deletes odd ones, inserts live on %3==1 keys),
# every delta commit > every base commit (the +2^30 offset)
_LAKE_DELTA_CTE = """
    deltas AS (
      SELECT 'r' || CAST(o_custkey % 40 AS VARCHAR) AS repo,
             'p' || CAST(o_orderkey AS VARCHAR) AS path,
             printf('%012x', o_orderkey + 1073741824) AS "commit",
             o_orderkey AS event_seq,
             o_orderstatus AS lang,
             'U:' || o_orderpriority AS content,
             'U' AS op
      FROM orders WHERE o_orderkey % 6 = 0
      UNION ALL
      SELECT 'r' || CAST(o_custkey % 40 AS VARCHAR),
             'p' || CAST(o_orderkey AS VARCHAR),
             printf('%012x', o_orderkey + 1073741824),
             o_orderkey, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'D'
      FROM orders WHERE o_orderkey % 15 = 0 AND o_orderkey % 2 = 1
      UNION ALL
      SELECT 'r' || CAST(o_custkey % 40 AS VARCHAR),
             'n' || CAST(o_orderkey AS VARCHAR),
             printf('%012x', o_orderkey + 1073741824),
             o_orderkey, o_orderstatus, 'I:' || o_orderpriority, 'U'
      FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 7 = 0
    )
"""

# shared oracle tails over (base, deltas): several lake queries certify
# the SAME final-state semantics through different engine surfaces
# (MoR read vs WAP publish; staged wap_diff vs committed snapshot_diff)
# — their oracles are ONE definition here, so a change to the LWW fold
# can never desynchronize a pair of copies
_LAKE_LWW_CTES = """
    unioned AS (
      SELECT repo, path, "commit", event_seq, lang, content, 'K' AS op FROM base
      UNION ALL
      SELECT repo, path, "commit", event_seq, lang, content, op FROM deltas
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY repo, path ORDER BY "commit" DESC, event_seq DESC
      ) AS rn FROM unioned
    )
"""

_LAKE_LWW_STATE_ORACLE = f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE},
    {_LAKE_LWW_CTES}
    SELECT repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D'
"""

_LAKE_STATE_DIFF_ORACLE = f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE},
    {_LAKE_LWW_CTES},
    old_state AS (SELECT repo, path, lang, content FROM base),
    new_state AS (
      SELECT repo, path, lang, content FROM ranked WHERE rn = 1 AND op <> 'D'
    )
    SELECT coalesce(n.repo, o.repo) AS repo,
           coalesce(n.path, o.path) AS path,
           CASE WHEN o.repo IS NULL THEN 'I'
                WHEN n.repo IS NULL THEN 'D' ELSE 'U' END AS op,
           n.lang AS lang, n.content AS content
    FROM old_state o FULL JOIN new_state n
      ON o.repo = n.repo AND o.path = n.path
    WHERE o.repo IS NULL OR n.repo IS NULL
       OR o.lang IS DISTINCT FROM n.lang
       OR o.content IS DISTINCT FROM n.content
"""


def _lake_base_df(spark, sf) -> DataFrame:
    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") % 3 == 0)
    return o.select(
        F.concat(F.lit("r"), (F.col("o_custkey") % 40).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("o_orderkey").cast("string")).alias("path"),
        F.format_string("%012x", F.col("o_orderkey")).alias("commit"),
        F.col("o_orderkey").alias("event_seq"),
        F.col("o_orderstatus").alias("lang"),
        F.col("o_orderpriority").alias("content"),
    ).withColumn("content_sha", F.sha2("content", 256))


def _lake_delta_df(spark, sf) -> DataFrame:
    o = _t(spark, sf, "orders")
    repo = F.concat(F.lit("r"), (F.col("o_custkey") % 40).cast("string"))
    cmt = F.format_string("%012x", F.col("o_orderkey") + F.lit(1073741824))
    null_s = F.lit(None).cast("string")
    upd = o.filter(F.col("o_orderkey") % 6 == 0).select(
        repo.alias("repo"),
        F.concat(F.lit("p"), F.col("o_orderkey").cast("string")).alias("path"),
        cmt.alias("commit"), F.col("o_orderkey").alias("event_seq"),
        F.col("o_orderstatus").alias("lang"),
        F.concat(F.lit("U:"), F.col("o_orderpriority")).alias("content"),
        F.lit("U").alias("op"),
    )
    dels = o.filter((F.col("o_orderkey") % 15 == 0) & (F.col("o_orderkey") % 2 == 1)).select(
        repo.alias("repo"),
        F.concat(F.lit("p"), F.col("o_orderkey").cast("string")).alias("path"),
        cmt.alias("commit"), F.col("o_orderkey").alias("event_seq"),
        null_s.alias("lang"), null_s.alias("content"), F.lit("D").alias("op"),
    )
    ins = o.filter((F.col("o_orderkey") % 3 == 1) & (F.col("o_orderkey") % 7 == 0)).select(
        repo.alias("repo"),
        F.concat(F.lit("n"), F.col("o_orderkey").cast("string")).alias("path"),
        cmt.alias("commit"), F.col("o_orderkey").alias("event_seq"),
        F.col("o_orderstatus").alias("lang"),
        F.concat(F.lit("I:"), F.col("o_orderpriority")).alias("content"),
        F.lit("U").alias("op"),
    )
    return upd.unionByName(dels).unionByName(ins)


_LAKE_STATE_COLS = ["repo", "path", "commit", "event_seq", "lang", "content", "content_sha"]


def _lake_build(spark, sf, deltas: bool = True, skipping: bool = False,
                fragment: bool = False):
    """Create a throwaway LakeTable, commit the base slice (snapshot 1)
    and, optionally, the delta slice as a merge-on-read commit
    (snapshot 2). ``skipping=True`` declares event_seq stats+sort
    clustering and range-partitions the base write so each bucket holds
    several files with disjoint event_seq ranges (the layout the
    min/max skipping needs to be selective)."""
    from filters_spark.lake.table import LakeTable, bucket_expr

    root = os.path.join(_tmpdir("filters_spark_lakeq_"), "lake")
    t = LakeTable.create(
        spark, root, ["repo", "path"], num_buckets=8,
        stats_cols=["event_seq"] if skipping else None,
        sort_cols=["event_seq"] if skipping else None,
    )
    bkt = bucket_expr(F.col("repo"), F.col("path"), 8, 16).cast("int").alias("_bucket")
    base = _lake_base_df(spark, sf).select("*", bkt)
    if skipping:
        base = base.repartitionByRange(8, "event_seq")
    elif fragment:
        # scatter each bucket across tasks so every bucket lands as
        # several small files (the rewrite_data_files fixture shape)
        base = base.repartition(8)
    touched = sorted(r[0] for r in base.select("_bucket").distinct().collect())
    t.commit_buckets(base, touched, {b: "000000000001:0000000000" for b in touched})
    if deltas:
        _lake_commit_delta_slice(t, spark, sf)
    return t


def _lake_commit_base_slice_mor(t, spark, sf) -> None:
    """Commit the BASE slice of the lake fixture as a merge-on-read
    delta commit (snapshot 1, every row op='U') — for queries whose
    source must be all-MoR so ``changes(0, ...)`` can feed a follower
    (incremental sync, Debezium egress). Bucket/salt constants and the
    watermark spelling stay in lockstep with _lake_build /
    _lake_commit_delta_slice."""
    from filters_spark.lake.table import bucket_expr

    bkt = bucket_expr(F.col("repo"), F.col("path"), 8, 16).cast("int").alias("_bucket")
    base = (
        _lake_base_df(spark, sf)
        .drop("content_sha")
        .withColumn("op", F.lit("U"))
        .select("*", bkt)
    )
    touched = sorted(r[0] for r in base.select("_bucket").distinct().collect())
    t.commit_deltas(base, touched, {b: "000000000001:0000000000" for b in touched})


def _lake_commit_delta_slice(t, spark, sf) -> None:
    """The MoR delta commit (snapshot 2) of the lake fixture, split out
    so queries can interleave work between the two commits."""
    from filters_spark.lake.table import bucket_expr

    bkt = bucket_expr(F.col("repo"), F.col("path"), 8, 16).cast("int").alias("_bucket")
    d = _lake_delta_df(spark, sf).select("*", bkt)
    dtouched = sorted(r[0] for r in d.select("_bucket").distinct().collect())
    t.commit_deltas(d, dtouched, {b: "000000000002:0000000000" for b in dtouched})


@_q(
    "lake_time_travel",
    f"""
    WITH {_LAKE_BASE_CTE}
    SELECT repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM base
    """,
)
def q_lake_time_travel(spark, sf):
    """Snapshot isolation: after a merge-on-read delta commit on top,
    reading snapshot 1 still returns exactly the base state (lake/
    table.py read(snapshot_id) — manifest-pinned file lists make time
    travel a metadata lookup, not a log replay)."""
    t = _lake_build(spark, sf, deltas=True)
    return t.read(snapshot_id=1).select(*_LAKE_STATE_COLS)


@_q(
    "lake_changes_feed",
    f"""
    WITH {_LAKE_DELTA_CTE}
    SELECT repo, path, "commit", event_seq, lang, content, op,
           CAST(2 AS INTEGER) AS snapshot_id
    FROM deltas
    """,
)
def q_lake_changes_feed(spark, sf):
    """Incremental changefeed (lake/table.py changes()): the row-level
    deltas committed in (1, 2], read O(changed) from the commit's
    added_files — never a table diff."""
    t = _lake_build(spark, sf, deltas=True)
    return t.changes(1, 2)


@_q(
    "lake_changes_pre_images",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE}
    SELECT d.repo, d.path, d."commit", d.event_seq, d.lang, d.content,
           d.op, CAST(2 AS INTEGER) AS snapshot_id,
           CASE WHEN b.repo IS NOT NULL THEN 'K' END AS pre_op,
           b.lang AS pre_lang, b.content AS pre_content,
           CASE WHEN d.op = 'D' THEN 'D'
                WHEN b.repo IS NULL THEN 'I' ELSE 'U' END AS op_effective
    FROM deltas d LEFT JOIN base b ON d.repo = b.repo AND d.path = b.path
    """,
)
def q_lake_changes_pre_images(spark, sf):
    """Changefeed with PRE-IMAGES (lake/table.py changes_with_images —
    the Delta-CDF / Debezium-before shape): each change row carries the
    key's payload immediately before the event, seeded from the state
    at the range start, plus op_effective (the engine's upsert ops
    resolved against the pre-image: a 'U' landing on a fresh key is
    effectively an INSERT). Event-level — multi-event keys chain
    predecessor post-images — which the oracle's single-event-per-key
    join reduces to; the multi-event chain is pinned in
    tests/test_mor.py::TestChangesWithImages."""
    t = _lake_build(spark, sf, deltas=True)
    return t.changes_with_images(1, 2)


@_q(
    "lake_mor_read",
    _LAKE_LWW_STATE_ORACLE,
)
def q_lake_mor_read(spark, sf):
    """Merge-on-read current-state read: base ∪ delta files, one
    last-writer-wins window keyed on the physical _bucket partitioning,
    delete tombstones dropped (lake/table.py read())."""
    t = _lake_build(spark, sf, deltas=True)
    return t.read().select(*_LAKE_STATE_COLS)


@_q(
    "lake_skipping_read",
    f"""
    WITH {_LAKE_BASE_CTE}
    SELECT repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM base WHERE event_seq BETWEEN 300 AND 900
    """,
)
def q_lake_skipping_read(spark, sf):
    """Data-skipping soundness: a range read over manifest min/max
    stats (sort-clustered files) must return exactly the filtered
    state — no row lost to an over-eager file prune. The query raises
    if the prune did not actually drop files, so a green row certifies
    skipping both ENGAGED and stayed correct."""
    t = _lake_build(spark, sf, deltas=False, skipping=True)
    where = ("event_seq", 300, 900)
    rep = t.prune_report(where)
    if rep["files_skipped"] <= 0:
        raise AssertionError(f"data skipping did not engage: {rep}")
    return t.read(where=where).select(*_LAKE_STATE_COLS)


@_q(
    "lake_expire_retention",
    _LAKE_LWW_STATE_ORACLE,
)
def q_lake_expire_retention(spark, sf):
    """Time-based snapshot retention (lake/table.py expire_snapshots
    older_than_ms — Iceberg expireOlderThan + retainLast): a cutoff
    BELOW every commit retains all history beyond the count floor
    (the base snapshot stays time-travelable; the query raises if
    anything expired), then a cutoff above them expires the base
    snapshot under keep_last=1 (raises if it survived). The returned
    current state must still be the exact LWW fold — expiry is
    metadata-only and never perturbs data."""
    import time as _time

    t = _lake_build(spark, sf, deltas=True)
    if t.expire_snapshots(keep_last=1, older_than_ms=0):
        raise AssertionError("young cutoff must retain everything")
    if t.read(snapshot_id=1) is None:
        raise AssertionError("base snapshot must stay readable")
    expired = t.expire_snapshots(
        keep_last=1, older_than_ms=int(_time.time() * 1000) + 600_000
    )
    if 1 not in expired:
        raise AssertionError(f"future cutoff must expire the base: {expired}")
    return t.read().select(*_LAKE_STATE_COLS)


@_q(
    "cdc_snapshot_export",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE},
    {_LAKE_LWW_CTES}
    SELECT "commit", event_seq, 'I' AS op, repo, path, lang, content
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def q_cdc_snapshot_export(spark, sf):
    """Snapshot export over the Debezium wire (sources/debezium.py
    snapshot_export — the egress twin of CDCEngine.bootstrap's ingest
    side, Debezium's initial-snapshot phase as a PRODUCER): the table's
    merged current state serializes as 'r' envelopes, each row carrying
    its last-writer (commit, event_seq) through source.file/pos, and
    parse_debezium recovers the exact engine frame ('r' → upsert) —
    so the oracle is simply the LWW state with op='I'. A green hash
    certifies the wire round trip AND the per-row provenance the
    export→bootstrap replication chain hinges on (chain pinned
    byte-identical in tests/test_debezium.py)."""
    from filters_spark.sources.debezium import parse_debezium, snapshot_export

    t = _lake_build(spark, sf, deltas=True)
    wire = snapshot_export(t, db="prod", table_name="repos")
    return parse_debezium(
        wire, ["repo", "path", "lang", "content"],
        seq_expr=lambda s: s["pos"].cast("long"),
    ).select("commit", "event_seq", "op", "repo", "path", "lang", "content")


@_q(
    "lake_bloom_skipping_read",
    f"""
    WITH {_LAKE_BASE_CTE}
    SELECT repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM base WHERE lang = 'P'
    """,
)
def q_lake_bloom_skipping_read(spark, sf):
    """Equality-predicate file skipping through per-file BLOOM filters
    (lake/table.py _collect_file_blooms / read(where_eq) — the Delta
    bloom-index / Iceberg puffin analog): base files are laid out
    homogeneous in lang (one per (bucket, lang) via directory
    partitioning), the filters are harvested by one column-pruned
    Spark job at commit, and the equality read probes them DRIVER-SIDE
    through the pure-Python xxhash64 twin (lake/xxh.py) — min/max
    ranges cannot prune an unclustered categorical column, so every
    file skipped here is the bloom's doing. The query raises unless
    the prune actually dropped files, so a green hash certifies the
    index ENGAGED and stayed exact (false positives cost scan, never
    correctness; definitive absence is sound by construction)."""
    from filters_spark.lake.table import LakeTable, bucket_expr

    root = os.path.join(_tmpdir("filters_spark_lakeq_"), "lake")
    t = LakeTable.create(
        spark, root, ["repo", "path"], num_buckets=8, bloom_cols=["lang"],
    )
    bkt = bucket_expr(F.col("repo"), F.col("path"), 8, 16).cast("int").alias("_bucket")
    base = _lake_base_df(spark, sf).select("*", bkt)
    # ONE write, homogeneity by directory semantics: lang is duplicated
    # into a partition column, so each (bucket, lang) dir's files hold
    # only that lang while the data keeps the real column
    seed = os.path.join(root, "data", "seed")
    (
        base.withColumn("_lang_part", F.coalesce(F.col("lang"), F.lit("-")))
        .write.partitionBy("_bucket", "_lang_part").parquet(seed)
    )
    new_files = {}
    for bd in sorted(os.listdir(seed)):
        if not bd.startswith("_bucket="):
            continue
        b = bd.split("=", 1)[1]
        new_files[b] = sorted(
            os.path.join(seed, bd, ld, f)
            for ld in os.listdir(os.path.join(seed, bd))
            if ld.startswith("_lang_part=")
            for f in os.listdir(os.path.join(seed, bd, ld))
            if f.endswith(".parquet")
        )
    t.commit_bucket_files(
        new_files, {int(b): "000000000001:0000000000" for b in new_files},
    )
    rep = t.prune_report(where_eq=("lang", "P"))
    if rep["files_skipped"] <= 0:
        raise AssertionError(f"bloom skipping did not engage: {rep}")
    return t.read(where_eq=("lang", "P")).select(*_LAKE_STATE_COLS)


@_q(
    "lake_rollback_read",
    f"""
    WITH {_LAKE_BASE_CTE}
    SELECT repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM base
    """,
)
def q_lake_rollback_read(spark, sf):
    """Metadata-only rollback (lake/table.py rollback()): restore to
    snapshot 1 as a NEW commit re-referencing the target's manifests;
    the current read then equals the base state while history (the
    delta commit) stays intact for audit."""
    t = _lake_build(spark, sf, deltas=True)
    t.rollback(1)
    return t.read().select(*_LAKE_STATE_COLS)


@_q(
    "lake_rewrite_read",
    f"""
    WITH {_LAKE_BASE_CTE}
    SELECT repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM base
    """,
)
def q_lake_rewrite_read(spark, sf):
    """Small-file bin-packing compaction (lake/table.py
    rewrite_data_files — Iceberg rewrite_data_files binpack): the base
    commit deliberately fragments each bucket across tasks, the rewrite
    packs every bucket back to ~one file, and the query raises unless
    the file count actually dropped — so a green hash certifies the
    physical reorg happened AND was byte-lossless."""
    t = _lake_build(spark, sf, deltas=False, fragment=True)
    before = sum(len(fl) for fl in t.current()["buckets"].values())
    snap = t.rewrite_data_files(target_file_bytes=1 << 30)
    if snap is None:
        raise AssertionError("rewrite found no candidate buckets")
    after = sum(len(fl) for fl in snap["buckets"].values())
    if after >= before:
        raise AssertionError(f"rewrite did not shrink files: {before} -> {after}")
    return t.read().select(*_LAKE_STATE_COLS)


@_q(
    "lake_tag_read",
    f"""
    WITH {_LAKE_BASE_CTE}
    SELECT repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM base
    """,
)
def q_lake_tag_read(spark, sf):
    """Named snapshot refs (lake/table.py create_tag/resolve_tag,
    Iceberg tag semantics): pin snapshot 1 as 'v1', commit the delta
    slice on top, then expire_snapshots(keep_last=1) — which would
    expire snapshot 1 were it not TAGGED. Reading through the tag must
    still return the exact base state, certifying both the ref
    resolution and the tag's expiry protection."""
    t = _lake_build(spark, sf, deltas=False)
    t.create_tag("v1")
    _lake_commit_delta_slice(t, spark, sf)
    expired = t.expire_snapshots(keep_last=1)
    if 1 in expired:  # explicit raise: a bare assert vanishes under -O
        # and this certification IS the query's point
        raise AssertionError("tagged snapshot must survive expiry")
    return t.read(t.resolve_tag("v1")).select(*_LAKE_STATE_COLS)


@_q(
    "cdc_scd2_history",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE},
    u AS (
      SELECT repo, path, "commit", event_seq, lang, content, 'I' AS op FROM base
      UNION ALL
      SELECT repo, path, "commit", event_seq, lang, content, op FROM deltas
    ),
    led AS (
      SELECT *,
        lead("commit") OVER w AS valid_to_commit,
        lead(event_seq) OVER w AS valid_to_event_seq
      FROM u
      WINDOW w AS (PARTITION BY repo, path ORDER BY "commit" ASC, event_seq ASC)
    )
    SELECT repo, path,
           "commit" AS valid_from_commit, event_seq AS valid_from_event_seq,
           valid_to_commit, valid_to_event_seq,
           (valid_to_commit IS NULL) AS is_current,
           lang, content
    FROM led WHERE op <> 'D'
    """,
)
def q_cdc_scd2_history(spark, sf):
    """Change stream → SCD TYPE 2 dimension history (operators/
    events.py scd2_history): per-key version validity intervals, delete
    events close their predecessor and emit nothing (delete-then-
    reinsert shows a gap; a key deleted last has NO current version).
    One key-partitioned window = one shuffle (plan-pinned in pytest);
    the oracle spells the identical LEAD/filter."""
    from filters_spark.operators.events import scd2_history

    base = _lake_base_df(spark, sf).drop("content_sha").withColumn(
        "op", F.lit("I"))
    stream = base.unionByName(_lake_delta_df(spark, sf))
    return scd2_history(
        stream, ["repo", "path"], ["lang", "content"], ["commit", "event_seq"]
    )


@_q(
    "lake_rewrite_zorder_read",
    f"""
    WITH {_LAKE_BASE_CTE}
    SELECT repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM base
    """,
)
def q_lake_rewrite_zorder_read(spark, sf):
    """Z-order re-clustering (lake/table.py rewrite_zorder — Iceberg
    rewrite_data_files zorder strategy): the base commit scatters rows
    randomly (every file spans both domains, nothing prunes), the
    rewrite re-clusters along the ("commit", event_seq) Morton curve,
    and the query raises unless BOTH dimensions actually prune files
    afterwards — a green hash certifies the reorg was byte-lossless AND
    measurably useful."""
    from filters_spark.lake.table import LakeTable, bucket_expr

    root = os.path.join(_tmpdir("filters_spark_lakez_"), "lake")
    t = LakeTable.create(
        spark, root, ["repo", "path"], num_buckets=4,
        stats_cols=["commit", "event_seq"],
    )
    bkt = bucket_expr(F.col("repo"), F.col("path"), 4, 16).cast("int").alias("_bucket")
    base = _lake_base_df(spark, sf).select("*", bkt).repartition(8)
    # the repartition scatters rows randomly: no pre-rewrite clustering
    touched = sorted(r[0] for r in base.select("_bucket").distinct().collect())
    t.commit_buckets(base, touched, {b: "000000000001:0000000000" for b in touched})
    snap = t.rewrite_zorder(("commit", "event_seq"), bits=6,
                            target_file_bytes=16 * 1024)
    if snap is None:
        raise AssertionError("zorder rewrite found no candidate buckets")
    wa = ("commit", "%012x" % 0, "%012x" % 400)
    wb = ("event_seq", 0, 400)
    ra, rb = t.prune_report(wa), t.prune_report(wb)
    if not (ra["files_skipped"] > 0 and rb["files_skipped"] > 0):
        raise AssertionError(f"zorder rewrite did not enable 2-D pruning: {ra} {rb}")
    return t.read().select(*_LAKE_STATE_COLS)


@_q(
    "lake_repo_scoped_read",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE},
    {_LAKE_LWW_CTES}
    SELECT repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D' AND repo = 'r7'
    """,
)
def q_lake_repo_scoped_read(spark, sf):
    """Repo-scoped serving read (lake/table.py read_repo): the
    path-salting that spreads a hot repo's writes over path_salt
    buckets bounds its READ footprint to the same candidate set,
    enumerated driver-side from the salt domain — the query raises
    unless the candidate set actually pruned buckets, and the oracle
    is the full LWW fold filtered to the repo, so a green hash
    certifies completeness of the salt-domain enumeration under
    merge-on-read."""
    from filters_spark.lake.table import LakeTable, bucket_expr
    from filters_spark.lake.xxh import buckets_for_repo

    B, S = 64, 4  # wide table, narrow salt: the pruning regime
    root = os.path.join(_tmpdir("filters_spark_lakerepo_"), "lake")
    t = LakeTable.create(spark, root, ["repo", "path"], num_buckets=B,
                         path_salt=S)
    bkt = bucket_expr(F.col("repo"), F.col("path"), B, S).cast("int").alias("_bucket")
    base = _lake_base_df(spark, sf).select("*", bkt)
    touched = sorted(r[0] for r in base.select("_bucket").distinct().collect())
    t.commit_buckets(base, touched, {b: "000000000001:0000000000" for b in touched})
    d = _lake_delta_df(spark, sf).select("*", bkt)
    dtouched = sorted(r[0] for r in d.select("_bucket").distinct().collect())
    t.commit_deltas(d, dtouched, {b: "000000000002:0000000000" for b in dtouched})

    cand = buckets_for_repo("r7", B, S)
    if not len(cand) <= S < len(t.current()["buckets"]):
        raise AssertionError(
            f"repo-scoped read pruned nothing: {len(cand)} candidates vs "
            f"{len(t.current()['buckets'])} buckets"
        )
    return t.read_repo("r7").select(*_LAKE_STATE_COLS)


@_q(
    "lake_branch_fastforward",
    _LAKE_LWW_STATE_ORACLE,
)
def q_lake_branch_fastforward(spark, sf):
    """Branch refs (lake/table.py create_branch / commit_deltas_to /
    fast_forward — Iceberg branch semantics): fork an audit branch at
    the base snapshot, land the delta slice ON THE BRANCH (main must
    keep reading the untouched base state — certified by an explicit
    raise), then fast-forward main onto the branch head. The oracle is
    the merged LWW state, so a green hash certifies branch isolation,
    the branch commit itself AND the metadata-only publish."""
    t = _lake_build(spark, sf, deltas=False)
    base_rows = t.read().count()
    t.create_branch("audit")
    from filters_spark.lake.table import bucket_expr

    bkt = bucket_expr(F.col("repo"), F.col("path"), 8, 16).cast("int").alias("_bucket")
    d = _lake_delta_df(spark, sf).select("*", bkt)
    dtouched = sorted(r[0] for r in d.select("_bucket").distinct().collect())
    t.commit_deltas_to(
        "audit", d, dtouched, {b: "000000000002:0000000000" for b in dtouched}
    )
    if t.read().count() != base_rows:  # explicit raise: certification
        raise AssertionError("branch commit leaked into main")
    t.fast_forward("audit")
    return t.read().select(*_LAKE_STATE_COLS)


@_q(
    "lake_merge_into",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE},
    j AS (
      SELECT b.repo AS t_repo, b.path AS t_path, b."commit" AS t_commit,
             b.event_seq AS t_seq, b.lang AS t_lang, b.content AS t_content,
             d.repo AS s_repo, d.path AS s_path, d."commit" AS s_commit,
             d.event_seq AS s_seq, d.lang AS s_lang, d.content AS s_content,
             d.op AS s_op
      FROM base b FULL OUTER JOIN deltas d
        ON b.repo = d.repo AND b.path = d.path
    ),
    g AS (
      SELECT *,
        (t_path IS NOT NULL AND s_path IS NOT NULL AND s_op = 'D') AS is_del,
        (t_path IS NOT NULL AND s_path IS NOT NULL AND s_op <> 'D'
         AND s_seq % 4 = 0) AS is_upd,
        (t_path IS NULL AND s_op <> 'D') AS is_ins
      FROM j
    )
    SELECT
      COALESCE(t_repo, s_repo) AS repo,
      COALESCE(t_path, s_path) AS path,
      CASE WHEN is_upd OR is_ins THEN s_commit ELSE t_commit END AS "commit",
      CASE WHEN is_upd OR is_ins THEN s_seq ELSE t_seq END AS event_seq,
      CASE WHEN is_upd THEN COALESCE(s_lang, t_lang)
           WHEN is_ins THEN s_lang ELSE t_lang END AS lang,
      CASE WHEN is_upd THEN 'M:' || s_content
           WHEN is_ins THEN s_content ELSE t_content END AS content,
      sha256(CASE WHEN is_upd THEN 'M:' || s_content
                  WHEN is_ins THEN s_content ELSE t_content END) AS content_sha
    FROM g
    WHERE (t_path IS NOT NULL AND NOT is_del) OR is_ins
    """,
)
def q_lake_merge_into(spark, sf):
    """Declarative MERGE INTO (lake/merge.py merge_into — the
    ANSI/Iceberg conditional-merge statement): conditional UPDATE with
    computed set-expressions over t/s, DELETE on the tombstone flag,
    filtered INSERT — one full-outer join over the bucket-pruned
    target, committed copy-on-write. The oracle respells all four
    clause outcomes (update / skip / delete / insert) relationally, so
    a green hash value-checks clause precedence AND the commit."""
    from filters_spark.lake.merge import merge_into

    t = _lake_build(spark, sf, deltas=False)
    merge_into(
        t, _lake_delta_df(spark, sf),
        update={"commit": "s.commit", "event_seq": "s.event_seq",
                "lang": "coalesce(s.lang, t.lang)",
                "content": "'M:' || s.content"},
        update_when="s.event_seq % 4 = 0",
        delete_when="s.op = 'D'",
        insert_when="s.op <> 'D'",
    )
    return t.read().select(*_LAKE_STATE_COLS)


@_q(
    "lake_merge_by_source",
    f"""
    WITH {_LAKE_BASE_CTE}
    SELECT repo, path,
           CASE WHEN event_seq % 2 = 0 THEN 'S:' || content ELSE content END
             AS content,
           CASE WHEN event_seq % 2 = 0 THEN 'synced' ELSE 'stale' END AS sync
    FROM base WHERE NOT (event_seq % 2 <> 0 AND lang = 'F')
    """,
)
def q_lake_merge_by_source(spark, sf):
    """WHEN NOT MATCHED BY SOURCE (lake/merge.py — Delta's extension,
    the snapshot-sync shape): the source is the even-event_seq half of
    the state with refreshed content; unmatched target rows DELETE
    when lang='F' and otherwise get a by-source UPDATE marking them
    stale (expressions over t only — s is the NULL struct there). The
    oracle respells all three outcomes; a green hash certifies clause
    precedence including the full-table by-source scope."""
    from filters_spark.lake.merge import merge_into

    t = _lake_build(spark, sf, deltas=False)
    src = _lake_base_df(spark, sf).filter(F.col("event_seq") % 2 == 0).select(
        "repo", "path", "commit", "event_seq", "lang",
        F.concat(F.lit("S:"), F.col("content")).alias("content"),
    )
    merge_into(
        t, src,
        update={"content": "s.content", "lang": "'synced'"},
        insert=None,
        delete_by_source_when="t.lang = 'F'",
        update_by_source={"lang": "'stale'"},
    )
    return t.read().select(
        "repo", "path", "content", F.col("lang").alias("sync")
    )


@_q(
    "lake_wap_publish",
    _LAKE_LWW_STATE_ORACLE,
)
def q_lake_wap_publish(spark, sf):
    """Write-audit-publish lifecycle (lake/table.py stage_deltas /
    read(wap_id=...) / abandon_wap / publish_wap — the Iceberg WAP
    pattern): stage a CORRUPTED delta batch, audit it through the
    staged read (the poison rows are visible there and ONLY there —
    the table head never moves), abandon it, stage the clean batch,
    audit passes, publish. The oracle is the clean merged state, so a
    green hash certifies both that the abandoned stage left zero
    residue and that publish is byte-identical to a direct commit."""
    from filters_spark.lake.table import bucket_expr

    t = _lake_build(spark, sf, deltas=False)
    bkt = bucket_expr(F.col("repo"), F.col("path"), 8, 16).cast("int").alias("_bucket")
    d = _lake_delta_df(spark, sf).select("*", bkt)
    dtouched = sorted(r[0] for r in d.select("_bucket").distinct().collect())
    wm = {b: "000000000002:0000000000" for b in dtouched}
    head = t.current_snapshot_id()

    bad = d.withColumn(
        "content",
        F.when(
            F.col("op") != "D",
            F.concat(F.lit("CORRUPT:"), F.coalesce(F.col("content"), F.lit(""))),
        ),
    )
    t.stage_deltas(bad, dtouched, wm, "batch2-try1")
    poisoned = (
        t.read(wap_id="batch2-try1")
        .filter(F.col("content").startswith("CORRUPT:"))
        .count()
    )
    if poisoned == 0:
        raise AssertionError("audit should see the corrupted staged rows")
    t.abandon_wap("batch2-try1")

    t.stage_deltas(d, dtouched, wm, "batch2-try2")
    clean = t.read(wap_id="batch2-try2")
    if clean.filter(F.col("content").startswith("CORRUPT:")).count():
        raise AssertionError("clean stage failed its audit")
    if t.current_snapshot_id() != head:
        raise AssertionError("staging must not advance the table head")
    t.publish_wap("batch2-try2")
    return t.read().select(*_LAKE_STATE_COLS)


@_q(
    "lake_wap_audit_diff",
    _LAKE_STATE_DIFF_ORACLE,
)
def q_lake_wap_audit_diff(spark, sf):
    """The write-audit-publish REVIEW primitive (lake/table.py
    wap_diff): with the delta batch merely STAGED — the table head
    never moves — the auditor reads the exact row-level I/U/D set that
    publishing would apply. The oracle recomputes that set from the raw
    slices, so a green hash certifies the staged read, the LWW fold
    inside it, and the state diff in one check."""
    from filters_spark.lake.table import bucket_expr, wap_diff

    t = _lake_build(spark, sf, deltas=False)
    bkt = bucket_expr(F.col("repo"), F.col("path"), 8, 16).cast("int").alias("_bucket")
    d = _lake_delta_df(spark, sf).select("*", bkt)
    dtouched = sorted(r[0] for r in d.select("_bucket").distinct().collect())
    t.stage_deltas(
        d, dtouched, {b: "000000000002:0000000000" for b in dtouched}, "review"
    )
    if t.current_snapshot_id() != 1:
        raise AssertionError("staging must not advance the table head")
    return wap_diff(t, "review")


@_q(
    "lake_snapshot_diff",
    _LAKE_STATE_DIFF_ORACLE,
)
def q_lake_snapshot_diff(spark, sf):
    """State-comparison changefeed (lake/table.py:snapshot_diff): the
    row-level I/U/D delta between two snapshots derived by full-outer
    joining the two states on the key — the fallback for copy-on-write
    tables, where changes() raises because overwrite snapshots keep no
    row-level log. The oracle recomputes both states from the raw
    slices and diffs them with IS DISTINCT FROM (the same null-safe
    compare the operator uses via eqNullSafe)."""
    from filters_spark.lake.table import snapshot_diff

    t = _lake_build(spark, sf, deltas=True)
    return snapshot_diff(t, 1, 2)


@_q(
    "lake_mview_by_lang",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE},
    {_LAKE_LWW_CTES},
    state AS (
      SELECT lang, content FROM ranked WHERE rn = 1 AND op <> 'D'
    )
    SELECT lang, count(*) AS n_rows,
           CAST(sum(CAST(coalesce(length(content), 0) AS BIGINT)) AS BIGINT)
             AS total_bytes
    FROM state GROUP BY lang
    """,
)
def q_lake_mview(spark, sf):
    """Incrementally-maintained aggregate view (lake/mview.py:AggView):
    per-lang row counts + content byte totals. Refresh 1 full-builds
    the view at snapshot 1; the delta commit then lands and refresh 2
    folds ONLY its changes in — retracting the old images of affected
    keys via a bucket-pruned time-travel read — so the returned view
    was genuinely maintained incrementally, while the oracle recomputes
    the same aggregate from the final merged state from scratch."""
    from filters_spark.lake.mview import AggView

    t = _lake_build(spark, sf, deltas=False)
    v = AggView(
        spark, t, os.path.join(os.path.dirname(t.root), "view"),
        group_cols=["lang"], sum_exprs={"total_bytes": "length(content)"},
    )
    r1 = v.refresh()
    if r1["mode"] != "full":  # explicit raises: bare asserts vanish
        # under -O, and "refresh 2 was INCREMENTAL" is the invariant
        # this query exists to certify (a full rebuild would pass the
        # oracle comparison while proving nothing)
        raise AssertionError(f"refresh 1 expected full, got {r1}")
    _lake_commit_delta_slice(t, spark, sf)
    r2 = v.refresh()
    if r2["mode"] != "incremental":
        raise AssertionError(f"refresh 2 expected incremental, got {r2}")
    return v.current()


@_q(
    "lake_clone_fork",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE},
    {_LAKE_LWW_CTES}
    SELECT 'fork' AS src, repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D'
    UNION ALL
    SELECT 'source' AS src, repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM base
    """,
)
def q_lake_clone_fork(spark, sf):
    """Zero-copy table fork (lake/clone.py): shallow-clone the base
    table (metadata-only — the clone's manifests reference the source's
    data files), then commit the delta slice ONTO THE CLONE. The fork
    must fold its own merge-on-read deltas over the SHARED base files
    to the full LWW state while the source stays at the untouched base
    state — certifying in one hash-checked result that a clone reads
    shared data, accepts independent writes, and never leaks them back."""
    from filters_spark.lake.clone import clone_table

    t = _lake_build(spark, sf, deltas=False)
    fork = clone_table(t, os.path.join(os.path.dirname(t.root), "fork"))
    _lake_commit_delta_slice(fork, spark, sf)
    cols = ["repo", "path", "commit", "event_seq", "lang", "content",
            "content_sha"]
    return (
        fork.read().select(F.lit("fork").alias("src"), *cols)
        .unionByName(t.read().select(F.lit("source").alias("src"), *cols))
    )


@_q("lake_sync_incremental", _LAKE_LWW_STATE_ORACLE)
def q_lake_sync_incremental(spark, sf):
    """Changefeed-follower mirror (lake/sync.py sync_incremental): the
    source commits the base slice (snapshot 1) and the delta slice
    (snapshot 2) as merge-on-read delta commits; a mirror with a
    DIFFERENT bucket layout (4 buckets, salt 2 vs the source's 8/16 —
    the serving-tier re-bucketing case) follows with one sync call
    AFTER EACH source commit, so the second sync reads only changes()
    over (1, 2] — O(changed rows), never a table rescan — and LWW-
    merges them into only the touched mirror buckets. The mirror's
    final state must equal the full LWW fold of base+deltas
    hash-for-hash, certifying that an incremental follower converges
    to the authoritative state across a bucket-layout change.
    (Incremental file-count proof is pinned in tests/test_mor.py
    TestIncrementalMirrorSync; this query certifies the value
    contract.)"""
    from filters_spark.lake.sync import sync_incremental
    from filters_spark.lake.table import LakeTable

    root = _tmpdir("filters_spark_syncq_")
    src = LakeTable.create(
        spark, os.path.join(root, "src"), ["repo", "path"], num_buckets=8
    )
    _lake_commit_base_slice_mor(src, spark, sf)
    dst = LakeTable.create(
        spark, os.path.join(root, "mirror"), ["repo", "path"],
        num_buckets=4, path_salt=2,
    )
    sync_incremental(src, dst)              # folds snapshot 1 (base)
    _lake_commit_delta_slice(src, spark, sf)  # snapshot 2 (deltas)
    sync_incremental(src, dst)              # folds (1, 2] only
    return dst.read().select(*_LAKE_STATE_COLS)


@_q(
    "stream_cdc_replay",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE},
    {_LAKE_LWW_CTES}
    SELECT repo, path, "commit", event_seq, lower(lang) AS lang, content,
           sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def q_stream_cdc_replay(spark, sf):
    """The WAL tail under Structured Streaming, end to end and
    value-checked (streaming/stream.py tail_directory +
    start_cdc_stream): the base slice lands as WAL segment 1 and is
    drained by an availableNow run (micro-batch -> validate ->
    watermark -> LWW merge -> snapshot commit via foreachBatch); then
    segment 2 (the delta slice) arrives TOGETHER WITH A REDELIVERED
    COPY of segment 1 — the at-least-once failure mode of a real
    binlog tail — and a second availableNow run over the SAME source
    checkpoint drains both. Exactly-once falls out of the two
    checkpoints composing: Spark's offset log skips files already
    consumed, and the engine's per-bucket watermarks drop the
    redelivered events the offset log has never seen. The final table
    must equal the plain LWW fold of base+deltas (lang lowered by the
    registry's ascii_lower chain) — redelivery leaves no trace.
    Restart-resume file-count proofs are pytest-pinned
    (tests/test_streaming.py); this row certifies the value
    contract."""
    from filters_spark.engine.cdc import CDCEngine
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec
    from filters_spark.lake.table import LakeTable
    from filters_spark.streaming import start_cdc_stream, tail_directory

    root = _tmpdir("filters_spark_streamq_")
    reg = SpecRegistry(["repo", "path", "lang", "content"])
    reg.register(VersionSpec(1, _EVO_SPECS_V1))
    t = LakeTable.create(
        spark, os.path.join(root, "lake"), ["repo", "path"], num_buckets=8
    )
    eng = CDCEngine(spark, t, reg)
    base = (
        _lake_base_df(spark, sf)
        .drop("content_sha")
        .withColumn("op", F.lit("U"))
        .withColumn("schema_version", F.lit(1))
    )
    # WAL payload contract: the required-content chain applies to EVERY
    # event (gen_events' tombstones carry payloads; a payload-less D is
    # a malformed producer and dead-letters). The tombstone's content
    # never lands, so the final-state oracle is unchanged by the fill.
    deltas = (
        _lake_delta_df(spark, sf)
        .withColumn("content", F.coalesce(F.col("content"), F.lit("tombstone")))
        .withColumn("schema_version", F.lit(1))
    )
    wal = os.path.join(root, "wal")
    os.makedirs(wal)
    ckpt = os.path.join(root, "ckpt")
    base.coalesce(1).write.parquet(os.path.join(wal, "seg1"))
    q1 = start_cdc_stream(
        eng, tail_directory(spark, wal + "/*/"), ckpt, trigger_once=True
    )
    if not q1.awaitTermination(300):
        raise RuntimeError("stream_cdc_replay: first availableNow drain timed out")
    # segment 2 + the redelivered copy of segment 1 land together
    base.coalesce(1).write.parquet(os.path.join(wal, "seg1_redelivered"))
    deltas.coalesce(1).write.parquet(os.path.join(wal, "seg2"))
    q2 = start_cdc_stream(
        eng, tail_directory(spark, wal + "/*/"), ckpt, trigger_once=True
    )
    if not q2.awaitTermination(300):
        raise RuntimeError("stream_cdc_replay: second availableNow drain timed out")
    return t.read().select(*_LAKE_STATE_COLS)


@_q(
    "stream_stateful_dedupe",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE}
    SELECT repo, path, "commit", event_seq, lang, content, 'U' AS op FROM base
    UNION ALL
    SELECT repo, path, "commit", event_seq, lang, content, op FROM deltas
    """,
)
def q_stream_stateful_dedupe(spark, sf):
    """Custom stateful streaming operator, value-checked
    (streaming/stateful.py stream_dedupe — applyInPandasWithState
    keyed first-wins dedupe): WAL segment 1 (the base slice) drains as
    micro-batch 1; segment 2 carries a REDELIVERED copy of segment 1
    plus the delta slice and drains as micro-batch 2 against the state
    store persisted in the checkpoint. Per (repo, path) the state
    holds the max (commit, event_seq) watermark, so every redelivered
    event is dropped IN THE STREAM (before any validation or merge)
    while every genuinely new event — higher-watermark updates,
    deletes, fresh keys — passes. The emitted stream must equal
    base ∪ deltas exactly: dedupe leaves no trace of the redelivery
    and drops nothing real. The stream writes straight to a parquet
    sink (no driver-side collect)."""
    from filters_spark.streaming import tail_directory
    from filters_spark.streaming.stateful import stream_dedupe

    root = _tmpdir("filters_spark_sdedupq_")
    base = (
        _lake_base_df(spark, sf)
        .drop("content_sha")
        .withColumn("op", F.lit("U"))
        .withColumn("schema_version", F.lit(1))
    )
    deltas = _lake_delta_df(spark, sf).withColumn("schema_version", F.lit(1))
    wal = os.path.join(root, "wal")
    os.makedirs(wal)
    base.coalesce(1).write.parquet(os.path.join(wal, "seg1"))
    base.unionByName(deltas).coalesce(1).write.parquet(os.path.join(wal, "seg2"))
    sink = os.path.join(root, "sink")
    q = (
        stream_dedupe(tail_directory(spark, wal + "/*/", max_files_per_trigger=1))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        raise RuntimeError("stream_stateful_dedupe: drain timed out")
    return spark.read.parquet(sink).select(
        "repo", "path", "commit", "event_seq", "lang", "content", "op"
    )


@_q(
    "cdc_retry_dead_letters",
    """
    SELECT 'r' || CAST(o_custkey % 25 AS VARCHAR) AS repo,
           'p' || CAST(o_orderkey AS VARCHAR) AS path,
           printf('%012x', o_orderkey) AS "commit",
           o_orderkey AS event_seq,
           lower(o_orderstatus) AS lang,
           o_orderpriority AS content,
           sha256(o_orderpriority) AS content_sha
    FROM orders
    """,
)
def q_cdc_retry_dead_letters(spark, sf):
    """Fix the spec, drain the backlog (engine/cdc.py
    retry_dead_letters — the operational loop after a bad producer or
    an over-strict chain): batch 1 validates under a v1 spec whose
    max_length(8) chain dead-letters every '4-NOT SPECIFIED' content
    (too_long); the registry then evolves to a relaxed v2 and ONE
    retry_dead_letters() call re-validates the stored raws at the
    latest version and merges the now-clean events, re-adopting
    nothing. The query raises unless the gate actually engaged
    (dead_lettered > 0), the retry drained exactly that backlog, and
    no dead letters remain — and the final table must equal the plain
    fold of ALL events, as if the spec had been right from the start
    (LWW makes the late repair indistinguishable)."""
    from filters_spark.engine.cdc import CDCEngine
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec
    from filters_spark.lake.table import LakeTable

    o = _t(spark, sf, "orders")
    reg = SpecRegistry(["repo", "path", "lang", "content"])
    strict = {
        **_EVO_SPECS_V1,
        "content": {"chain": ["required", "strip",
                              ("max_length", {"max_length": 8})]},
    }
    reg.register(VersionSpec(1, strict))
    root = _tmpdir("filters_spark_retryq_")
    t = LakeTable.create(
        spark, os.path.join(root, "lake"), ["repo", "path"], num_buckets=8
    )
    eng = CDCEngine(spark, t, reg)
    ev = o.select(
        F.format_string("%012x", F.col("o_orderkey")).alias("commit"),
        F.col("o_orderkey").alias("event_seq"),
        F.lit("U").alias("op"),
        F.concat(F.lit("r"), (F.col("o_custkey") % 25).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("o_orderkey").cast("string")).alias("path"),
        F.col("o_orderstatus").alias("lang"),
        F.col("o_orderpriority").alias("content"),
        F.lit(1).alias("schema_version"),
    )
    m1 = eng.apply_batch(ev)
    if m1["dead_lettered"] == 0:
        raise RuntimeError("retry fixture: the strict chain gated nothing")
    reg.register(VersionSpec(2, _EVO_SPECS_V1))  # the spec fix
    m2 = eng.retry_dead_letters()
    if m2["applied"] != m1["dead_lettered"] or m2["dead_lettered"] != 0:
        raise RuntimeError(
            f"retry did not drain the backlog: {m2['applied']} applied of "
            f"{m1['dead_lettered']} dead, {m2['dead_lettered']} re-adopted"
        )
    if eng.dead_letters() is not None:
        raise RuntimeError("dead letters remain after a full drain")
    return t.read().select(*_LAKE_STATE_COLS)


@_q(
    "lake_point_lookup",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE},
    {_LAKE_LWW_CTES},
    keys AS (
      SELECT 'r' || CAST(o_custkey % 40 AS VARCHAR) AS repo,
             'p' || CAST(o_orderkey AS VARCHAR) AS path
      FROM orders WHERE o_orderkey % 6 = 0
      ORDER BY o_orderkey LIMIT 3
    )
    SELECT r.repo, r.path, r."commit", r.event_seq, r.lang, r.content,
           sha256(r.content) AS content_sha
    FROM ranked r JOIN keys USING (repo, path)
    WHERE r.rn = 1 AND r.op <> 'D'
    """,
)
def q_lake_point_lookup(spark, sf):
    """Primary-key point reads (lake/table.py lookup() — the
    CDC-serving layer's "what is this file's latest state?"): three
    deterministic keys (the smallest updated orderkeys, so each
    lookup must return the DELTA-winning row, not the base row) are
    looked up one at a time. Each lookup computes the key's bucket
    driver-side through the pure-Python xxhash twin and prunes to
    that one bucket's manifests before the key filter runs; the query
    raises unless the union of all three lookups touched strictly
    fewer files than the table holds — a green hash certifies the
    index-style read path is both engaged and LWW-correct."""
    t = _lake_build(spark, sf, deltas=True)
    o = _t(spark, sf, "orders")
    keys = [
        (r.repo, r.path)
        for r in o.filter(F.col("o_orderkey") % 6 == 0)
        .orderBy("o_orderkey")
        .select(
            F.concat(F.lit("r"), (F.col("o_custkey") % 40).cast("string")).alias("repo"),
            F.concat(F.lit("p"), F.col("o_orderkey").cast("string")).alias("path"),
        )
        .limit(3)
        .collect()
    ]
    out = None
    for repo, path in keys:
        hit = t.lookup(repo, path)
        if hit is None:
            raise RuntimeError(f"lookup returned None on a non-empty table: {repo}/{path}")
        hit = hit.select(*_LAKE_STATE_COLS)
        out = hit if out is None else out.unionByName(hit)
    snap = t.current()
    total_files = sum(len(v) for v in snap["buckets"].values()) + sum(
        len(v) for v in snap.get("deltas", {}).values()
    )
    touched = len(set(out.inputFiles()))
    if touched >= total_files:
        raise RuntimeError(
            f"point lookup did not prune: touched {touched} of {total_files} files"
        )
    return out


@_q("lake_rescale_read", _LAKE_LWW_STATE_ORACLE)
def q_lake_rescale_read(spark, sf):
    """Partition evolution (lake/table.py rescale()): re-bucket the
    8-bucket table (with pending MoR deltas) to 4 buckets under a new
    path salt in one atomic snapshot — the quiesced-ingest layout
    change a table makes when it outgrows its bucket count. The query
    raises unless the new layout actually took (bucket count, cleared
    deltas) and the post-rescale read must hash-match the full LWW
    fold: a layout change may move every row, but it may not change
    one."""
    t = _lake_build(spark, sf, deltas=True)
    t.rescale(4, path_salt=2)
    snap = t.current()
    if snap["num_buckets"] != 4 or any(snap.get("deltas", {}).values()):
        raise RuntimeError(f"rescale did not take: {snap['num_buckets']} buckets")
    return t.read().select(*_LAKE_STATE_COLS)


@_q("lake_clone_deep_independent", _LAKE_LWW_STATE_ORACLE)
def q_lake_clone_deep_independent(spark, sf):
    """Deep clone self-containment (lake/clone.py mode='deep'): the
    clone byte-copies every base and delta file, so it must survive
    the SOURCE's complete destruction — the disaster-recovery /
    archival contract a shallow clone deliberately does not make. The
    source's entire data directory is deleted after cloning; the
    clone's read must still produce the full LWW fold, proving no
    file reference leaks back to the source."""
    import shutil

    from filters_spark.lake.clone import clone_table

    t = _lake_build(spark, sf, deltas=True)
    deep = clone_table(t, os.path.join(os.path.dirname(t.root), "deepclone"),
                       mode="deep")
    shutil.rmtree(t.data_dir)  # the source is gone
    return deep.read().select(*_LAKE_STATE_COLS)


@_q("lake_compact_read", _LAKE_LWW_STATE_ORACLE)
def q_lake_compact_read(spark, sf):
    """Compaction preserves state (lake/table.py compact()): fold the
    merge-on-read delta files into new base files (one LWW merge + one
    bucket-partitioned write), then read the COMPACTED table — the
    result must equal the pre-compaction fold hash-for-hash, including
    every content_sha. Together with lake_mor_read (fold at read time)
    this value-checks both sides of the MoR contract: defer the merge,
    then amortize it, with no observable difference. At 10^10-event
    scale compaction is what keeps read amplification bounded while
    ingest stays O(batch)."""
    t = _lake_build(spark, sf, deltas=True)
    t.compact()
    return t.read().select(*_LAKE_STATE_COLS)


@_q(
    "lake_publish_roundtrip",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE}
    SELECT repo, path, "commit", event_seq, lang, content, 'U' AS op FROM base
    UNION ALL
    SELECT repo, path, "commit", event_seq, lang, content, op FROM deltas
    """,
)
def q_lake_publish_roundtrip(spark, sf):
    """Checkpointed Debezium egress, round-tripped (lake/sync.py
    publish_changes + sources/debezium.py parse_debezium): the source
    commits base and delta slices as merge-on-read commits, publishing
    its changefeed AFTER EACH commit as JSON-line Debezium envelopes
    into per-range batch directories (batch-0-1, then batch-1-2 — each
    publish reads only changes() over the unpublished range and
    advances the egress checkpoint). Reading every published envelope
    back through parse_debezium must reproduce the exact event stream
    — (commit, event_seq) losslessly through source.file/pos, ops
    through u/d, delete tombstones carrying their key in the before
    image with NULL payload. This is the producer loop that makes the
    lake a continuous Debezium SOURCE any standard consumer can tail."""
    from filters_spark.lake.sync import publish_changes
    from filters_spark.lake.table import LakeTable
    from filters_spark.sources.debezium import parse_debezium

    root = _tmpdir("filters_spark_pubq_")
    src = LakeTable.create(
        spark, os.path.join(root, "src"), ["repo", "path"], num_buckets=8
    )
    _lake_commit_base_slice_mor(src, spark, sf)
    sink = os.path.join(root, "sink")
    os.makedirs(sink, exist_ok=True)
    publish_changes(src, sink, db="lakedb", table="repos")
    _lake_commit_delta_slice(src, spark, sf)
    publish_changes(src, sink, db="lakedb", table="repos")
    wire = spark.read.text(os.path.join(sink, "batch-*"))
    ev = parse_debezium(
        wire,
        ["repo", "path", "lang", "content"],
        seq_expr=lambda s: s["pos"].cast("long"),
    )
    return ev.select("repo", "path", "commit", "event_seq", "lang", "content", "op")


@_q(
    "join_local_supplier_volume",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q_join_local_supplier_volume(spark, sf):
    """TPC-H Q5 shape: six-table join with the 'local supplier'
    equi-condition (customer and supplier share a nation). Join
    planning story: supplier/nation/region are broadcast (no shuffle
    for the dimension edges), the customer-orders-lineitem chain
    shuffles on its keys, and the o_orderdate range predicate pushes
    down to the orders scan. Per-row revenue terms are computed in
    double (deterministic spelling) then summed as DECIMAL(18,6) so
    the aggregate is partition-order-independent."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
              n.n_regionkey == r.r_regionkey)
    )
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )


# -- distinct-count sketches (operators/sketches.py) ------------------------
#
# Oracle building blocks, generated once at import: the HLL rho comes
# from an indicator-sum bit length and the register weight from an
# integer CASE ladder — every sketch intermediate is an exact integer
# or a double derived from exact integers by identically-spelled IEEE
# ops, so the DuckDB mirror is bit-exact (operators/sketches.py
# docstring has the full argument).

_HLL_P, _HLL_CAP = 8, 40
_HLL_M = 1 << _HLL_P
_HLL_WBITS = 64 - _HLL_P
_HLL_BITLEN = " + ".join(
    f"(CASE WHEN w >= {1 << i} THEN 1 ELSE 0 END)" for i in range(_HLL_WBITS)
)
_HLL_LADDER = (
    "CASE "
    + " ".join(
        f"WHEN reg = {r} THEN {1 << (_HLL_CAP - r)}" for r in range(1, _HLL_CAP + 1)
    )
    + f" ELSE {1 << _HLL_CAP} END"
)
_KMV_K = 64


@_q(
    "sketch_kmv_distinct",
    f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
        CAST({sha64_sql("CAST(user_id AS VARCHAR)")} AS DOUBLE)
          / 18446744073709551616.0 + 0.5 AS u
      FROM events
    ), ranked AS (
      SELECT event_type, u,
             row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
      FROM hashed
    )
    SELECT event_type, COUNT(*) AS n_kept, MAX(u) AS kth_u,
      CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
           ELSE {float(_KMV_K - 1)!r} / MAX(u) END AS est_distinct
    FROM ranked WHERE rn <= {_KMV_K}
    GROUP BY event_type
    """,
)
def q_sketch_kmv(spark, sf):
    """KMV bottom-k distinct sketch (operators/sketches.py:
    kmv_distinct): estimated distinct users per event type from the 64
    smallest normalized hashes — the one-pass answer to
    count(DISTINCT) that a 100-TB table can afford. Salted two-stage
    bottom-k bounds every window task; sha64 injected for the oracle
    (xxhash64 is the scale default)."""
    from filters_spark.operators.hashing import sha64
    from filters_spark.operators.sketches import kmv_distinct

    e = _t(spark, sf, "events")
    return kmv_distinct(e, "user_id", ["event_type"], k=_KMV_K, hash_fn=sha64)


@_q(
    "sketch_hll_distinct",
    f"""
    WITH h AS (
      SELECT event_type, {sha64_sql("CAST(event_id AS VARCHAR)")} AS hv
      FROM events
    ), parts AS (
      SELECT event_type, hv & {_HLL_M - 1} AS bucket,
             (hv >> {_HLL_P}) & {(1 << _HLL_WBITS) - 1} AS w
      FROM h
    ), rho AS (
      SELECT event_type, bucket,
             LEAST({_HLL_CAP}, {_HLL_WBITS} - ({_HLL_BITLEN}) + 1) AS r
      FROM parts
    ), regs AS (
      SELECT event_type, bucket, MAX(r) AS reg FROM rho GROUP BY 1, 2
    ), fin AS (
      SELECT event_type, COUNT(*) AS used,
        CAST(SUM({_HLL_LADDER})
             + ({_HLL_M} - COUNT(*)) * {1 << _HLL_CAP} AS BIGINT) AS sum_int
      FROM regs GROUP BY 1
    )
    SELECT event_type, used, {_HLL_M} - used AS zeros, sum_int,
      CAST({hll_numerator(_HLL_M, _HLL_CAP)!r} AS DOUBLE)
        / CAST(sum_int AS DOUBLE) AS est_raw
    FROM fin
    """,
)
def q_sketch_hll(spark, sf):
    """HyperLogLog distinct sketch (operators/sketches.py:
    hll_distinct): p=8 (256 registers), estimated distinct event ids
    per event type. Register build is a constant-width groupBy (max
    rho per bucket) — mergeable across shards/days by per-register max
    (hll_merge), the property that makes HLL the standard distributed
    distinct count. Integer-exact register sum; sha64 injected for the
    oracle."""
    from filters_spark.operators.hashing import sha64
    from filters_spark.operators.sketches import hll_distinct

    e = _t(spark, sf, "events")
    return hll_distinct(e, "event_id", ["event_type"], p=_HLL_P, hash_fn=sha64)


_CMS_D, _CMS_W = 4, 64


@_q(
    "sketch_cms_counts",
    f"""
    WITH h AS (
      SELECT user_id, {sha64_sql("CAST(user_id AS VARCHAR)")} AS hv FROM events
    ), rows_ AS (SELECT unnest(range({_CMS_D})) AS r),
    probes AS (
      SELECT user_id, r, ({mixp31_sql("hv", "r")}) % {_CMS_W} AS col
      FROM h CROSS JOIN rows_
    ),
    counters AS (SELECT r, col, count(*) AS cnt FROM probes GROUP BY 1, 2),
    cand AS (SELECT DISTINCT user_id, hv FROM h WHERE user_id < 20),
    cp AS (
      SELECT user_id, r, ({mixp31_sql("hv", "r")}) % {_CMS_W} AS col
      FROM cand CROSS JOIN rows_
    )
    SELECT cp.user_id, MIN(coalesce(c.cnt, 0)) AS est
    FROM cp LEFT JOIN counters c ON c.r = cp.r AND c.col = cp.col
    GROUP BY cp.user_id
    """,
)
def q_sketch_cms(spark, sf):
    """Count-min frequency sketch (operators/sketches.py:cms_build/
    cms_estimate): per-user event-count estimates from a depth-4 x
    width-64 counter grid. The build is one constant-width groupBy
    (cells are additive — shard sketches re-merge exactly via
    cms_merge) and the probe broadcasts the constant-size counter
    frame, so candidate scoring is map-only at any corpus size. Width
    64 << distinct users, so collisions are real and the
    min-over-rows estimator is doing actual work; sha64+mix31
    injected so DuckDB recomputes the identical grid (xxhash64 is the
    scale default)."""
    from filters_spark.operators.hashing import sha64
    from filters_spark.operators.sketches import cms_build, cms_estimate

    e = _t(spark, sf, "events")
    counters = cms_build(e, "user_id", depth=_CMS_D, width=_CMS_W, hash_fn=sha64)
    items = e.select("user_id").distinct().filter(F.col("user_id") < 20)
    return cms_estimate(counters, items, "user_id", _CMS_D, _CMS_W, hash_fn=sha64)


@_q(
    "sample_weighted_priority",
    f"""
    WITH scored AS (
      SELECT o_orderpriority, o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS weight,
             (CAST({sha64_sql("CAST(o_orderkey AS VARCHAR)")} AS DOUBLE)
                / 18446744073709551616.0 + 0.5)
               / CAST(o_totalprice AS DOUBLE) AS rank_key
      FROM orders WHERE CAST(o_totalprice AS DOUBLE) > 0
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY o_orderpriority ORDER BY rank_key, o_orderkey) AS rn
      FROM scored
    ), tau AS (
      SELECT o_orderpriority,
             MAX(CASE WHEN rn = 26 THEN 1.0 / rank_key END) AS tau
      FROM ranked WHERE rn <= 26 GROUP BY 1
    )
    SELECT r.o_orderpriority, r.o_orderkey, r.weight, r.rank_key,
           CASE WHEN t.tau IS NULL THEN r.weight
                ELSE greatest(r.weight, t.tau) END AS est_weight
    FROM ranked r JOIN tau t USING (o_orderpriority)
    WHERE r.rn <= 25
    """,
)
def q_sample_weighted_priority(spark, sf):
    """Weighted corpus sampling via priority sampling (operators/
    sampling.py:priority_sample): the 25 highest-priority orders per
    priority class, weight = order value, with the Duffield-Lund-
    Thorup est_weight = max(w, tau) adjustment that keeps subset-sum
    estimates unbiased. Rank key u/w is a single IEEE division of
    exact doubles — no ln/pow — so selection AND adjusted weights are
    bit-identical in DuckDB with the injected sha64 hash."""
    from filters_spark.operators.hashing import sha64
    from filters_spark.operators.sampling import priority_sample

    o = _t(spark, sf, "orders")
    return priority_sample(
        o, 25, "o_totalprice", "o_orderkey",
        group_cols=["o_orderpriority"], hash_fn=sha64,
    )


@_q(
    "sample_mixture",
    f"""
    WITH c AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n_s FROM documents GROUP BY 1
    ), tot AS (SELECT CAST(sum(n_s) AS DOUBLE) AS n FROM c),
    p AS (
      SELECT source,
             least(1.0,
                   ((CAST(substr(source, 4) AS INT) + 1) / 210.0)
                     * (0.4 * tot.n) / n_s) AS p
      FROM c, tot
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN p USING (source)
    WHERE (CAST({sha64_sql("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
             / 18446744073709551616.0 + 0.5) < p.p
    """,
)
def q_sample_mixture(spark, sf):
    """Dataset-mixture resampling (operators/sampling.py:
    mixture_sample): keep per-source hash subsets so the output
    composition matches target weights — here w_s proportional to the
    source index + 1, out_frac 0.4, so keep probabilities span a real
    range. The keep test u01(sha64(id)) < p_s uses exact doubles and
    p_s is one float expression both engines spell identically, so the
    kept SET is bit-deterministic (xxhash64 stays the scale
    default)."""
    from filters_spark.operators.hashing import sha64
    from filters_spark.operators.sampling import mixture_sample

    d = _t(spark, sf, "documents")
    weights = {f"src{i}": (i + 1) / 210.0 for i in range(20)}
    return mixture_sample(
        d, "source", "doc_id", weights, out_frac=0.4, hash_fn=sha64
    ).select("doc_id", "source")


@_q(
    "profile_events",
    """
    WITH p AS (
      SELECT 'event_id' AS "column", CAST(event_id AS VARCHAR) AS value FROM events
      UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
      UNION ALL SELECT 'event_type', event_type FROM events
      UNION ALL SELECT 'props', props FROM events
    )
    SELECT "column", count(*) AS n_rows,
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           count(DISTINCT value) AS n_distinct,
           min(value) AS min_value, max(value) AS max_value
    FROM p GROUP BY 1
    """,
)
def q_profile_events(spark, sf):
    """One-pass column profiling (operators/profile.py): per-column
    row/null/distinct counts + lexicographic min/max for any number of
    columns in ONE aggregation (map-side explode to (column, value)
    pairs, one shuffle on the column name) — the backfill-observability
    primitive. String-cast comparisons keep it type-agnostic and make
    both engines compare identically."""
    from filters_spark.operators.profile import profile

    return profile(
        _t(spark, sf, "events"), ["event_id", "user_id", "event_type", "props"]
    )


def _pagerank_oracle_sql(iters: int = 3, scale: int = 10**9, damp: int = 85) -> str:
    """Unrolled-CTE DuckDB mirror of operators/graph.py:pagerank over
    the symmetric customer<->supplier graph. Integer algebra (// and
    div are both floor division on positive BIGINTs) makes every rank
    bit-identical across engines."""
    base = ((100 - damp) * scale) // 100
    ctes = [
        """pairs AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
                      's' || CAST(l_suppkey AS VARCHAR) AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )""",
        """edges AS (
      SELECT c AS src, s AS dst FROM pairs
      UNION ALL SELECT s AS src, c AS dst FROM pairs
    )""",
        """nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)""",
        """outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY 1)""",
        f"""r0 AS (SELECT node, CAST({scale} AS BIGINT) AS r FROM nodes)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""c{i} AS (
      SELECT e.dst AS node, SUM(r.r // o.od) AS s
      FROM edges e JOIN r{i-1} r ON r.node = e.src
      JOIN outdeg o ON o.src = e.src GROUP BY 1
    )"""
        )
        # same overflow-free decomposition as the operator:
        # (d*s) div 100 == (s div 100)*d + ((s mod 100)*d) div 100
        ctes.append(
            f"""r{i} AS (
      SELECT n.node,
             CAST({base} + (coalesce(c.s, 0) // 100) * {damp}
                  + ((coalesce(c.s, 0) % 100) * {damp}) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN c{i} c USING (node)
    )"""
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT node, r AS rank_scaled FROM r{iters}"
    )


@_q("graph_pagerank", _pagerank_oracle_sql())
def q_graph_pagerank(spark, sf):
    """Fixed-iteration PageRank (operators/graph.py:pagerank) over the
    symmetric customer<->supplier purchase graph — the quality-
    weighting primitive of web-corpus curation. Integer-exact ranks
    (BIGINT at scale 1e9, div-based redistribution and damping) make
    the iterative algorithm partition-order independent, so the DuckDB
    oracle — the three iterations unrolled as CTEs — reproduces every
    rank bit-for-bit. Per-iteration materialization keeps the plan
    O(1) deep (the dedupe_clusters lineage lesson)."""
    from filters_spark.operators.graph import pagerank

    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    pairs = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return pagerank(edges, iters=3)


@_q(
    "sort_zorder_quantized",
    f"""
    WITH q AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(percent_rank() OVER (PARTITION BY o_orderkey % 16
                                             ORDER BY o_totalprice, o_orderkey)
                        * 255.0 + 0.5) AS BIGINT) AS price_q
      FROM orders
    )
    SELECT o_orderkey, price_q,
           {zorder_sql("o_custkey % 256", "price_q", 8)} AS zkey
    FROM q
    """,
)
def q_sort_zorder_quantized(spark, sf):
    """The full 2-D clustering-key pipeline: rank-quantize a skewed
    unbounded column into [0, 256) (lake/zorder.py:quantize_rank
    — equal-mass buckets via percent_rank, deterministic under ties),
    then Morton-interleave it with a bounded dimension. percent_rank
    is exact double arithmetic over integer ranks, so quantiles and
    keys are bit-identical cross-engine.

    SCALE SHAPE: the rank window is PARTITIONED by an independent hash
    bucket (pmod(o_orderkey, 16)) — price and orderkey are
    uncorrelated, so each bucket's rank distribution approximates the
    global quantile while the sort stays per-partition; bare
    group_cols=() (one global sort task) is the documented footgun and
    now warns (quantize_rank docstring)."""
    from filters_spark.lake.zorder import quantize_rank, zorder_key

    o = _t(spark, sf, "orders").withColumn(
        "_part", F.pmod(F.col("o_orderkey"), F.lit(16))
    )
    q = quantize_rank(
        o, "o_totalprice", bits=8, out_col="price_q",
        tiebreak=["o_orderkey"], group_cols=("_part",),
    )
    zk = zorder_key(F.pmod(F.col("o_custkey"), F.lit(256)), F.col("price_q"), bits=8)
    return q.select("o_orderkey", "price_q", zk.alias("zkey"))


@_q(
    "sort_zorder_key",
    f"""
    SELECT o_orderkey,
           {zorder_sql("o_custkey % 65536", "o_orderkey % 65536", 16)} AS zkey
    FROM orders
    """,
)
def q_sort_zorder_key(spark, sf):
    """Z-order (Morton) clustering key (lake/zorder.py): the
    bit-interleave of two bounded dimensions, computed as one map-only
    literal-shift expression — sorting data files by it makes
    file-level min/max skipping selective on BOTH columns at once
    (tests/test_zorder.py measures the pruning win on parquet footer
    stats). Exact integer algebra, recomputed bit-identically by the
    DuckDB twin."""
    from filters_spark.lake.zorder import zorder_key

    o = _t(spark, sf, "orders")
    zk = zorder_key(
        F.pmod(F.col("o_custkey"), F.lit(65536)),
        F.pmod(F.col("o_orderkey"), F.lit(65536)),
        bits=16,
    )
    return o.select("o_orderkey", zk.alias("zkey"))


_BLOOM_M, _BLOOM_K = 4096, 3


def _sql_bit_mask(bit_expr: str) -> str:
    """DuckDB CASE ladder for ``1 << (bit & 63)`` as signed BIGINT —
    mirrors lake/xxh._bit_mask (1<<63 spelled as the negative long)."""
    arms = " ".join(
        f"WHEN {i} THEN CAST({1 << i if i < 63 else '-9223372036854775807 - 1'} AS BIGINT)"
        for i in range(64)
    )
    return f"CASE (({bit_expr}) & 63) {arms} END"


@_q(
    "sketch_bloom_filter",
    f"""
    WITH h AS (
      SELECT {sha64_sql("CAST(o_custkey AS VARCHAR)")} AS hv FROM orders
    ), ks AS (SELECT unnest(range({_BLOOM_K})) AS kk),
    bits AS (
      SELECT ({mixp31_sql("hv", "kk")}) % {_BLOOM_M} AS bit FROM h CROSS JOIN ks
    ),
    words AS (
      SELECT bit >> 6 AS word_idx, bit_or({_sql_bit_mask("bit")}) AS bits
      FROM bits GROUP BY 1
    ),
    cand AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_custkey <= 100
      UNION ALL SELECT unnest(range(900000, 900100))
    ),
    cb AS (
      SELECT custkey,
             ({mixp31_sql(sha64_sql("CAST(custkey AS VARCHAR)"), "kk")})
               % {_BLOOM_M} AS bit
      FROM cand CROSS JOIN ks
    )
    SELECT p.custkey,
           (sum(CASE WHEN (coalesce(w.bits, 0) & {_sql_bit_mask("p.bit")}) <> 0
                     THEN 1 ELSE 0 END) = {_BLOOM_K}) AS might_contain
    FROM cb p LEFT JOIN words w ON w.word_idx = (p.bit >> 6)
    GROUP BY 1
    """,
)
def q_sketch_bloom(spark, sf):
    """Bloom membership filter (operators/sketches.py:bloom_build/
    bloom_might_contain): the map-side semi-join pruning primitive — a
    constant-size (word_idx, bits) frame built by ONE bit_or groupBy,
    broadcast to probe candidates without shuffling them. m=4096 <<
    distinct keys' hash space, so false positives are real and the
    k-probe AND is doing actual work; a False is definitive absence.
    bit_or is order-independent in integer space, so the whole sketch
    is recomputed bit-identically by DuckDB with the injected sha64 +
    prime-modulus mixer (xxhash64 stays the scale default)."""
    from filters_spark.operators.hashing import sha64
    from filters_spark.operators.sketches import bloom_build, bloom_might_contain

    o = _t(spark, sf, "orders")
    bloom = bloom_build(o, "o_custkey", m_bits=_BLOOM_M, k=_BLOOM_K, hash_fn=sha64)
    present = (
        o.select(F.col("o_custkey").alias("custkey"))
        .distinct()
        .filter(F.col("custkey") <= 100)
    )
    absent = spark.range(900000, 900100).select(F.col("id").alias("custkey"))
    items = present.unionByName(absent)
    return bloom_might_contain(
        bloom, items, "custkey", m_bits=_BLOOM_M, k=_BLOOM_K, hash_fn=sha64
    )


@_q(
    "heavy_hitters_users",
    """
    SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    HAVING count(*) >= 0.008 * (SELECT count(*) FROM events)
    """,
)
def q_heavy_hitters(spark, sf):
    """Exact heavy hitters without shuffling the distinct-key set
    (operators/sketches.py:heavy_hitters): map-only per-partition
    candidate generation (pigeonhole-complete, mapInPandas), broadcast
    semi-join, exact count of candidates only. The candidate pass can
    only over-generate, so the result equals the plain GROUP BY /
    HAVING oracle exactly — the scale path is value-checked against
    the naive one."""
    from filters_spark.operators.sketches import heavy_hitters

    e = _t(spark, sf, "events")
    return heavy_hitters(e, "user_id", 0.008)


# -- k-means clustering (operators/clustering.py) ----------------------------


def _kmeans_oracle_sql(
    table: str, vec: str, idc: str, k: int, iters: int, dim: int, quant: int
) -> str:
    """Unrolled Lloyd iterations as a DuckDB CTE chain — an INDEPENDENT
    recomputation of the whole iterative algorithm (init selection,
    every assignment, every quantized-integer centroid update), not a
    replay of Spark's centroids. Bit-equality holds because every
    intermediate is an exact integer or a double derived from exact
    integers by identically-spelled IEEE ops (clustering.py docstring).
    DuckDB lists are 1-based, hence the [i+1] indexing."""
    Q = f"{float(quant)!r}"
    sha = sha64_sql(f"CAST({idc} AS VARCHAR)")

    def dist(alias: str) -> str:
        return " + ".join(
            f"(CAST({vec}[{i + 1}] AS DOUBLE) - {alias}.c{i})"
            f" * (CAST({vec}[{i + 1}] AS DOUBLE) - {alias}.c{i})"
            for i in range(dim)
        )

    init_cols = ", ".join(f"CAST({vec}[{i + 1}] AS DOUBLE) AS c{i}" for i in range(dim))
    sums = ", ".join(
        f"CAST(SUM(CAST(floor(CAST(e.{vec}[{i + 1}] AS DOUBLE) * {Q} + 0.5)"
        f" AS BIGINT)) AS BIGINT) AS s{i}"
        for i in range(dim)
    )
    parts = [
        f"""e AS (SELECT {idc}, {vec} FROM {table}),
init_r AS (
  SELECT {init_cols}, row_number() OVER (ORDER BY {sha}, {idc}) AS rn FROM e
),
cent0 AS (SELECT rn - 1 AS cid, * EXCLUDE (rn) FROM init_r WHERE rn <= {k})"""
    ]
    for it in range(iters):
        coal = ", ".join(
            f"coalesce(CAST(u.s{i} AS DOUBLE) / (CAST(u.n AS DOUBLE) * {Q}), p.c{i})"
            f" AS c{i}"
            for i in range(dim)
        )
        parts.append(
            f"""a{it} AS (
  SELECT e.{idc}, c.cid, {dist('c')} AS d FROM e CROSS JOIN cent{it} c
),
asg{it} AS (
  SELECT {idc}, cid FROM (
    SELECT {idc}, cid,
           row_number() OVER (PARTITION BY {idc} ORDER BY d, cid) AS rn
    FROM a{it}) WHERE rn = 1
),
upd{it} AS (
  SELECT g.cid, COUNT(*) AS n, {sums}
  FROM asg{it} g JOIN e ON g.{idc} = e.{idc} GROUP BY g.cid
),
cent{it + 1} AS (
  SELECT p.cid, {coal} FROM cent{it} p LEFT JOIN upd{it} u ON p.cid = u.cid
)"""
        )
    parts.append(
        f"""fin AS (
  SELECT e.{idc}, c.cid, {dist('c')} AS d FROM e CROSS JOIN cent{iters} c
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT {idc}, CAST(cid AS INTEGER) AS cluster, d AS dist FROM (
  SELECT {idc}, cid, d,
         row_number() OVER (PARTITION BY {idc} ORDER BY d, cid) AS rn
  FROM fin) WHERE rn = 1"""
    )


@_q(
    "kmeans_embedding_clusters",
    _kmeans_oracle_sql("embeddings", "embedding", "vec_id", 8, 2, 64, 1_000_000),
)
def q_kmeans(spark, sf):
    """Lloyd k-means over the embedding table (operators/clustering.py
    kmeans): k=8, two update rounds after deterministic hash-spread
    init. Per round: one map-only assignment scan (centroid literals,
    no join) + ONE k-row-wide groupBy with quantized-integer component
    sums — the partition-order-independent trick that lets an
    ITERATIVE float algorithm hash-match a DuckDB recomputation."""
    from filters_spark.operators.clustering import kmeans

    e = _t(spark, sf, "embeddings")
    out, _ = kmeans(e, "embedding", "vec_id", k=8, iters=2, dim=64)
    return out


# --- row-level DML over the lake (lake/dml.py) ------------------------------
#
# DELETE/UPDATE ... WHERE as declarative snapshot operations. The
# oracles recompute the post-DML logical state from the same parquet,
# so value equality certifies the whole triage (kept-by-reference /
# dropped-whole-from-stats / boundary-scan) plus the rewrite itself —
# a wrong metadata-only drop proof would surface as a row diff here.


@_q(
    "lake_dml_delete",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE},
    {_LAKE_LWW_CTES}
    SELECT repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D'
      AND NOT coalesce(lang = 'F' AND event_seq <= 3000, false)
    """,
)
def q_lake_dml_delete(spark, sf):
    """DELETE FROM t WHERE lang='F' AND event_seq<=3000 (lake/dml.py
    delete_where, copy-on-write): the residual predicate forces the
    boundary-scan path, and pending MoR delta buckets fold in full
    before the rewrite — so the final state is the LWW merge minus the
    matching rows, row-level-exact."""
    from filters_spark.lake.dml import delete_where

    t = _lake_build(spark, sf, deltas=True)
    delete_where(t, predicate="lang = 'F'", where=("event_seq", None, 3000))
    return t.read().select(*_LAKE_STATE_COLS)


@_q(
    "lake_dml_mor_delete_dv",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE},
    {_LAKE_LWW_CTES}
    SELECT repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D'
      AND NOT coalesce(lang = 'F' AND event_seq <= 3000, false)
    """,
)
def q_lake_dml_mor_delete_dv(spark, sf):
    """DELETE via DELETION VECTORS (lake/dml.py mode='dv' — Iceberg v2
    position-delete semantics): the MoR fixture compacts (vectors
    reference base files, so the table must be delta-free), then the
    same delete as lake_dml_delete lands as O(matched) position-delete
    files with ZERO bucket rewrites — the commit is asserted to be a
    pure 'delete-vectors' snapshot whose base file lists are
    byte-identical to the pre-delete snapshot. Final state must equal
    the CoW/MoR result exactly (shared oracle); the read-amplification
    win (DV buckets keep min/max pruning) is pinned in
    tests/test_dml.py."""
    from filters_spark.lake.dml import delete_where

    t = _lake_build(spark, sf, deltas=True)
    t.compact()
    pre = t.current()
    rep = delete_where(
        t, predicate="lang = 'F'", where=("event_seq", None, 3000), mode="dv"
    )
    snap = rep["snapshot"]
    if snap is not None:
        assert snap["operation"] == "delete-vectors"
        assert snap["buckets"] == pre["buckets"]  # no rewrite
    return t.read().select(*_LAKE_STATE_COLS)


@_q(
    "lake_dml_delete_pruned",
    f"""
    WITH {_LAKE_BASE_CTE}
    SELECT repo, path, "commit", event_seq, lang, content,
           sha256(content) AS content_sha
    FROM base WHERE NOT coalesce(event_seq <= 700, false)
    """,
)
def q_lake_dml_delete_pruned(spark, sf):
    """Pure-range DELETE over a stats+sort clustered table (lake/dml.py
    delete_where): files whose manifest [min,max] + zero-null proof
    covers the range drop METADATA-ONLY (no IO), out-of-range files are
    kept by reference, only boundary files rewrite. Value equality
    against the recomputed survivor set certifies the drop proof never
    over- or under-deletes."""
    from filters_spark.lake.dml import delete_where
    from filters_spark.lake.table import LakeTable

    t = _lake_build(spark, sf, deltas=False, skipping=True)
    delete_where(t, where=("event_seq", None, 700))
    out = t.read()
    if out is None:  # tiny sf can delete every row: empty frame, same schema
        out = spark.createDataFrame([], LakeTable._base_ddl(["lang", "content"]))
    return out.select(*_LAKE_STATE_COLS)


@_q(
    "lake_dml_update",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE},
    {_LAKE_LWW_CTES},
    st AS (
      SELECT repo, path, "commit", event_seq, lang, content,
             coalesce(content LIKE 'U:%', false) AS hit
      FROM ranked WHERE rn = 1 AND op <> 'D'
    )
    SELECT repo, path, "commit", event_seq,
           CASE WHEN hit THEN lower(lang) ELSE lang END AS lang,
           CASE WHEN hit THEN 'X:' || content ELSE content END AS content,
           sha256(CASE WHEN hit THEN 'X:' || content ELSE content END)
             AS content_sha
    FROM st
    """,
)
def q_lake_dml_update(spark, sf):
    """UPDATE t SET content='X:'||content, lang=lower(lang) WHERE
    content LIKE 'U:%' (lake/dml.py update_where, copy-on-write): SET
    expressions evaluate over the OLD row, content_sha re-derives from
    the final content — the per-row invariant the north rule checks."""
    from filters_spark.lake.dml import update_where

    t = _lake_build(spark, sf, deltas=True)
    update_where(
        t,
        {"content": "'X:' || content", "lang": "lower(lang)"},
        predicate="content LIKE 'U:%'",
    )
    return t.read().select(*_LAKE_STATE_COLS)


@_q(
    "lake_dml_mor_update",
    f"""
    WITH {_LAKE_BASE_CTE}, {_LAKE_DELTA_CTE},
    {_LAKE_LWW_CTES},
    st AS (
      SELECT repo, path, "commit", event_seq, lang, content,
             coalesce(lang = 'O', false) AS hit
      FROM ranked WHERE rn = 1 AND op <> 'D'
    )
    SELECT repo, path, lang,
           CASE WHEN hit THEN content || '+' ELSE content END AS content,
           sha256(CASE WHEN hit THEN content || '+' ELSE content END)
             AS content_sha
    FROM st
    """,
)
def q_lake_dml_mor_update(spark, sf):
    """Merge-on-read UPDATE (lake/dml.py update_where mode='mor'): the
    change appends as op='U' delta rows under ONE synthetic feed
    identity strictly above the global watermark and every matched
    row's own (commit, event_seq) — O(matched), no bucket rewrite — and
    the read-time LWW fold must elect them. (commit, event_seq) are
    excluded from the compare (the winners carry the synthetic
    engine-internal identity); the payload and re-derived sha are the
    contract."""
    from filters_spark.lake.dml import update_where

    t = _lake_build(spark, sf, deltas=True)
    update_where(t, {"content": "content || '+'"}, predicate="lang = 'O'", mode="mor")
    return t.read().select("repo", "path", "lang", "content", "content_sha")


# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
