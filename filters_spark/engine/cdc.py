"""The CDC merge-apply loop: binlog tail -> validated, exactly-once,
key-partitioned upserts into the lake table.

Pipeline per batch (SURVEY.md §4.3):

1. **Schema-normalize + validate in one scan**: versions dispatch via
   CASE on schema_version; distinct chains run once over masked inputs
   (``_validated``).
2. **Watermark filter**: events at or below their bucket's committed
   watermark are replays — dropped (idempotency / exactly-once resume).
3. **Validate** via per-field chains (native Column or Arrow kernel);
   split clean / dead-letter. The validated frame is persisted once per
   batch so the two branches don't recompute kernels.
4. **Dedupe** last-writer-wins within the batch on (repo, path) by
   (commit, event_seq) — replayed/overwritten events collapse to the
   final write.
5. **Shuffle once**: repartition by ``_bucket`` (hash(repo, salt(path)))
   so the merge is partition-local and the write is shuffle-free.
   Hot-repo skew is broken by the path-salt inside the bucket function
   (lake/table.py:bucket_expr) + AQE skew handling.
6. **Merge**: bucket-pruned read of current state for touched buckets
   only, union with events, window last-writer-wins, drop deletes —
   copy-on-write of exactly the touched buckets.
7. **Commit**: atomic snapshot manifest swap; per-bucket watermarks
   advance to max applied (commit, event_seq).
8. **Lineage/metrics**: per-bucket rows appended to a parquet lineage
   table; metrics dict returned.

Determinism: the merge winner per key is a pure function of
(commit, event_seq) — ties impossible within a stream — so the final
table state is byte-identical across batch boundaries, replay counts,
partition counts and cluster sizes. That invariant is what the
replay-equality and local[8]-vs-local[32] tests pin.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Mapping

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import BooleanType, IntegerType, StructType

from filters_spark.engine.evolution import SpecRegistry
from filters_spark.engine.local import (
    _INTEGRAL, PASSTHROUGH, Collected, apply_local, collect_batch, frame_plan,
    parquet_footers,
)
from filters_spark.lake.fileio import write_parquet_local
from filters_spark.lake.table import LakeTable, bucket_expr, lww_merge, watermark_str
from filters_spark.session import job_description


def _check_event_seq(events: DataFrame) -> None:
    """The engine's one ``event_seq`` input contract, checked before
    anything is staged: an integral type. Every source emits a long and
    the table reads ``event_seq`` as one, so a string sequence would
    commit files the table can no longer read."""
    seq = dict(events.dtypes).get("event_seq")
    if seq is not None and seq not in _INTEGRAL:
        raise ValueError(f"event_seq must be an integral type, got {seq}")


@dataclass(frozen=True)
class RefCheck:
    """Referential-integrity gate for one canonical payload column —
    the cross-TABLE complement of the per-field filter chains: a
    change event whose ``field`` value is not in the reference set is
    dead-lettered (code ``ref_violation:<name>``) instead of applied,
    exactly like a per-field FilterError. SQL-FK semantics by default:
    NULL passes (``allow_null=False`` rejects it), and DELETE events
    are exempt — a tombstone removes the row, its carried payload
    never lands.

    ``ref``: a one-column-usable DataFrame (the dimension) or a
    callable ``(spark) -> DataFrame`` resolved at staging time (live
    dimensions re-read per replay). The gate is ONE broadcast hash
    join per check over the distinct reference values — dimension
    class, never fact class: the distinct set must broadcast."""

    field: str
    ref: object          # DataFrame | (spark) -> DataFrame
    ref_col: str
    name: str = "fk"
    allow_null: bool = True

    def resolve(self, spark: SparkSession) -> DataFrame:
        df = self.ref(spark) if callable(self.ref) else self.ref
        return df.select(F.col(self.ref_col).cast("string").alias("__ref")).distinct()


@dataclass(frozen=True)
class CheckConstraint:
    """Table-level CHECK constraint (Delta ``ADD CONSTRAINT`` / DLT
    expectation) over the VALIDATED canonical row: a SQL boolean
    expression evaluated per change event after the field chains run;
    events where it is FALSE dead-letter under
    ``check_violation:<name>``. SQL CHECK semantics: NULL (unknown)
    PASSES — spell ``x IS NOT NULL AND ...`` to reject missing values.
    DELETE tombstones are exempt (nothing lands). Pure map-side column
    algebra — no join, no shuffle, no Python; cross-FIELD invariants
    (``commit`` width vs ``event_seq`` range, lang/content coherence)
    that single-field chains cannot express."""

    name: str
    predicate: str

    def expr(self) -> F.Column:
        return F.expr(self.predicate)


@dataclass
class StagedBatch:
    """A batch applied up to — but not including — the publish: the
    merge's data files and a staged (write-audit-publish) header are on
    disk, the table head has NOT moved, and the validated scratch dir
    (carrying the batch's dead letters) is retained. The decision is
    deferred to the caller: :meth:`publish` fast-forwards the head and
    completes the side effects (dead-letter adoption, lineage, scratch
    cleanup); :meth:`abandon` drops everything, leaving the table as if
    the batch never arrived.

    This is the per-table half of a multi-table atomic fan-out
    (engine/txn.py): stage every table, persist one commit decision,
    then publish all — a crash between publishes rolls forward from
    the decision record instead of tearing the batch across tables.

    Every field except ``engine`` is JSON-serializable (``to_entry``/
    ``from_entry``) so a coordinator can persist the handle and a
    recovery process in a fresh session can finish the publish.

    ``wap_id`` is None when the batch touched no bucket (empty slice,
    all dead-lettered, or all replays) — publish then only adopts dead
    letters and cleans up; the head never moves.
    """

    engine: "CDCEngine"
    wap_id: str | None
    parent_sid: int
    staged_sid: int | None
    scratch: str | None
    dead_src: str | None
    adopt_name: str | None
    n_dead: int
    events_in: int
    applied: int
    skipped: int
    # per-bucket (bucket, max_watermark, rows) for lineage
    bucket_stats: list = field(default_factory=list)
    t0: float = 0.0

    _ENTRY_FIELDS = (
        "wap_id", "parent_sid", "staged_sid", "scratch", "dead_src",
        "adopt_name", "n_dead", "events_in", "applied", "skipped",
        "bucket_stats",
    )

    def to_entry(self) -> dict:
        return {k: getattr(self, k) for k in self._ENTRY_FIELDS}

    @classmethod
    def from_entry(cls, engine: "CDCEngine", entry: dict) -> "StagedBatch":
        e = {k: entry[k] for k in cls._ENTRY_FIELDS}
        e["bucket_stats"] = [tuple(r) for r in e["bucket_stats"]]
        return cls(engine=engine, t0=time.time(), **e)

    def publish(self) -> dict:
        """Fast-forward the table to the staged state and complete the
        deferred side effects. Raises if the head moved since staging
        (a concurrent writer) — the stage is left intact for the caller
        to abandon or re-stage."""
        eng = self.engine
        if self.wap_id is not None:
            new_snap = eng.table.publish_wap(self.wap_id)
            sid = new_snap["snapshot_id"]
            if eng.write_mode == "mor":
                ripe = eng.table.buckets_needing_compaction(eng.compact_after)
                if ripe:
                    eng.table.compact(ripe)
        else:
            sid = self.parent_sid
        self.finalize(sid)
        return self._metrics(sid, status="published")

    def finalize(self, sid: int, dedupe_lineage: bool = False) -> None:
        """The post-publish side effects, each idempotent so crash
        recovery can re-run them: dead-letter adoption (a rename —
        skipped when the source dir is already gone), lineage rows
        (``dedupe_lineage`` skips the write when rows for ``sid``
        already exist — recovery can't know whether the first attempt
        got this far), scratch cleanup."""
        eng = self.engine
        if self.dead_src is not None:
            eng._adopt_dead_letters(self.dead_src, self.adopt_name, self.n_dead)
        rows = [
            (sid, int(b), w, int(n), self.n_dead, int(time.time() * 1000))
            for b, w, n in self.bucket_stats
        ]
        if rows and dedupe_lineage and self._lineage_has(sid):
            rows = []
        eng._write_lineage(rows)
        if self.scratch is not None:
            eng.io.rmtree(self.scratch)

    def _lineage_has(self, sid: int) -> bool:
        eng = self.engine
        if not eng.io.isdir(eng.lineage_dir):
            return False
        return bool(
            eng.spark.read.parquet(eng.lineage_dir)
            .filter(F.col("snapshot_id") == sid)
            .head(1)
        )

    def abandon(self) -> dict:
        """Drop the stage: table head, watermarks and dead-letter table
        all untouched — re-applying the batch later is NOT a replay."""
        eng = self.engine
        if self.wap_id is not None and eng.io.exists(eng.table._wap_path(self.wap_id)):
            eng.table.abandon_wap(self.wap_id)
        if self.scratch is not None:
            eng.io.rmtree(self.scratch)
        return self._metrics(self.parent_sid, status="abandoned", rejected=True)

    def _metrics(self, sid: int, status: str, rejected: bool = False) -> dict:
        return {
            "events_in": self.events_in,
            "applied": 0 if rejected else self.applied,
            "dead_lettered": 0 if rejected else self.n_dead,
            "skipped_replays": self.skipped,
            "touched_buckets": 0 if rejected else len(self.bucket_stats),
            "txn": status,
            "snapshot_id": sid,
            "seconds": time.time() - self.t0,
        }


class CDCEngine:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        registry: SpecRegistry,
        dead_letter_dir: str | None = None,
        lineage_dir: str | None = None,
        write_mode: str = "cow",
        compact_after: int = 8,
        ref_checks: list[RefCheck] | None = None,
        check_constraints: list[CheckConstraint] | None = None,
    ):
        """``write_mode``:

        - ``"cow"`` (default): each batch rewrites the touched buckets
          with the merged state — reads stay bare scans, but ingest IO
          is O(touched table) per batch.
        - ``"mor"``: each batch appends O(batch) delta files
          (merge-on-read); reads fold base ∪ deltas lazily, and buckets
          auto-compact once they accumulate ``compact_after`` delta
          files. The ingest path for 10^10-event replays, where CoW's
          per-batch rewrite is quadratic in total IO.
        """
        self.spark = spark
        self.table = table
        self.io = table.io  # same FS as the table (DFS-safe, lake/fileio.py)
        if not registry.versions:
            raise ValueError("registry has no registered schema versions")
        self.registry = registry
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
        self.write_mode = write_mode
        self.compact_after = compact_after
        for chk in ref_checks or []:
            if chk.field not in registry.canonical_columns:
                raise ValueError(
                    f"ref_check field {chk.field!r} is not a canonical column"
                )
        self.ref_checks = list(ref_checks or [])
        self.check_constraints = list(check_constraints or [])
        root = table.root
        self.dead_letter_dir = dead_letter_dir or os.path.join(root, "dead_letter")
        self.lineage_dir = lineage_dir or os.path.join(root, "lineage")

    # ------------------------------------------------------------------

    # Merge-window partition sizing: the LWW fold sorts content-heavy
    # rows per (version/batch, bucket) partition, and letting the
    # session's shuffle.partitions (sized to core count by callers) or
    # AQE's compressed-byte coalescing decide leaves multi-GB sorts per
    # task at replay scale (measured: the 6M-event grouped CoW fold ran
    # 3x slower at 8 post-shuffle partitions than at 64). The engine
    # knows the row volume entering every fold from the batch stats, so
    # it sizes the exchange explicitly: rows/ROWS_PER_PARTITION, floored
    # at the session's shuffle.partitions (small folds keep exactly the
    # plan they had) and capped defensively. Row-count based because
    # parquet/shuffle compressed bytes under-estimate in-memory sort
    # width ~40x on code content.
    FOLD_ROWS_PER_PARTITION = 200_000

    # Batches up to this many input rows (counted from the parquet
    # footers) apply and stage on the driver (engine/local.py): below it
    # the Spark path's fixed per-batch cost outweighs running the
    # kernels in one Python process. Measured on a 4-core local[4]
    # host, the driver path is faster up to ~40k rows (README.md,
    # "Small batches on the driver"); the constant sits at half that.
    LOCAL_MAX_ROWS = 20_000

    def _fold_partitions(self, rows_est: int) -> int:
        floor = int(self.spark.conf.get("spark.sql.shuffle.partitions", "200"))
        return max(floor, min(rows_est // self.FOLD_ROWS_PER_PARTITION + 1, 4096))

    def _current_rows_est(self, buckets: list[int]) -> int:
        """Metadata-only row estimate of the current state of the given
        buckets (0 when manifests lack counts — partition sizing only,
        never semantics)."""
        try:
            return self.table.metadata_row_count(buckets=buckets) or 0
        except Exception:
            return 0

    def _payload_cols(self) -> list[str]:
        """Non-key canonical payload columns, derived from the registry
        at CALL time — registering a VersionSpec that adds a column
        widens the set mid-stream (the next commit records the union;
        older files read the new columns as NULL)."""
        return [c for c in self.registry.canonical_columns if c not in ("repo", "path")]

    def _validated(self, events: DataFrame) -> DataFrame:
        """Single-scan, version-dispatched validation.

        Per canonical field, registered versions are grouped by
        (chain spec, source column after rename); each DISTINCT chain
        compiles once and runs once over a version-masked input column,
        with a CASE on ``schema_version`` stitching group outputs back
        together. Versus the previous union-of-slices design this reads
        the WAL once instead of once per version (+1 for the unknown
        slice) and crosses the Python/Arrow boundary once per distinct
        kernel chain instead of once per version — the dominant costs
        of the staging pass. Events with an UNregistered version get
        NULL fields and an ``unknown_schema_version`` dead-letter error
        — a bad producer must not stall a 10^10-event stream."""
        from filters_spark.operators.validate import ERRORS_COL, FieldSpec, compile_field
        from filters_spark.functions.native import ERRORS_DDL

        known = sorted(self.registry.versions)
        sv = F.col("schema_version")
        known_cond = sv.isin(known)

        empty_errs = F.array().cast(ERRORS_DDL)
        field_values: dict[str, F.Column] = {}
        field_raws: dict[str, F.Column] = {}
        field_errs: list[F.Column] = []
        # Native chains are compiled to PARTS (final transform +
        # nullable first-error struct) projected as named intermediate
        # columns in a first select; the second select stitches the
        # err-gated value and the error channel from those attributes.
        # Inlining both into one projection evaluates the whole chain
        # tree TWICE per field (codegen subexpression elimination does
        # not reach across the value/error CASE trees — measured ~2x
        # the native cost); the err alias is non-cheap and referenced
        # twice, so CollapseProject keeps the two projections apart and
        # the chain runs once.
        part_cols: list[F.Column] = []
        for field, groups in self._validation_groups(events.columns).items():
            value_expr, err_expr, raw_expr = None, None, None
            for gi, (vs, chain_spec, src) in enumerate(groups):
                # WAL payload contract: field chains consume STRING
                # payloads (binlog/WAL values arrive serialized). A
                # non-string source column is therefore cast to string
                # at the source — the native chain then sees a genuine
                # string input, so its string semantics (required's
                # emptiness test, etc.) are correct BY CONSTRUCTION,
                # closing the round-2 advice gap without diverting the
                # column to an additional Arrow kernel stage in the hot
                # loop (each kernel stage is an extra Arrow
                # serialization round trip per staged batch). Parser
                # kernels (Int etc.) re-cast the cleaned value to its
                # target dtype, so outputs are unchanged (pinned
                # byte-exact vs the pandas oracle).
                if src is not None and (
                    events.schema[src].dataType.simpleString() != "string"
                ):
                    in_col = F.col(src).cast("string")
                elif src is not None:
                    in_col = F.col(src)
                else:
                    in_col = F.lit(None).cast("string")
                cond = sv.isin(vs)
                if chain_spec is None:  # field not validated in these versions
                    val, errs = in_col, empty_errs
                else:
                    spec = FieldSpec.of(chain_spec)
                    native_parts = None
                    if spec.mode in ("auto", "native"):
                        from filters_spark.functions.native import compile_native_chain

                        native_parts = compile_native_chain(
                            field, spec.chain_spec, input_type="string", parts=True
                        )
                    if native_parts is not None:
                        t_name = f"__nat_t_{field}_{gi}"
                        e_name = f"__nat_e_{field}_{gi}"
                        raw_val, err = native_parts(in_col)
                        part_cols.append(raw_val.alias(t_name))
                        part_cols.append(err.alias(e_name))
                        e, t = F.col(e_name), F.col(t_name)
                        val = F.when(e.isNull(), t).otherwise(F.lit(None))
                        errs = F.when(
                            e.isNotNull(), F.array(e)
                        ).otherwise(empty_errs)
                    else:
                        _, fn = compile_field(field, spec, input_type="string")
                        # mask the input to NULL outside this version
                        # group for kernel chains: it keeps other
                        # groups' payload bytes off the Python path
                        val, errs = fn(F.when(cond, in_col))
                value_expr = F.when(cond, val) if value_expr is None else value_expr.when(cond, val)
                err_expr = F.when(cond, errs) if err_expr is None else err_expr.when(cond, errs)
                raw_expr = F.when(cond, in_col) if raw_expr is None else raw_expr.when(cond, in_col)

            # unknown versions: NULL value, raw preserved when present
            fallback_raw = F.col(field) if field in events.columns else F.lit(None).cast("string")
            field_values[field] = value_expr.otherwise(F.lit(None))
            field_raws[field] = raw_expr.otherwise(fallback_raw)
            field_errs.append(err_expr.otherwise(empty_errs))

        unknown_err = F.array(
            F.struct(
                F.lit("schema_version").alias("key"),
                F.lit("unknown_schema_version").alias("code"),
                F.concat(
                    F.lit("No spec registered for schema_version="),
                    F.coalesce(sv.cast("string"), F.lit("null")),
                ).alias("message"),
            )
        )
        # concat of the per-field arrays (not array-of-arrays + flatten:
        # one less allocation pass per row, same element order)
        all_errs = F.when(known_cond, F.concat(*field_errs)).otherwise(unknown_err)

        projection = [F.col(c) for c in PASSTHROUGH]
        for field in self.registry.canonical_columns:
            projection.append(field_values[field].alias(field))
            projection.append(field_raws[field].alias(f"_raw_{field}"))
        projection.append(all_errs.alias(ERRORS_COL))
        base = events.select("*", *part_cols) if part_cols else events
        return base.select(*projection)

    def _validation_groups(self, columns: list[str]) -> dict[str, list[tuple]]:
        """The validation plan both validators run: per canonical field,
        the registered versions grouped by (chain spec, source column
        after rename) as ``(versions, chain_spec, src)`` — each distinct
        chain runs once over the rows of its versions. ``src`` is None
        when the versions' incoming column is absent from ``columns``."""
        def src_name(field: str, v: int) -> str | None:
            incoming = field
            for old, new in self.registry.get(v).renames.items():
                if new == field:
                    incoming = old
            return incoming if incoming in columns else None

        plan: dict[str, list[tuple]] = {}
        for field in self.registry.canonical_columns:
            groups: dict[str, tuple] = {}
            for v in sorted(self.registry.versions):
                chain = self.registry.get(v).field_specs.get(field)
                src = src_name(field, v)
                key = json.dumps([chain, src], sort_keys=True, default=repr)
                groups.setdefault(key, ([], chain, src))[0].append(v)
            plan[field] = list(groups.values())
        return plan

    @staticmethod
    def _null_clean_raws(out: DataFrame) -> DataFrame:
        """keep_raw="on_error": NULL the ``_raw_*`` columns of rows with
        an empty error channel, as a separate projection so the error
        expression is evaluated once (CollapseProject leaves
        multiply-referenced non-cheap expressions alone). Runs AFTER
        the ref/check gates — a row dead-lettered only by a gate must
        keep its raws, or dead_letters()/retry_dead_letters would see a
        payload-less event."""
        from filters_spark.operators.validate import ERRORS_COL

        has_errors = F.size(F.col(ERRORS_COL)) > 0
        return out.select(
            *[
                F.when(has_errors, F.col(c)).alias(c) if c.startswith("_raw_") else F.col(c)
                for c in out.columns
            ]
        )

    def _ref_checked(self, df: DataFrame) -> DataFrame:
        """Apply the engine's :class:`RefCheck` and
        :class:`CheckConstraint` gates to a validated frame: one
        BROADCAST hash join per ref check against the distinct
        reference values, one map-side boolean expression per
        constraint (the event stream never shuffles for either),
        appending ``ref_violation:<name>`` / ``check_violation:<name>``
        error structs. Runs BEFORE the ``_dead`` split, so violations
        ride the normal dead-letter machinery (adoption,
        retry_dead_letters after fixing the dimension/producer,
        metrics) with zero new code paths."""
        from filters_spark.operators.validate import ERRORS_COL

        for chk in self.ref_checks:
            ref = F.broadcast(chk.resolve(self.spark).withColumn("__hit", F.lit(True)))
            df = df.join(ref, df[chk.field] == ref["__ref"], "left").drop("__ref")
            bad = F.col("__hit").isNull() & (F.col("op") != F.lit("D"))
            if chk.allow_null:
                bad = bad & F.col(chk.field).isNotNull()
            err = F.struct(
                F.lit(chk.field).alias("key"),
                F.lit(f"ref_violation:{chk.name}").alias("code"),
                F.concat(
                    F.lit(f"value not in reference set {chk.name!r}: "),
                    F.coalesce(F.col(chk.field), F.lit("null")),
                ).alias("message"),
            )
            df = df.withColumn(
                ERRORS_COL,
                F.when(bad, F.concat(F.col(ERRORS_COL), F.array(err)))
                .otherwise(F.col(ERRORS_COL)),
            ).drop("__hit")
        for chk in self.check_constraints:
            # SQL CHECK semantics: only a definitively-FALSE predicate
            # violates (NULL = unknown passes); deletes are exempt
            bad = (chk.expr() == F.lit(False)) & (F.col("op") != F.lit("D"))
            err = F.struct(
                F.lit(chk.name).alias("key"),
                F.lit(f"check_violation:{chk.name}").alias("code"),
                F.lit(f"CHECK ({chk.predicate}) failed").alias("message"),
            )
            df = df.withColumn(
                ERRORS_COL,
                F.when(bad, F.concat(F.col(ERRORS_COL), F.array(err)))
                .otherwise(F.col(ERRORS_COL)),
            )
        return df

    # ------------------------------------------------------------------

    # split-sizing mutates SESSION conf; concurrent stagers (the
    # fan-out thread pool) must not interleave set/restore. Non-blocking:
    # whoever holds the lock tunes its scan, everyone else runs with the
    # session defaults (correct either way — split size is performance,
    # never semantics).
    _SCAN_SPLITS_LOCK = threading.Lock()

    @contextmanager
    def _scan_splits(self, events: DataFrame):
        """Scope parquet split sizing to the staging job.

        The WAL compresses hard (measured ~40x on code content), so a
        fixed byte-based split size packs its files into far fewer scan
        tasks than the cluster has cores (measured: 64 segments -> 13
        tasks at 32 MB splits = 1.6 task waves on an 8-core leg, 60%
        idle on 32) — and the staging scan is narrow (no shuffle), so
        its task count IS the parallelism of the whole validate phase.
        Size splits from the actual input bytes to ~3 tasks per core,
        for THIS job only: a session-wide small split was measured
        slower (it also shatters the staged-parquet re-reads and every
        query scan into per-task python-worker setup overhead)."""
        try:
            files = events.inputFiles()
        except Exception:
            files = []
        if not files:
            yield
            return
        sc = self.spark.sparkContext
        try:
            jvm = sc._jvm
            hconf = sc._jsc.hadoopConfiguration()
            total = 0
            for f in files:
                p = jvm.org.apache.hadoop.fs.Path(f)
                total += p.getFileSystem(hconf).getFileStatus(p).getLen()
        except Exception:
            yield
            return
        # ~3 tasks/core, but never below 4MB/task: Arrow batch + codegen
        # setup per task needs a few MB of work to amortize (measured:
        # a 1MB floor at local[32] tripled replay wall — ~100 tiny
        # tasks AND ~8x the staged file count for every downstream
        # per-batch read to re-pack).
        par = max(sc.defaultParallelism, 1)
        target = min(max(total // (3 * par), 4 << 20), 128 << 20)
        open_cost = min(max(target // 4, 64 << 10), 4 << 20)
        if not self._SCAN_SPLITS_LOCK.acquire(blocking=False):
            yield  # a concurrent stager is tuning; run with defaults
            return
        try:
            conf = self.spark.conf
            wanted = {
                "spark.sql.files.maxPartitionBytes": str(target),
                "spark.sql.files.openCostInBytes": str(open_cost),
            }
            old = {k: conf.get(k, None) for k in wanted}
            for k, v in wanted.items():
                conf.set(k, v)
            try:
                yield
            finally:
                for k, v in old.items():
                    if v is None:
                        conf.unset(k)
                    else:
                        conf.set(k, v)
        finally:
            self._SCAN_SPLITS_LOCK.release()

    def _staged_frame(self, events: DataFrame, snap: dict) -> DataFrame:
        """The validated, bucketed batch as staging writes it (before the
        partition columns): passthrough, per-field value and raw,
        ``_errors``, ``_bucket``, ``_wm``, ``_dead``."""
        validated = self._validated(events)
        if self.ref_checks or self.check_constraints:
            validated = self._ref_checked(validated)
        validated = self._null_clean_raws(validated)
        validated = validated.withColumn(
            "_bucket",
            bucket_expr(F.col("repo"), F.col("path"), snap["num_buckets"], snap["path_salt"]),
        ).withColumn("_wm", watermark_str(F.col("commit"), F.col("event_seq")))
        return validated.withColumn("_dead", F.size(F.col("_errors")) > 0)

    def _stage(
        self,
        events: DataFrame,
        snap: dict,
        batch_col: F.Column | None = None,
        prefix: str = "batch",
        scratch_dir: str | None = None,
    ) -> tuple[str, StructType]:
        """Validate + bucket the stream and stage it to scratch parquet,
        partitioned by (_batch, _dead); ``batch_col`` defaults to 0 (one
        batch).

        This is THE fixed-cost sink: the multi-version validate plan
        (the largest Catalyst tree in the engine) is analyzed, codegen'd
        and executed exactly ONCE per stage call — replay() stages the
        whole stream in one pass, so N batches pay the plan cost once
        instead of N times (round-1 measured ~60s/batch of driver-side
        fixed cost at any batch size; that was the scaling killer).
        Downstream consumers (stats, dead-letter adoption, merge) read
        the staged columnar files back with partition pruning on
        (_batch, _dead) and per-consumer column pruning.

        Staging to parquet beat both alternatives measured here:
        recompute-per-consumer (3x kernel + scan) and .persist()
        (JavaSerializer spill dominated). On a cluster the scratch dir
        is the job's DFS staging location — bounded by the staged input
        size, cleaned after the last commit.

        Returns the scratch dir and the schema to read it back with
        (:meth:`_read_staged`): the staged columns with the partition
        columns last, ``_batch`` int and ``_dead`` boolean — a declared
        schema spares the read-back a footer-inference job."""
        staged = self._staged_frame(events, snap).withColumn(
            "_batch", (F.lit(0) if batch_col is None else batch_col).cast("int")
        )
        scratch = scratch_dir or os.path.join(
            self.table.root, "_staging", f"{prefix}-{uuid.uuid4().hex}"
        )
        with self._scan_splits(events), job_description(
            self.spark, f"filters_spark: stage {os.path.basename(self.table.root)}"
        ):
            staged.write.partitionBy("_batch", "_dead").parquet(scratch)
        return scratch, self._read_schema(staged.schema)

    @staticmethod
    def _read_schema(staged: StructType) -> StructType:
        out = StructType([f for f in staged.fields if f.name not in ("_batch", "_dead")])
        return out.add("_batch", IntegerType()).add("_dead", BooleanType())

    def _read_staged(self, scratch: str, schema: StructType) -> DataFrame:
        return self.spark.read.schema(schema).option("basePath", scratch).parquet(scratch)

    def apply_batch(self, events: DataFrame, audit_fn=None) -> dict:
        """Apply one event batch; returns metrics. Idempotent: replaying
        any subset of already-applied events is a no-op.

        ``audit_fn(table, wap_id) -> bool``: write-audit-publish gate.
        When given, the batch's merge is STAGED (lake/table.py
        stage_buckets/stage_deltas) instead of committed; the callback
        audits the staged state — ``table.read(wap_id=wap_id)``, row
        counts, invariant checks — and returns True to publish. False
        (or an exception) abandons the stage: the table head, the
        watermarks and the dead-letter table are all untouched, so
        re-applying the batch after fixing the producer is NOT treated
        as a replay. Metrics gain ``"audit": "published"|"rejected"``.

        A batch of at most ``LOCAL_MAX_ROWS`` parquet rows (and no
        ``audit_fn``) applies on the driver instead of through Spark
        staging — same results, one Spark job (engine/local.py).

        ``events`` may also be a :class:`~filters_spark.engine.local.Collected`
        batch: one the fan-out front half already collected to the
        driver, applied there as is. The driver path does not audit, so
        a ``Collected`` batch with ``audit_fn`` raises ``ValueError``.

        Raises ``ValueError`` for a non-integral ``event_seq``."""
        t0 = time.time()
        if isinstance(events, Collected):
            if audit_fn is not None:
                raise ValueError("a Collected batch cannot be audited: pass the events as a DataFrame")
            return apply_local(self, events.table, events.snap, events.plan, t0)
        _check_event_seq(events)
        snap = self.table.current()
        if audit_fn is None:
            plan = frame_plan(self, events, snap)
            if plan is not None:
                return apply_local(self, collect_batch(self, events, plan), snap, plan, t0)
        scratch, schema = self._stage(events, snap)
        try:
            if not self.io.tree_has_suffix(scratch, ".parquet"):  # empty input
                return self._untouched_metrics(self._batch_stats([]), snap, t0)
            return self._apply_staged(
                self._read_staged(scratch, schema), scratch, os.path.basename(scratch), t0,
                audit_fn=audit_fn,
            )
        finally:
            self.io.rmtree(scratch)

    def bootstrap(
        self,
        snapshot_rows: DataFrame,
        replay_from: "tuple[str, int] | str",
        schema_version: int | None = None,
        num_chunks: int = 1,
    ) -> dict:
        """Seed an EMPTY table from an initial source snapshot, then
        hand off to the binlog tail at ``replay_from`` — the classic
        CDC bootstrap (Debezium "initial snapshot then stream"; DBLog's
        watermark interleave solves the same race chunk-wise).

        The snapshot is FUZZY: it need not be a transactionally
        consistent cut. The contract is only that ``replay_from`` is a
        LOW watermark — a stream position such that every change at or
        below it is already reflected in the snapshot — and that each
        snapshot row carries the (commit, event_seq) of the change that
        last wrote it (source rows in a CDC deployment do: it is the
        row's last-modified position). Changes AFTER ``replay_from``
        may or may not be in the snapshot; the tail re-delivers them
        and the per-row LWW merge reconciles the overlap window:

        - tail event older than the snapshot row for its key → loses
          the ``_wm`` comparison in :func:`lww_merge`, no-op;
        - tail event newer → wins, upsert/delete applies;
        - same position (the event that produced the snapshot row) →
          identical content either way.

        Mechanically: the snapshot rows run the NORMAL staged apply —
        same validation chains, dead-letter routing, bucket shuffle and
        merge as any event batch (rows missing ``op``/``event_seq``
        default to ``'I'``/``0``; ``schema_version`` may be supplied as
        a literal) — then one metadata-only commit replaces every
        bucket's watermark with ``replay_from`` (LakeTable.
        set_watermarks). The seeding commit's own per-bucket maxima
        would be WRONG watermarks: a bucket's max snapshot position
        gates out overlap events targeting its OTHER rows. After
        bootstrap, ``replay()`` the tail from ``replay_from`` exactly
        as usual; re-replays of the tail start dedupe via the normal
        watermark gate, so the handoff is idempotent end-to-end
        (pinned in tests/test_bootstrap.py against a from-zero full
        replay: byte-identical final state).

        ``replay_from``: ``(commit_hex, event_seq)`` or a pre-formatted
        ``"commit:seq"`` watermark string. The commit must be the same
        fixed width as the stream's commit strings (watermark order is
        lexicographic) and ``event_seq`` must be ≥ 0.

        ``num_chunks``: with 1 (default) the snapshot seeds in ONE
        staged apply — fine up to mid-size tables, but a 10^10-row
        initial load should neither be one commit nor restart from zero
        on a crash. With G>1 the snapshot is staged ONCE (same
        single-pass validate as replay) partitioned into G whole-bucket
        chunks (chunk = bucket mod G — a bucket never spans chunks, so
        a committed chunk's watermarks can't gate a later chunk), each
        chunk commits independently, and a ``bootstrap-state.json``
        checkpoint under the table root records completed chunks: a
        crashed bootstrap RESUMES by calling bootstrap again with the
        same arguments — completed chunks are skipped, a
        committed-but-unrecorded chunk re-applies as all-replays
        (idempotent, the normal watermark gate), and only then does the
        final watermark handoff + cleanup run. DBLog loads initial
        snapshots in exactly this chunked, stream-interleaved way.

        Every num_chunks (1 included) runs through the same
        checkpointed path, so any crash window is resumable.

        Returns the apply metrics summed across ALL invocations of a
        (possibly resumed) bootstrap — the state file carries running
        totals — plus ``replay_from`` (the formatted low watermark) and
        ``bootstrap=True``. A chunk that committed in the crash window
        before its checkpoint record counts its events once, under
        ``skipped_replays`` (the re-apply) rather than ``applied``.
        """
        import re as _re

        if isinstance(replay_from, str):
            low = replay_from
            commit_part, _, seq_part = low.partition(":")
            if not commit_part or not seq_part:
                raise ValueError(f"malformed watermark string {low!r}")
            # the seq half needs the same width discipline as the
            # commit half: an unpadded 'abcdef...:5' sorts ABOVE padded
            # positions like ':00000000000000000042', silently dropping
            # part of the tail as replays. Accept any integer string
            # but normalize to the engine-wide %020d before use.
            if not _re.fullmatch(r"\d{1,20}", seq_part):
                raise ValueError(
                    f"replay_from event_seq {seq_part!r} must be a "
                    "decimal integer (≤20 digits; watermark order is "
                    "lexicographic over %020d-padded seqs)"
                )
            low = f"{commit_part}:{int(seq_part):020d}"
        else:
            commit_part, seq = replay_from
            if seq < 0:
                raise ValueError("replay_from event_seq must be >= 0")
            low = f"{commit_part}:{seq:020d}"
        # watermark order is LEXICOGRAPHIC: a commit of the wrong width
        # mis-sorts against every real position — e.g. an unpadded
        # '7530' exceeds all '0'-led 12-hex commits, silently dropping
        # the ENTIRE tail as replays. 12-hex zero-padded is the
        # engine-wide convention (WATERMARK_ZERO, datagen, the Debezium
        # ordering derivation all use %012x).
        if not _re.fullmatch(r"[0-9a-f]{12}", commit_part):
            raise ValueError(
                f"replay_from commit {commit_part!r} must be 12-char "
                "zero-padded lowercase hex (the stream's fixed commit "
                "width; lexicographic watermark order breaks otherwise)"
            )

        if num_chunks < 1:
            raise ValueError("num_chunks must be >= 1")

        rows = snapshot_rows
        if "op" not in rows.columns:
            rows = rows.withColumn("op", F.lit("I"))
        if "event_seq" not in rows.columns:
            rows = rows.withColumn("event_seq", F.lit(0).cast("long"))
        if "schema_version" not in rows.columns:
            if schema_version is None:
                raise ValueError(
                    "snapshot_rows has no schema_version column and no "
                    "schema_version literal was supplied"
                )
            rows = rows.withColumn("schema_version", F.lit(schema_version))

        snap = self.table.current()
        state_path = os.path.join(self.table.root, "bootstrap-state.json")
        resuming = self.io.exists(state_path)
        if not resuming and (
            snap["buckets"] or snap.get("deltas") or snap.get("watermarks")
        ):
            raise ValueError(
                "bootstrap requires an empty table (no data files, no "
                f"watermarks); head snapshot {snap['snapshot_id']} has "
                f"{len(snap['buckets'])} base bucket(s), "
                f"{len(snap.get('deltas') or {})} delta bucket(s), "
                f"{len(snap.get('watermarks') or {})} watermark(s)"
            )
        # num_chunks == 1 runs the SAME checkpointed path: a crash
        # between the seeding commit and the watermark handoff is
        # resumable instead of stranding high watermarks on a
        # non-empty table (which would silently gate out the overlap
        # window if the operator proceeded to replay anyway)
        return self._bootstrap_chunked(rows, low, num_chunks, snap, state_path)

    def _bootstrap_chunked(
        self, rows: DataFrame, low: str, num_chunks: int, snap: dict, state_path: str
    ) -> dict:
        """Chunked, crash-resumable seeding (see :meth:`bootstrap`).

        Crash-window sketch (all re-entrant via calling bootstrap again
        with the same args): during staging → no state file, restaged
        from scratch; after a chunk's commit but before its checkpoint
        record → re-applies as all-replays; after the final
        set_watermarks but before cleanup → set_watermarks re-runs
        (idempotent replacement) and cleanup completes."""
        scratch = os.path.join(self.table.root, "_staging", "bootstrap")
        success_marker = os.path.join(scratch, "_SUCCESS")
        t0 = time.time()
        counter_keys = ("events_in", "applied", "dead_lettered", "skipped_replays")
        if self.io.exists(state_path):
            state = json.loads(self.io.read_text(state_path))
            if state["replay_from"] != low or state["num_chunks"] != num_chunks:
                raise ValueError(
                    f"bootstrap-state.json records replay_from="
                    f"{state['replay_from']!r} num_chunks={state['num_chunks']} "
                    f"but this call passed {low!r}/{num_chunks}; resume with "
                    "the original arguments or remove the state file and "
                    "start over on an empty table"
                )
            # foreign-commit guard: resume is only sound when every
            # commit since the checkpoint came from THIS bootstrap —
            # the recorded head, or head+1 for a chunk that committed
            # in the crash window before its checkpoint record. A head
            # further along means someone ingested into the table
            # (e.g. an abandoned bootstrap followed by real replay);
            # re-seeding and REGRESSING watermarks under live ingest
            # would re-admit the whole tail range.
            head_now = self.table.current_snapshot_id()
            if head_now not in (state["head"], state["head"] + 1):
                raise ValueError(
                    f"cannot resume bootstrap: table head {head_now} moved "
                    f"past the checkpointed head {state['head']} by more "
                    "than the one-commit crash window — foreign commits "
                    "landed since; remove bootstrap-state.json and start "
                    "over on a fresh table"
                )
            # restage only when chunks remain AND the staged snapshot is
            # not COMPLETE — isdir alone is not completion (Spark
            # creates the dir at write-job start; a crashed restage
            # leaves a partial tree), the job-commit _SUCCESS marker is.
            # A crash in the final cleanup window (all chunks done,
            # scratch already removed) must NOT re-stage.
            schema = None
            if len(set(state["chunks_done"])) < num_chunks and not self.io.exists(
                success_marker
            ):
                if self.io.isdir(scratch):
                    self.io.rmtree(scratch)
                schema = self._stage_bootstrap(rows, num_chunks, snap, scratch)
        else:
            if self.io.isdir(scratch):  # stale partial stage, no state
                self.io.rmtree(scratch)
            schema = self._stage_bootstrap(rows, num_chunks, snap, scratch)
            state = {
                "replay_from": low, "num_chunks": num_chunks, "chunks_done": [],
                "head": self.table.current_snapshot_id(),
                "totals": {k: 0 for k in counter_keys},
            }
            self.io.write_text_atomic(state_path, json.dumps(state))

        # totals persist in the state file so a RESUMED bootstrap
        # returns the sum across invocations, not just its own chunks.
        # A chunk that committed in the crash window before its record
        # re-applies as all-replays: its events count once, under
        # skipped_replays rather than applied.
        totals = dict(state["totals"])
        done = set(state["chunks_done"])
        if done != set(range(num_chunks)) and self.io.tree_has_suffix(scratch, ".parquet"):
            if schema is None:  # resuming onto an earlier call's complete stage
                schema = self._read_schema(self._staged_frame(rows, snap).schema)
            staged_all = self._read_staged(scratch, schema)
            for i in range(num_chunks):
                if i in done:
                    continue
                m = self._apply_staged(
                    staged_all.filter(F.col("_batch") == i), scratch, f"bootstrap-c{i}",
                    time.time(), batch=i,
                )
                for k in counter_keys:
                    totals[k] += m[k]
                done.add(i)
                state.update(
                    chunks_done=sorted(done), totals=totals,
                    head=self.table.current_snapshot_id(),
                )
                self.io.write_text_atomic(state_path, json.dumps(state))

        self.table.set_watermarks(
            {str(b): low for b in range(snap["num_buckets"])},
            operation="bootstrap",
        )
        self.io.rmtree(scratch)
        self.io.remove(state_path)
        return {
            **totals,
            "snapshot_id": self.table.current_snapshot_id(),
            "seconds": time.time() - t0,
            "chunks": num_chunks,
            "replay_from": low,
            "bootstrap": True,
        }

    def _stage_bootstrap(
        self, rows: DataFrame, num_chunks: int, snap: dict, scratch: str
    ) -> StructType:
        chunk = F.pmod(
            bucket_expr(F.col("repo"), F.col("path"), snap["num_buckets"], snap["path_salt"]),
            F.lit(num_chunks),
        )
        return self._stage(rows, snap, batch_col=chunk, scratch_dir=scratch)[1]

    def stage_batch(self, events: DataFrame, wap_id: str) -> StagedBatch:
        """:meth:`apply_batch` halted at the commit point: validate,
        watermark-filter and merge the batch, write the merged data
        files and a staged (WAP) header under ``wap_id``, but do NOT
        move the table head — return a :class:`StagedBatch` whose
        ``publish()``/``abandon()`` decides later. The scratch dir
        (dead letters included) is retained until that decision; on any
        failure here it is cleaned up and nothing was staged.

        This is the participant half of the multi-table atomic fan-out
        (engine/txn.py). Single-table callers wanting an audit gate
        should prefer ``apply_batch(audit_fn=...)``, which bounds the
        stage's lifetime to the call.

        The scratch dir carries the ``txn-`` prefix (vs ``batch-`` for
        the in-call applies) so recover_fanout's orphan sweep can
        target fan-out stages without touching a concurrent plain
        stager's in-flight scratch. A batch of at most
        ``LOCAL_MAX_ROWS`` parquet rows, or a
        :class:`~filters_spark.engine.local.Collected` one (see
        :meth:`apply_batch`), stages on the driver (engine/local.py) with
        the same handle and scratch layout."""
        t0 = time.time()
        if isinstance(events, Collected):
            return apply_local(self, events.table, events.snap, events.plan, t0,
                               wap_id=wap_id)
        _check_event_seq(events)
        snap = self.table.current()
        plan = frame_plan(self, events, snap)
        if plan is not None:
            return apply_local(self, collect_batch(self, events, plan), snap, plan, t0,
                               wap_id=wap_id)
        scratch, schema = self._stage(events, snap, prefix="txn")
        try:
            if not self.io.tree_has_suffix(scratch, ".parquet"):  # empty input
                self.io.rmtree(scratch)
                return self._empty_stage(snap, t0)
            handle = self._apply_staged(
                self._read_staged(scratch, schema), scratch, os.path.basename(scratch), t0,
                stage_only_wap=wap_id,
            )
            handle.scratch = scratch
            return handle
        except BaseException:
            self.io.rmtree(scratch)
            raise

    def _staged_handle(self, wap_id, snap, staged_header, dead_src, adopt_name,
                       p, t0, scratch=None):
        """The :class:`StagedBatch` of a batch with stats ``p``
        (:meth:`_batch_stats`); ``wap_id``/``staged_header`` are None
        when it touched no bucket."""
        return StagedBatch(
            engine=self, wap_id=wap_id,
            parent_sid=snap["snapshot_id"],
            staged_sid=staged_header["snapshot_id"] if staged_header else None,
            scratch=scratch, dead_src=dead_src, adopt_name=adopt_name,
            n_dead=p["n_dead"], events_in=p["events_in"], applied=p["applied"],
            skipped=p["skipped"],
            bucket_stats=[
                (int(r["_bucket"]), r["wm"], int(r["n"])) for r in p["bucket_stats"]
            ],
            t0=t0,
        )

    def _empty_stage(self, snap: dict, t0: float) -> StagedBatch:
        return self._staged_handle(None, snap, None, None, None, self._batch_stats([]), t0)

    def _with_survives(self, staged: DataFrame, wm_map: Mapping) -> DataFrame:
        """Flag replays: events at or below their bucket's committed
        watermark don't survive (idempotency / exactly-once resume).
        Flagging instead of filtering lets ONE stats pass yield
        applied/dead/skipped counts and per-bucket watermarks."""
        if wm_map:
            wm_df = self.spark.createDataFrame(
                [(int(b), w) for b, w in wm_map.items()], "_bucket int, _bucket_wm string"
            )
            return staged.join(F.broadcast(wm_df), "_bucket", "left").withColumn(
                "_survives", F.col("_bucket_wm").isNull() | (F.col("_wm") > F.col("_bucket_wm"))
            ).drop("_bucket_wm")
        return staged.withColumn("_survives", F.lit(True))

    def _apply_staged(self, staged: DataFrame, scratch: str, adopt_name: str, t0: float,
                      batch: int = 0, wm_map: Mapping | None = None, audit_fn=None,
                      stage_only_wap: str | None = None) -> dict | StagedBatch:
        """Watermark-filter, fold and commit (or stage) staged batch
        ``batch`` of ``scratch`` — a group of one (:meth:`_apply_group`);
        one call per batch, per bootstrap chunk included."""
        return self._apply_group(
            staged, scratch, {batch: adopt_name}, wm_map, t0,
            audit_fn=audit_fn, stage_only_wap=stage_only_wap,
        )[0]

    def _apply_group(self, staged: DataFrame, scratch: str, adopt_names: dict[int, str],
                     wm_map: Mapping | None, t0: float, lineage_sink: list | None = None,
                     audit_fn=None, stage_only_wap: str | None = None) -> list:
        """The Spark-path apply: watermark-filter, fold and commit a
        group of batches staged under ``scratch`` (already validated +
        bucketed; ``staged`` reads them). ``adopt_names`` maps each batch
        id, in commit order, to the name its dead letters are adopted
        under; ``wm_map`` defaults to the head's watermarks. Returns one
        metrics dict (or :class:`StagedBatch`) per batch.

        1. Survival + stats: ONE aggregate over (_batch, _dead,
           _survives, _bucket) against ``wm_map``.
        2. Fold: ONE write partitioned by (_batch, _bucket).
           Merge-on-read keeps each batch's in-batch LWW heads
           (tombstones kept: newest op wins at read time). Copy-on-write
           expands every row to each committing batch it belongs to
           (base rows to every batch touching their bucket, batch-j
           events to batches >= j; an ``explode``, no join) and keeps
           :func:`lww_merge`'s winners, in ``sort_cols`` order, so batch
           i's output is its buckets' state after batch i.
        3. Finalize, batch by batch in order, on the driver: move the
           batch's directory into data/ and commit it
           (``commit_{bucket,delta}_files``) — or, for a group of one,
           stage it (``stage_only_wap``) or stage and audit it
           (``audit_fn``).

        A group folds in one pass because replay batches are ascending
        disjoint commit ranges: batch i's watermark advances can never
        reach batch j>i's commits, so survival against the pre-group
        watermarks equals survival at batch time, and a bucket's state
        after batch i is ``lww(state_0 ∪ clean_{j<=i})``. The per-batch
        constant cost of a Spark job (scheduling, plan analysis, AQE
        re-planning) is paid once per group."""
        snap = self.table.current()
        sid0 = snap["snapshot_id"]
        staged = self._with_survives(staged, snap["watermarks"] if wm_map is None else wm_map)
        name = os.path.basename(self.table.root)
        with job_description(self.spark, f"filters_spark: stats {name}"):
            rows = (
                staged.groupBy("_batch", "_dead", "_survives", "_bucket")
                .agg(F.max("_wm").alias("wm"), F.count("*").alias("n"))
                .collect()
            )
        per = {i: self._batch_stats([r for r in rows if r["_batch"] == i]) for i in adopt_names}
        committing = [i for i in adopt_names if per[i]["touched"]]
        cow = self.write_mode == "cow"

        fold_out = os.path.join(self.table.root, "_staging", f"fold-{uuid.uuid4().hex}")
        if committing:
            # clean rows always have keys (the 'required' chain on path
            # dead-letters key-less rows upstream); the payload set
            # derives from the registry — a VersionSpec that ADDS a
            # canonical column widens it mid-stream
            payload = self._payload_cols()
            src = staged.filter(
                ~F.col("_dead") & F.col("_survives")
                & F.col("repo").isNotNull() & F.col("path").isNotNull()
            ).select("repo", "path", "commit", "event_seq", *payload, "op", "_bucket", "_wm",
                     "_batch")
            rows_est = sum(per[i]["applied"] for i in committing)
            if cow:
                touched = sorted({b for i in committing for b in per[i]["touched"]})
                current = self.table.read(snapshot_id=sid0, buckets=touched)
                if current is not None:
                    # schema evolution: the current table may predate a
                    # column ADD — NULL-fill the missing payload columns
                    src = current.select(
                        "repo", "path", "commit", "event_seq",
                        *[
                            (F.col(c) if c in current.columns else F.lit(None).cast("string"))
                            .alias(c)
                            for c in payload
                        ],
                        F.lit("K").alias("op"),
                        F.col("_bucket").cast("int").alias("_bucket"),
                        watermark_str(F.col("commit"), F.col("event_seq")).alias("_wm"),
                        F.lit(-1).alias("_batch"),
                    ).unionByName(src)
                # one copy of each row per committing batch it belongs to
                src = src.withColumn("_batch", F.explode(F.array(*[
                    F.when(F.col("_bucket").isin(per[i]["touched"]) & (F.col("_batch") <= i),
                           F.lit(i))
                    for i in committing
                ]))).filter(F.col("_batch").isNotNull())
                rows_est = sum(
                    per[i]["applied"] * sum(1 for j in committing if j >= i) for i in committing
                ) + self._current_rows_est(touched) * len(committing)
            src = src.repartition(self._fold_partitions(rows_est), "_batch", "_bucket")
            if cow:
                folded = lww_merge(src, payload, extra_keys=["_batch"])
                if snap.get("sort_cols"):
                    # cluster each base file like LakeTable._write_bucket_data
                    folded = folded.sortWithinPartitions("_batch", "_bucket", *snap["sort_cols"])
            else:
                mw = Window.partitionBy("_batch", "_bucket").orderBy(
                    "repo", "path", F.col("_wm").desc()
                )
                is_head = (
                    F.lag("repo").over(mw).isNull()
                    | (F.lag("repo").over(mw) != F.col("repo"))
                    | (F.lag("path").over(mw) != F.col("path"))
                )
                folded = (
                    src.withColumn("_head", F.coalesce(is_head, F.lit(True)))
                    .filter(F.col("_head"))
                    .drop("_head", "_wm")  # _wm re-derives from (commit, event_seq) at read
                )
            with job_description(self.spark, f"filters_spark: fold {name}"):
                folded.write.partitionBy("_batch", "_bucket").parquet(fold_out)
        share = (time.time() - t0) / len(adopt_names)  # the group's jobs, apportioned

        if cow:
            commit, stage = self.table.commit_bucket_files, self.table.stage_bucket_files
            # rolling conflict basis: the fold was computed against sid0
            # plus our OWN earlier batches. Each commit's bucket refs are
            # overlaid onto raw(sid0), so a FOREIGN commit to one of our
            # buckets anywhere in the fold-and-finalize window trips
            # commit_bucket_files' disjointness check, while our own
            # strictly-ordered commits validate clean
            raw = self.table._raw_snapshot(sid0)
            basis = {**raw, "buckets": dict(raw["buckets"]),
                     "deltas": dict(raw.get("deltas", {}))}
        else:
            # delta appends commute: their basis only guards against a rescale
            commit, stage = self.table.commit_delta_files, self.table.stage_delta_files
        out: list = []
        try:
            for i, adopt_name in adopt_names.items():
                t_i = time.time() - share
                dead_src = os.path.join(scratch, f"_batch={i}", "_dead=true")
                p = per[i]
                if not p["touched"]:
                    if stage_only_wap is not None:
                        # nothing to fold — the "stage" is just the retained
                        # scratch; publish adopts dead letters, abandon drops them
                        return [self._staged_handle(None, snap, None, dead_src, adopt_name, p, t0)]
                    self._adopt_dead_letters(dead_src, adopt_name, p["n_dead"])
                    out.append(self._untouched_metrics(p, self.table.current(), t_i))
                    continue
                # write-audit-publish: stage under a deterministic id
                # (head+1 is unique per parent; adopt_name disambiguates)
                wap_id = stage_only_wap or (
                    None if audit_fn is None else f"audit-{sid0 + 1}-{adopt_name}"
                )
                # unique names: a pre-existing dst (a crashed run, a racer
                # claiming the sid) would make move() NEST the batch's dir
                # inside it. Dir names are labels; reads resolve files
                # only through manifests.
                if wap_id is not None:
                    dst = self.table._fresh_stage_dir(f"wap-{'' if cow else 'delta-'}{wap_id}")
                else:
                    sid = self.table.current_snapshot_id() + 1
                    dst = os.path.join(
                        self.table.data_dir,
                        f"{'snap' if cow else 'delta'}-{sid:08d}-{uuid.uuid4().hex[:8]}",
                    )
                src_dir = os.path.join(fold_out, f"_batch={i}")
                if self.io.isdir(src_dir):
                    self.io.move(src_dir, dst)
                new_files: dict[str, list[str]] = {}
                for b in p["touched"]:  # no files: the batch emptied the bucket
                    bdir = os.path.join(dst, f"_bucket={b}")
                    new_files[str(b)] = sorted(
                        os.path.join(bdir, f)
                        for f in (self.io.listdir(bdir) if self.io.isdir(bdir) else [])
                        if f.endswith(".parquet")
                    )
                kw = dict(
                    stats={"rows_applied": p["applied"], "batch_dead_lettered": p["n_dead"]},
                    schema_version=self.registry.latest,
                    columns=self.registry.canonical_columns,
                )
                if wap_id is None:
                    new_snap = commit(
                        new_files, p["new_wms"], **kw,
                        **({"basis_raw": basis} if cow else {"basis_snapshot_id": sid0}),
                    )
                    if cow:
                        committed = self.table._raw_snapshot(new_snap["snapshot_id"])
                        basis["snapshot_id"] = committed["snapshot_id"]
                        for key in ("buckets", "deltas"):
                            for b in map(str, p["touched"]):
                                if b in committed.get(key, {}):
                                    basis[key][b] = committed[key][b]
                                else:
                                    basis[key].pop(b, None)
                else:
                    header = stage(new_files, p["new_wms"], wap_id, basis_snapshot_id=sid0, **kw)
                    if audit_fn is None:
                        return [self._staged_handle(
                            wap_id, snap, header, dead_src, adopt_name, p, t0
                        )]
                    new_snap = self._audit_publish(audit_fn, wap_id)
                    if new_snap is None:
                        return [self._rejected_metrics(p["events_in"], p["skipped"], snap, t0)]
                # dead letters move after the fold executed, so the clean
                # scan never races the move: a metadata move of the staged
                # _dead=true files, not another Spark job over the batch
                m = self._after_commit(
                    new_snap, p,
                    lambda: self._adopt_dead_letters(dead_src, adopt_name, p["n_dead"]),
                    t_i, lineage_sink,
                )
                if wap_id is not None:
                    m["audit"] = "published"
                out.append(m)
        finally:
            self.io.rmtree(fold_out)
        return out

    def _after_commit(self, new_snap: dict, p: dict, adopt_dead, t0: float,
                      lineage_sink: list | None = None) -> dict:
        """The side effects after a batch's commit, shared by the Spark
        and driver-side paths: threshold compaction (MoR), dead-letter
        adoption (``adopt_dead``), lineage rows. Returns the metrics."""
        if self.write_mode == "mor":
            ripe = self.table.buckets_needing_compaction(self.compact_after)
            if ripe:
                self.table.compact(ripe)
        adopt_dead()
        # 8. lineage — metadata-scale rows; inside replay() they buffer
        # into one write per replay (a per-batch single-task write job
        # was a measurable slice of the serial fraction)
        lineage_rows = [
            (
                new_snap["snapshot_id"], int(r["_bucket"]), r["wm"], int(r["n"]),
                p["n_dead"], int(time.time() * 1000),
            )
            for r in p["bucket_stats"]
        ]
        if lineage_sink is not None:
            lineage_sink.extend(lineage_rows)
        else:
            self._write_lineage(lineage_rows)
        return {
            "events_in": p["events_in"],
            "applied": p["applied"],
            "dead_lettered": p["n_dead"],
            "skipped_replays": p["skipped"],
            "touched_buckets": len(p["touched"]),
            "snapshot_id": new_snap["snapshot_id"],
            "seconds": time.time() - t0,
        }

    @staticmethod
    def _untouched_metrics(p: dict, snap: dict, t0: float) -> dict:
        """Metrics of a batch that touched no bucket (empty input, or
        empty after dead-lettering and the watermark gate): the head
        did not move."""
        return {
            "events_in": p["events_in"], "applied": 0, "dead_lettered": p["n_dead"],
            "skipped_replays": p["skipped"],
            "snapshot_id": snap["snapshot_id"], "seconds": time.time() - t0,
        }

    def _audit_publish(self, audit_fn, wap_id: str):
        """Run the write-audit-publish gate over a staged commit: True
        publishes and returns the new snapshot; False abandons and
        returns None; an exception — from the audit OR from the publish
        itself (a concurrent commit moved the head mid-audit, so the
        stage can never fast-forward) — abandons and propagates. The
        stage must never outlive its audit: an orphaned pending stage
        pins manifests and data against GC forever."""
        try:
            ok = bool(audit_fn(self.table, wap_id))
            if ok:
                return self.table.publish_wap(wap_id)
        except Exception:
            self.table.abandon_wap(wap_id)
            raise
        self.table.abandon_wap(wap_id)
        return None

    @staticmethod
    def _rejected_metrics(events_in: int, skipped: int, snap: dict, t0: float) -> dict:
        """Metrics for an audit-rejected batch: nothing applied, nothing
        dead-lettered (the staged dead letters are discarded with the
        scratch dir — the batch is rejected as a unit and will be
        re-submitted), watermarks and head unchanged. Carries every key
        the published-path metrics dict has, so callers can read a
        uniform schema."""
        return {
            "events_in": events_in, "applied": 0, "dead_lettered": 0,
            "skipped_replays": skipped, "touched_buckets": 0,
            "audit": "rejected",
            "snapshot_id": snap["snapshot_id"], "seconds": time.time() - t0,
        }

    @staticmethod
    def _batch_stats(rows: list) -> dict:
        """Fold one staged batch's per-(bucket, dead, survives) stat
        rows into the counters its finalize consumes — shared by the
        Spark path (:meth:`_apply_group`) and the driver path, so the
        `_survives` / dead-letter accounting can never diverge."""
        bucket_stats = [r for r in rows if not r["_dead"] and r["_survives"]]
        return {
            "events_in": int(sum(r["n"] for r in rows)),
            "n_dead": int(sum(r["n"] for r in rows if r["_dead"] and r["_survives"])),
            "skipped": int(sum(r["n"] for r in rows if not r["_survives"])),
            "bucket_stats": bucket_stats,
            "touched": sorted({int(r["_bucket"]) for r in bucket_stats}),
            # a bucket whose applied events all lack an order position
            # (NULL commit or seq) keeps its watermark
            "new_wms": {
                int(r["_bucket"]): r["wm"] for r in bucket_stats if r["wm"] is not None
            },
            "applied": int(sum(r["n"] for r in bucket_stats)),
        }

    LINEAGE_DDL = (
        "snapshot_id long, bucket int, watermark string, rows_applied long, "
        "batch_dead_lettered long, ts_ms long"
    )

    def _write_lineage(self, rows: list) -> None:
        if not rows:
            return
        if self._write_lineage_driver_side(rows):
            return
        self.spark.createDataFrame(rows, self.LINEAGE_DDL).coalesce(1).write.mode(
            "append"
        ).parquet(self.lineage_dir)

    def _write_lineage_driver_side(self, rows: list) -> bool:
        """Append the lineage rows as one parquet file written directly
        from the driver (pyarrow), skipping the ~1s createDataFrame +
        single-task write Spark job — a fixed serial term paid once per
        replay/apply for a handful of metadata-scale rows. False (and
        nothing written) when ``lineage_dir`` has a URI scheme; schema
        matches LINEAGE_DDL's parquet layout exactly, so Spark-written
        and driver-written files coexist in one read."""
        import pyarrow as pa

        schema = pa.schema([
            ("snapshot_id", pa.int64()),
            ("bucket", pa.int32()),
            ("watermark", pa.string()),
            ("rows_applied", pa.int64()),
            ("batch_dead_lettered", pa.int64()),
            ("ts_ms", pa.int64()),
        ])
        tbl = pa.table(
            {f.name: list(c) for f, c in zip(schema, zip(*rows))}, schema=schema
        )
        return write_parquet_local(tbl, self.lineage_dir) is not None

    def _adopt_dead_letters(self, dead_src: str, adopt_name: str, n_dead: int) -> None:
        if n_dead and self.io.isdir(dead_src):
            batch_dir = os.path.join(self.dead_letter_dir, adopt_name)
            self.io.move(dead_src, batch_dir)

    # ------------------------------------------------------------------

    def _commit_bounds(self, events: DataFrame) -> tuple[int, int]:
        """(min, max) commit of the stream, for batch-range splitting.

        Fast path: parquet FOOTER statistics of the input files — a
        driver-side metadata read instead of a full-stream scan job
        (the scan was a measurable per-replay serial term). Safe even
        when the frame carries filters: a widened [lo, hi] still covers
        every event and ``least(floor(...), n-1)`` clamps the batch id,
        so batching stays correct (ranges just skew slightly). Falls
        back to the scan for non-parquet / non-local / stats-less
        inputs."""
        bounds = self._footer_commit_bounds(events)
        if bounds is None:
            r = events.select(
                F.min("commit").alias("lo"), F.max("commit").alias("hi")
            ).first()
            if r.lo is None:  # empty stream: one empty batch, not a
                # TypeError — replay then reports zero-metrics like
                # apply_batch does
                return (0, 0)
            bounds = (int(r.lo, 16), int(r.hi, 16))
        return bounds

    def _footer_commit_bounds(self, events: DataFrame) -> tuple[int, int] | None:
        footers = parquet_footers(events)
        if footers is None:
            return None
        try:
            footers = list(footers)
        except Exception:
            return None
        lo = hi = None
        for md in footers:
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    if col.path_in_schema != "commit":
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        return None
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes):
                        mn, mx = mn.decode(), mx.decode()
                    lo = mn if lo is None else min(lo, mn)
                    hi = mx if hi is None else max(hi, mx)
        if lo is None:
            return None
        return int(lo, 16), int(hi, 16)

    def replay(self, events: DataFrame, num_batches: int = 1,
               stage_batches: int | None = None) -> list[dict]:
        """Replay an event stream in commit-ordered batches (a WAL tail
        consumes ranges in order; batching by commit prefix keeps each
        batch a contiguous WAL range).

        The stream is validated + staged ONCE (partitioned by batch id)
        and folded as one group (:meth:`_apply_group`) — N batches pay
        the validate plan's analysis/codegen, its full-stream scan and
        the fold's jobs a single time. ``stage_batches`` bounds scratch usage at very
        large replays: the stream is staged in groups of that many
        batches (default: all at once)."""
        _check_event_seq(events)
        if num_batches <= 1:
            return [self.apply_batch(events)]
        lo, hi = self._commit_bounds(events)
        span = (hi - lo + num_batches) // num_batches
        group = stage_batches or num_batches

        snap0 = self.table.current()
        commit_long = F.conv(F.col("commit"), 16, 10).cast("long")
        batch_id = F.least(
            F.floor((commit_long - F.lit(lo)) / F.lit(span)), F.lit(num_batches - 1)
        ).cast("int")

        metrics: list[dict] = []
        for g_lo in range(0, num_batches, group):
            g_hi = min(g_lo + group, num_batches)
            part = events
            if group < num_batches:  # stage only this group's commit range
                # compare the NUMERIC commit (same F.conv long as
                # batch_id), not zero-padded hex strings: a hex upper
                # bound of hi+1 at/near 0xffffffffffff widens to 13
                # chars and the lexicographic compare silently drops
                # most of the last group's events
                upper = (
                    commit_long < F.lit(lo + g_hi * span)
                    if g_hi < num_batches
                    else commit_long <= F.lit(hi)
                )
                part = events.filter(
                    (commit_long >= F.lit(lo + g_lo * span)) & upper
                )
            scratch, schema = self._stage(part, snap0, batch_col=batch_id)
            lineage_rows: list = []
            try:
                if not self.io.tree_has_suffix(scratch, ".parquet"):
                    empty = self._untouched_metrics(
                        self._batch_stats([]), self.table.current(), time.time()
                    )
                    metrics.extend(dict(empty) for _ in range(g_lo, g_hi))
                    continue
                # survival against the pre-replay watermarks holds for
                # every group: the batch ranges ascend (_apply_group)
                metrics.extend(self._apply_group(
                    self._read_staged(scratch, schema), scratch,
                    {i: f"{os.path.basename(scratch)}-b{i}" for i in range(g_lo, g_hi)},
                    snap0["watermarks"], time.time(), lineage_sink=lineage_rows,
                ))
            finally:
                self._write_lineage(lineage_rows)
                self.io.rmtree(scratch)
        return metrics

    def dead_letters(self, distinct: bool = True) -> DataFrame | None:
        """The dead-letter table: raw payloads + full error channel.

        Rows are the adopted staging files (one dir per batch); raw
        field values are restored under their original names and the
        error channel is exposed both structured and as JSON. Replayed
        batches re-append their dead letters (watermarks only advance on
        *clean* events in a bucket), so reads dedupe on event identity
        by default."""
        if not self.io.isdir(self.dead_letter_dir) or not self.io.tree_has_suffix(
            self.dead_letter_dir, ".parquet"
        ):  # absent OR fully drained by retry_dead_letters
            return None
        df = (
            self.spark.read.option("recursiveFileLookup", "true")
            # batches dead-lettered before a schema-evolution column ADD
            # lack the new raw columns; without mergeSchema Spark samples
            # ONE footer for the unified schema and newer batches' extra
            # columns can silently vanish from the read
            .option("mergeSchema", "true")
            .parquet(self.dead_letter_dir)
        )
        raw_cols = [c for c in df.columns if c.startswith("_raw_")]
        for rc in raw_cols:
            orig = rc[len("_raw_"):]
            df = df.drop(orig).withColumnRenamed(rc, orig)
        df = df.select(
            "commit", "event_seq", "op", "schema_version",
            *[
                # dead-letter batches staged before a column ADD lack
                # the new canonical columns
                (F.col(c) if c in df.columns else F.lit(None).cast("string")).alias(c)
                for c in self.registry.canonical_columns
            ],
            F.col("_errors").alias("errors"),
            F.to_json(F.col("_errors")).alias("errors_json"),
            F.element_at(F.col("_errors"), 1)["code"].alias("first_code"),
            F.element_at(F.col("_errors"), 1)["key"].alias("first_key"),
        )
        if distinct:
            df = df.dropDuplicates(["commit", "event_seq", "repo", "path"])
        return df

    def retry_dead_letters(self) -> dict:
        """Re-validate every dead-lettered event against the CURRENT
        registry and merge the now-clean ones — the operational loop
        after a spec fix or schema evolution: fix the chain, call this,
        the backlog drains. Returns the same metrics dict as
        ``apply_batch``.

        Semantics:

        - The per-bucket watermark gate is BYPASSED (``wm_map={}``):
          dead letters were never applied, so they are not replays.
          Per-key last-writer-wins in the merge still guarantees a
          repaired old event can never overwrite a newer applied row —
          the safety argument is per-key ordering, not the bucket
          watermark.
        - Events that still fail re-adopt as the new dead-letter set and
          the superseded batch dirs are removed after the commit. A
          crash between commit and cleanup leaves duplicate dead
          letters (deduped on read) and a re-run is idempotent:
          re-applying an already-applied event changes nothing under
          LWW.
        - Events re-enter at the LATEST schema version: dead-letter raw
          columns are stored under canonical names (post
          version-rename, pre-chain), which is the latest version's
          shape.
        """
        t0 = time.time()
        dl = self.dead_letters(distinct=True)
        zeros = {
            "events_in": 0, "applied": 0, "dead_lettered": 0, "skipped_replays": 0,
            "snapshot_id": self.table.current()["snapshot_id"], "seconds": 0.0,
        }
        if dl is None:
            return zeros
        old_batches = [
            os.path.join(self.dead_letter_dir, d)
            for d in self.io.listdir(self.dead_letter_dir)
        ]
        ver_type = dl.schema["schema_version"].dataType.simpleString()
        events = dl.select(
            "commit", "event_seq", "op",
            F.lit(self.registry.latest).cast(ver_type).alias("schema_version"),
            *[F.col(c) for c in self.registry.canonical_columns],
        )
        # the frame is canonical-shaped; the latest version may expect
        # renamed INCOMING columns (e.g. v2 ingests 'language' -> 'lang'),
        # so reverse-apply its rename map or those fields arrive NULL
        for incoming, canonical in self.registry.get(self.registry.latest).renames.items():
            if canonical in events.columns:
                events = events.withColumnRenamed(canonical, incoming)
        snap = self.table.current()
        scratch, schema = self._stage(events, snap)
        try:
            if not self.io.tree_has_suffix(scratch, ".parquet"):
                return zeros
            metrics = self._apply_staged(
                self._read_staged(scratch, schema), scratch,
                f"retry-{os.path.basename(scratch)}", t0, wm_map={},
            )
        finally:
            self.io.rmtree(scratch)
        for d in old_batches:  # superseded: applied or re-adopted above
            self.io.rmtree(d)
        return metrics

    def lineage(self) -> DataFrame | None:
        if not self.io.isdir(self.lineage_dir):
            return None
        return self.spark.read.parquet(self.lineage_dir)
