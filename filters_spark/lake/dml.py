"""Row-level DML over a :class:`LakeTable`: ``DELETE FROM ... WHERE``
and ``UPDATE ... SET ... WHERE`` — the Iceberg/Delta declarative
row-level operations the CDC event stream doesn't cover (GDPR erasure,
retention sweeps, backfill corrections). The reference library has no
table layer; this is north-rule engine surface.

Scale shape — the condition splits into a stats-provable range
(``where=(col, lo, hi)``, the same spelling :meth:`LakeTable.read`
uses for data skipping) plus an arbitrary residual SQL ``predicate``,
and every base file is classified from MANIFEST METADATA alone before
any IO:

- **kept by reference**: the file's recorded [min, max] cannot
  intersect the range — carried into the new snapshot untouched (zero
  IO; on a retention sweep this is almost the whole table);
- **dropped whole, metadata-only** (pure-range DELETE only): the
  file's stats PROVE every row matches — [min, max] inside the range,
  zero recorded nulls (NULL never matches a range), row counts
  recorded, and bounds that are directionally safe (numeric, or
  string bounds stored through the lake's truncate(16) transform —
  long-content columns included);
- **scanned and rewritten**: only the boundary files — plus buckets
  carrying pending MoR deltas, which fold in full first (value-pruning
  a bucket under read-time LWW is unsound, see :meth:`LakeTable.read`;
  a delta bucket is rewritten only when some of its files' stats admit
  a match, which IS sound — the fold's winner values all exist
  physically in some file).

``mode="mor"`` instead APPENDS the change as delta rows — ``op='D'``
tombstones / ``op='U'`` upserts carrying the matched rows' payloads,
O(matched) with no bucket rewrite — under ONE synthetic feed identity
strictly above both the global watermark and every matched row's own
``(commit, event_seq)``, then bumps the touched buckets' watermarks to
it: the engine's dedupe gate enforces the identity collision-free
(replayed WAL events for the affected keys drop as duplicates;
corrected data must arrive under new commits), downstream
:meth:`LakeTable.changes` consumers see the DML like any other
append-deltas commit, and the table stays a valid change source. Same
quiesced-ingest caveat as :meth:`LakeTable.rollback`: in-flight events
at older commits for the touched buckets would be dropped as replays.

``mode="dv"`` (DELETE only) writes POSITION DELETES — Iceberg v2 /
Delta deletion-vector semantics: O(matched) files of ``(base file,
row position)`` pairs that ``read()`` applies as an anti-join on the
scan. Against full-payload MoR tombstones this cuts both write bytes
(two narrow columns, no payload copy) and read amplification (base
files keep min/max pruning — a vector only removes rows, so skipping
a file is still sound, where a row-delta bucket must scan in full).
Requires a DELTA-FREE table (``compact()`` first): a delta-winning
row has no base position, and position-deleting its stale base
version would resurface it. ``changes()`` emits the deleted rows as
``op='D'`` tombstones under the commit's recorded identity — same
change-source transparency as ``mode="mor"``.

Copy-on-write mode commits ``operation='delete'`` / ``'update'``
snapshots, which — like every CoW rewrite — make ``changes()`` raise
for ranges crossing them (no row-level log exists); change-source
tables should use ``mode="mor"`` (or ``"dv"`` for deletes).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from filters_spark.lake.table import (
    WATERMARK_ZERO,
    LakeTable,
    bucket_expr,
    watermark_str,
)

__all__ = ["delete_where", "update_where"]


def _cond_col(predicate: str | None, where: tuple | None):
    """The DML condition as a Column: predicate AND col in [lo, hi].
    SQL semantics — a row is affected only when the condition is TRUE
    (UNKNOWN keeps the row), callers coalesce to false."""
    if predicate is None and where is None:
        raise ValueError(
            "pass predicate and/or where — an unconditional full-table "
            "DELETE/UPDATE must be spelled explicitly (predicate='true')"
        )
    cond = F.expr(predicate) if predicate is not None else None
    if where is not None:
        col, lo, hi = where
        for b, op in ((lo, "__ge__"), (hi, "__le__")):
            if b is None:
                continue
            term = getattr(F.col(col), op)(F.lit(b))
            cond = term if cond is None else cond & term
    return cond


def _provably_all_match(st: dict | None, where: tuple) -> bool:
    """True only when the file's manifest stats PROVE every row's
    ``col`` lies inside [lo, hi]: complete [min, max], a recorded zero
    null count (NULL cells never match a range), and bounds whose type
    rules out misleading footer truncation. String bounds are stored
    through the truncate(16) transform (lake/table.py
    ``_truncate_bound_lower``/``_upper``) — directionally SAFE by
    construction (lower <= every value, upper >= every value), so the
    proof holds on them too: stored-min >= lo still proves every row
    >= lo, stored-max <= hi still proves every row <= hi. The >64-char
    guard below only fires on legacy manifests written before the
    transform."""
    col, lo, hi = where
    if not st or col not in st or "__rows" not in st:
        return False
    if st.get(f"__nulls:{col}") != 0:
        return False
    mn, mx = st[col]
    for v in (mn, mx):
        if isinstance(v, bool) or not isinstance(v, (int, float, str)):
            return False
        if isinstance(v, str) and len(v) > 64:
            return False
    if lo is not None and mn < lo:
        return False
    if hi is not None and mx > hi:
        return False
    return True


def _classify(
    t: LakeTable, snap: dict, where: tuple | None, can_drop: bool
) -> tuple[dict, list, dict]:
    """Metadata-only file triage for the delta-free buckets:
    ``(kept {bucket: [refs]}, dropped [(bucket, file)], scan
    {bucket: [files]})``. Buckets with pending deltas are handled by
    the caller (whole-bucket fold)."""
    kept: dict[str, list[str]] = {}
    dropped: list[tuple[str, str]] = []
    scan: dict[str, list[str]] = {}
    delta_b = {b for b, fl in snap.get("deltas", {}).items() if fl}
    # DV-carrying buckets fold like delta buckets: a direct base-file
    # scan would RESURRECT position-deleted rows in the rewrite, and a
    # whole-file drop proof would over-count them
    delta_b |= {
        b for b, fl in snap.get("delete_vectors", {}).items() if fl
    }
    for b, fl in snap["buckets"].items():
        if b in delta_b:
            continue
        for f in fl:
            st = t._file_stats_cache.get(f)
            if where is not None and not t._file_may_match(st, where):
                kept.setdefault(b, []).append(f)
            elif can_drop and _provably_all_match(st, where):
                dropped.append((b, f))
            else:
                scan.setdefault(b, []).append(f)
    return kept, dropped, scan


def _check_set(set_map: dict, payload: list[str]) -> dict[str, str]:
    unknown = set(set_map) - set(payload)
    if unknown:
        raise ValueError(
            f"UPDATE SET targets non-payload column(s) {sorted(unknown)}: "
            "keys are immutable (a key change is DELETE + INSERT), "
            "(commit, event_seq) is provenance, content_sha is derived; "
            f"assignable columns are {payload}"
        )
    return {k: str(v) for k, v in set_map.items()}


def delete_where(
    t: LakeTable,
    predicate: str | None = None,
    where: tuple | None = None,
    mode: str = "cow",
) -> dict:
    """``DELETE FROM t WHERE <predicate AND where-range>``.

    ``predicate``: SQL over the row's columns (keys, ``commit``,
    ``event_seq``, payload, ``content_sha``). ``where=(col, lo, hi)``:
    a range the planner can prove things about from manifest stats —
    pass the retention bound here (``("commit", None, cutoff)``), the
    residual logic in ``predicate``. Pure-range deletes additionally
    drop fully-covered files metadata-only.

    Returns a report dict: ``snapshot`` (None = nothing provably
    touched, no commit), ``files_kept_by_reference``, ``files_dropped``
    (+ ``rows_dropped_metadata_only``), ``files_scanned``,
    ``buckets_rewritten``; mode="mor" instead reports ``rows_changed``
    and the delta commit. See module docstring for mode semantics."""
    snap = t.current()
    payload = t.payload_cols(snap)
    if mode == "mor":
        return _dml_mor(t, snap, payload, predicate, where, None)
    if mode == "dv":
        return _dml_dv(t, snap, payload, predicate, where)
    if mode != "cow":
        raise ValueError(f"mode must be 'cow', 'mor' or 'dv', got {mode!r}")
    return _dml_cow(t, snap, payload, predicate, where, None)


def update_where(
    t: LakeTable,
    set_map: dict[str, str],
    predicate: str | None = None,
    where: tuple | None = None,
    mode: str = "cow",
) -> dict:
    """``UPDATE t SET <set_map> WHERE <predicate AND where-range>``.

    ``set_map``: {payload column -> SQL expression over the OLD row}
    (e.g. ``{"lang": "upper(lang)", "content": "content || '!'"}``);
    results cast to string (the table's payload type). ``content_sha``
    is recomputed wherever ``content`` changes — it is derived state,
    never assignable. Same pruning / mode / report semantics as
    :func:`delete_where`, minus whole-file drops (an update must visit
    every matching row)."""
    snap = t.current()
    payload = t.payload_cols(snap)
    upd = _check_set(set_map, payload)
    if mode == "mor":
        return _dml_mor(t, snap, payload, predicate, where, upd)
    if mode != "cow":
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    return _dml_cow(t, snap, payload, predicate, where, upd)


def _state_cols(payload: list[str]) -> list[str]:
    return ["repo", "path", "commit", "event_seq", *payload, "content_sha"]


def _apply_set(matched_col, upd: dict[str, str], payload: list[str]):
    """Output columns for the rewrite frame: matched rows get the set
    expressions (evaluated over the OLD row — F.expr sees the input
    columns, so swaps like {a: b, b: a} read consistently), others keep
    their values; content_sha re-derives from the final content."""
    out = []
    for c in _state_cols(payload):
        if c == "content_sha":
            continue
        if c in upd:
            col = F.when(matched_col, F.expr(upd[c]).cast("string")).otherwise(
                F.col(c)
            )
        else:
            col = F.col(c)
        out.append(col.alias(c))
    return out


def _dml_cow(
    t: LakeTable,
    snap: dict,
    payload: list[str],
    predicate: str | None,
    where: tuple | None,
    upd: dict[str, str] | None,
) -> dict:
    cond = _cond_col(predicate, where)
    can_drop = upd is None and predicate is None and where is not None
    kept, dropped, scan = _classify(t, snap, where, can_drop)
    # a delta- or DV-carrying bucket rewrites (full fold through
    # read(), which applies vectors) iff some file admits a match
    fold_map: dict[str, list[str]] = {
        b: list(fl) for b, fl in snap.get("deltas", {}).items() if fl
    }
    for b, fl in snap.get("delete_vectors", {}).items():
        if fl:
            fold_map.setdefault(b, [])
    rewrite_delta_b = []
    for b, dfl in fold_map.items():
        files = snap["buckets"].get(b, []) + dfl
        if where is None or any(
            t._file_may_match(t._file_stats_cache.get(f), where) for f in files
        ):
            rewrite_delta_b.append(int(b))
        else:
            kept.setdefault(b, []).extend(snap["buckets"].get(b, []))

    report = {
        "snapshot": None,
        "files_kept_by_reference": sum(len(fl) for fl in kept.values()),
        "files_dropped": len(dropped),
        "rows_dropped_metadata_only": sum(
            t._file_stats_cache.get(f, {}).get("__rows", 0) for _, f in dropped
        ),
        "files_scanned": sum(len(fl) for fl in scan.values()),
        "buckets_rewritten": sorted({int(b) for b in scan} | set(rewrite_delta_b)),
    }
    changed = (
        {b for b, _ in dropped} | set(scan) | {str(b) for b in rewrite_delta_b}
    )
    if not changed:
        return report  # provably nothing to touch: no commit

    frames: list[DataFrame] = []
    if scan:
        files = [f for fl in scan.values() for f in fl]
        bkt = bucket_expr(
            F.col("repo"), F.col("path"), snap["num_buckets"], snap["path_salt"]
        ).alias("_bucket")
        frames.append(
            t.spark.read.schema(t._base_ddl(payload))
            .parquet(*files)
            .select(*_state_cols(payload), bkt)
        )
    if rewrite_delta_b:
        folded = t.read(buckets=rewrite_delta_b, _snap=snap)
        if folded is not None:
            frames.append(folded.select(*_state_cols(payload), "_bucket"))
    written: dict[str, list[str]] = {}
    if frames:
        src = frames[0]
        for fr in frames[1:]:
            src = src.unionByName(fr)
        matched = F.coalesce(cond, F.lit(False))
        if upd is None:
            out = src.filter(~matched)
        else:
            out = src.select(*_apply_set(matched, upd, payload), "_bucket")
        out = out.withColumn(
            "content_sha", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256)
        ).repartition("_bucket")
        write_b = sorted({int(b) for b in scan} | set(rewrite_delta_b))
        # fresh suffixed dir: distinct from a concurrent plain commit's
        # snap-<sid>/ (the header race is the decider, the DATA write
        # must not collide) AND from this DML's own earlier crashed
        # attempt at the same head — a fixed name would trip
        # mode("error") on every retry until manually removed
        out_dir = t._fresh_stage_dir(f"snap-{snap['snapshot_id'] + 1:08d}-dml")
        written = t._write_bucket_data(out, out_dir, write_b, snap.get("sort_cols"))

    new_files = {
        b: kept.get(b, []) + written.get(b, []) for b in sorted(changed, key=int)
    }
    report["snapshot"] = t.commit_bucket_files(
        new_files,
        {},
        operation="delete" if upd is None else "update",
        basis_snapshot_id=snap["snapshot_id"],
    )
    return report


def _dml_mor(
    t: LakeTable,
    snap: dict,
    payload: list[str],
    predicate: str | None,
    where: tuple | None,
    upd: dict[str, str] | None,
) -> dict:
    from filters_spark.lake.materialize import materialize

    cond = _cond_col(predicate, where)
    report = {"snapshot": None, "rows_changed": 0}
    state = t.read(where=where, _snap=snap)
    if state is None:
        return report
    matched = materialize(state.filter(F.coalesce(cond, F.lit(False))))
    # one small agg over the matched set: the feed identity must beat
    # the global watermark AND every matched row's own (commit, seq) —
    # rows committed through merge_into/DML carry identities the
    # watermarks never saw
    agg = matched.agg(
        F.max(watermark_str(F.col("commit"), F.col("event_seq"))).alias("m"),
        F.count(F.lit(1)).alias("n"),
        F.collect_set(F.col("_bucket").cast("int")).alias("bs"),
    ).collect()[0]
    if not agg["n"]:
        return report
    gw = max(snap.get("watermarks", {}).values(), default=WATERMARK_ZERO)
    base = max(gw, agg["m"])
    c_str, s_str = base.rsplit(":", 1)
    ident_commit, ident_seq = c_str, int(s_str) + 1
    ident_wm = f"{ident_commit}:{ident_seq:020d}"
    if upd is None:
        rows = matched.select(
            "repo",
            "path",
            F.lit(ident_commit).alias("commit"),
            F.lit(ident_seq).cast("long").alias("event_seq"),
            *payload,  # deletes carry the last payload (WAL convention)
            F.lit("D").alias("op"),
            F.col("_bucket").cast("int").alias("_bucket"),
        )
    else:
        rows = matched.select(
            *_apply_set(F.lit(True), upd, payload), "_bucket"
        ).select(
            "repo",
            "path",
            F.lit(ident_commit).alias("commit"),
            F.lit(ident_seq).cast("long").alias("event_seq"),
            *payload,
            F.lit("U").alias("op"),
            F.col("_bucket").cast("int").alias("_bucket"),
        )
    touched = sorted(agg["bs"])
    report["snapshot"] = t.commit_deltas(
        rows.repartition("_bucket"),
        touched,
        {b: ident_wm for b in touched},
    )
    report["rows_changed"] = agg["n"]
    return report


def _dml_dv(
    t: LakeTable,
    snap: dict,
    payload: list[str],
    predicate: str | None,
    where: tuple | None,
) -> dict:
    """DELETE via position deletes (deletion vectors). One base-file
    scan (min/max-pruned by ``where`` exactly like ``read()`` — DV
    buckets stay prunable), prior vectors applied so re-sweeps never
    re-mark a row, matched rows reduced to ``(_relfile, _pos)``.
    O(matched) write, zero bucket rewrites."""
    from filters_spark.lake.materialize import materialize

    if any(fl for fl in snap.get("deltas", {}).values()):
        raise ValueError(
            "mode='dv' requires a delta-free table: position deletes "
            "reference base files, and a delta-winning row has no base "
            "position — compact() first"
        )
    cond = _cond_col(predicate, where)
    report = {"snapshot": None, "rows_changed": 0}
    base_files: list[str] = []
    for b, fl in snap["buckets"].items():
        if where is not None:
            fl = [f for f in fl if t._file_passes(f, snap, where, None)]
        base_files.extend(fl)
    if not base_files:
        return report
    base = (
        t.spark.read.schema(t._base_ddl(payload))
        .parquet(*base_files)
        .select(
            "repo", "path", "commit", "event_seq", *payload, "content_sha",
            bucket_expr(
                F.col("repo"), F.col("path"),
                snap["num_buckets"], snap["path_salt"],
            ).alias("_bucket"),
            F.substring_index(
                F.col("_metadata.file_path"), "/data/", -1
            ).alias("_relfile"),
            F.col("_metadata.row_index").alias("_pos"),
        )
    )
    prior = [
        f for fl in snap.get("delete_vectors", {}).values() for f in fl
    ]
    if prior:
        dv_prior = (
            t.spark.read.schema("_relfile string, _pos long")
            .parquet(*prior)
        )
        base = base.join(dv_prior, ["_relfile", "_pos"], "left_anti")
    matched = materialize(
        base.filter(F.coalesce(cond, F.lit(False))).select(
            "_bucket", "_relfile", "_pos", "commit", "event_seq"
        )
    )
    agg = matched.agg(
        F.max(watermark_str(F.col("commit"), F.col("event_seq"))).alias("m"),
        F.count(F.lit(1)).alias("n"),
        F.collect_set(F.col("_bucket").cast("int")).alias("bs"),
    ).collect()[0]
    if not agg["n"]:
        return report
    gw = max(snap.get("watermarks", {}).values(), default=WATERMARK_ZERO)
    base_wm = max(gw, agg["m"])
    c_str, s_str = base_wm.rsplit(":", 1)
    ident_commit, ident_seq = c_str, int(s_str) + 1
    ident_wm = f"{ident_commit}:{ident_seq:020d}"
    touched = sorted(agg["bs"])
    report["snapshot"] = t.commit_delete_vectors(
        matched.select("_relfile", "_pos", F.col("_bucket").cast("int").alias("_bucket"))
        .repartition("_bucket"),
        touched,
        {b: ident_wm for b in touched},
        dv_identity={"commit": ident_commit, "event_seq": ident_seq},
        # conflict basis: the positions above were computed against this
        # snapshot's base files; a foreign commit replacing them between
        # scan and commit must fail the commit, not silently retain rows
        basis_snapshot_id=snap["snapshot_id"],
        basis_files=base_files,
    )
    report["rows_changed"] = agg["n"]
    return report
