"""Atomic multi-table fan-out: all-or-none publish across a fan-out
topology (two-phase commit, presumed abort).

:func:`fanout.fan_out_debezium` applies routes one at a time; a crash
between two tables' commits tears the batch — readable, exactly-once
per table, but cross-table joins see table A with the batch and table B
without it until the stream catches up (``consistent_cut`` reads
AROUND the tear; it cannot remove it). This module removes the tear at
the write side:

1. **Stage** every route's merge as a write-audit-publish commit
   (``CDCEngine.stage_batch``) — data files + staged headers on disk,
   no table head moves. Any failure here abandons all stages: nothing
   happened.
2. **Audit** — each route's ``audit_fn`` gates the WHOLE transaction
   in this mode: one rejection abandons every route's stage (the batch
   is all-or-none by definition here).
3. **Decide**: one create-exclusive write of ``txn-<id>.json`` into
   ``txn_dir`` is the commit point (classic presumed abort: a crash
   BEFORE the record exists means every ``txn-*`` stage is garbage;
   recovery abandons them).
4. **Publish** each route in order, updating the record's per-route
   state after each; a crash mid-publish rolls FORWARD from the record
   (:func:`recover_fanout`) — the decision was durable, so the
   remaining tables publish their already-staged state instead of
   re-running the batch.

Metadata-only cost: the decision record is one small JSON file per
in-flight batch; stages share manifests with their parent snapshots
(O(touched buckets) metadata), so the protocol adds no data-scale work
over the non-atomic path — the merges are the same jobs.

Spark jobs per call: the shared front half (fanout._parse_and_gate)
decodes the envelopes once and observes the feed bounds and unrouted
count in that job. A parquet input of at most the routes' summed
``CDCEngine.LOCAL_MAX_ROWS`` rows is that one ``toArrow()``, and each
route slice of at most its engine's ``LOCAL_MAX_ROWS`` rows stages on
the driver from it (engine/local.py): a two-route batch of small
slices runs one job. Any other input is written once, partitioned by
route, and a small slice stages on the driver with one ``toArrow()``
of its partition (three jobs for two routes). Decide and publish are
metadata-only.

Assumptions (documented, checked where cheap):

- **Single writer per table.** A concurrent commit between stage and
  publish makes the staged fast-forward impossible
  (``publish_wap`` refuses non-fast-forward publishes); the coordinator
  re-checks every table's head immediately before the decision write to
  shrink the window, but only a single-writer deployment (the normal
  CDC shape: one connector per server log) removes it.
- **One recovery process at a time**, not concurrent with a live
  fan-out: recovery sweeps unreferenced ``txn-*`` stages, which would
  eat an in-flight transaction's work.
- ``txn_dir`` lives on the same FileIO as the tables (atomicity of the
  decision write comes from the table store's rename semantics).

The reference library has no multi-table or transactional surface;
this is north-rule engine depth (exactly-once across the topology,
resumable from a durable decision log).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame

from filters_spark.engine.cdc import CDCEngine, StagedBatch
from filters_spark.engine.fanout import (
    TableRoute,
    _parse_and_gate,
    _record_feed_position,
    route_key,
)

__all__ = ["SimulatedCrash", "fan_out_atomic", "pending_txns", "recover_fanout"]


class SimulatedCrash(RuntimeError):
    """Test-only failpoint: raised at a named protocol point by the
    ``_crash`` parameter so the recovery paths can be pinned without
    killing the process. Never raised in production use."""


def _txn_path(txn_dir: str, txn_id: str) -> str:
    return os.path.join(txn_dir, f"txn-{txn_id}.json")


def pending_txns(io, txn_dir: str) -> list[str]:
    """Ids of decision records awaiting roll-forward."""
    return sorted(
        n[4:-5]
        for n in io.listdir(txn_dir)
        if n.startswith("txn-") and n.endswith(".json")
    )


def fan_out_atomic(
    raw: DataFrame,
    routes: list[TableRoute],
    txn_dir: str,
    value_col: str = "value",
    commit_expr: Callable | None = None,
    seq_expr: Callable | None = None,
    unrouted: str = "count",
    txn_id: str | None = None,
    _crash: str | None = None,
) -> dict:
    """Apply one mixed envelope batch to every route's table
    all-or-none. Same decode/gate semantics as
    :func:`fanout.fan_out_debezium` (one parse pass, unorderable
    envelopes refused, unrouted policy); the applies differ: every
    route stages first, one durable decision commits them all.

    Returns the fan-out report plus ``"txn": "committed" | "aborted"``
    (aborted = an ``audit_fn`` rejected; ``"aborted_by"`` names the
    route). Exceptions during staging abandon everything and re-raise —
    the tables are untouched. A crash after the decision record is
    written leaves a roll-forwardable record: run
    :func:`recover_fanout` before the next batch.

    ``txn_id``: override the generated id (e.g. a streaming micro-batch
    id, making the decision record name deterministic per batch).
    """
    io = routes[0].engine.io
    txn_id = txn_id or uuid.uuid4().hex[:16]
    wap_id = f"txn-{txn_id}"
    slices, report, parse_scratch = _parse_and_gate(
        raw, routes, value_col, commit_expr, seq_expr, unrouted, track_feed=True
    )

    handles: list[tuple[TableRoute, StagedBatch]] = []
    rejected = None

    def _abandon_all():
        for _, h in handles:
            try:
                h.abandon()
            except Exception:
                pass

    try:
        # stage the routes CONCURRENTLY: stages are independent
        # jobs over independent tables (the decision and the publishes
        # stay strictly sequential below). A small route slice stages on
        # the driver (from the front half's collect, or one toArrow() of
        # its _route=i partition); a large one runs its Spark stage,
        # whose serial driver phases the sibling route's stage back-fills.
        if len(routes) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(3, len(routes))) as pool:
                futs = [
                    pool.submit(r.engine.stage_batch, events, wap_id)
                    for r, events in zip(routes, slices)
                ]
                first_err = None
                for r, f in zip(routes, futs):
                    try:
                        handles.append((r, f.result()))
                    except BaseException as exc:  # keep collecting: every
                        # SUCCESSFUL stage must land in handles so the
                        # outer _abandon_all can clean it up
                        if first_err is None:
                            first_err = exc
                if first_err is not None:
                    raise first_err
        else:
            for r, events in zip(routes, slices):
                handles.append((r, r.engine.stage_batch(events, wap_id)))
        # every route is staged (own copies under its table); the
        # parse scratch is no longer read by audit/decide/publish
        io.rmtree(parse_scratch)
        for r, h in handles:
            if r.audit_fn is None or h.wap_id is None:
                continue
            if not bool(r.audit_fn(r.engine.table, h.wap_id)):
                rejected = route_key(r)
                break
        if rejected is None:
            # shrink the lost-update window: a head that moved since
            # staging can never fast-forward — abort now, before the
            # decision is durable, rather than tearing mid-publish
            for r, h in handles:
                if h.wap_id is not None and (
                    r.engine.table.current_snapshot_id() != h.parent_sid
                ):
                    raise RuntimeError(
                        f"table {route_key(r)!r} advanced past the staged "
                        f"parent {h.parent_sid} before the decision — "
                        "concurrent writer? atomic fan-out requires a "
                        "single writer per table"
                    )
    except BaseException:
        _abandon_all()
        io.rmtree(parse_scratch)
        raise
    if rejected is not None:
        for r, h in handles:
            report["tables"][route_key(r)] = h.abandon()
        report["txn"] = "aborted"
        report["aborted_by"] = rejected
        return report

    if _crash == "staged":
        raise SimulatedCrash("staged")  # pre-decision: presumed abort

    record = {
        "txn_id": txn_id,
        "decision": "commit",
        "feed_to": report["feed_to"],
        "feed_from": report.get("feed_from"),
        "ts_ms": int(time.time() * 1000),
        "routes": [
            {
                "key": route_key(r),
                "root": r.engine.table.root,
                "state": "staged",
                "snapshot_id": None,
                "staged": h.to_entry(),
            }
            for r, h in handles
        ],
    }
    path = _txn_path(txn_dir, txn_id)
    try:
        io.makedirs(txn_dir)
        io.write_text_atomic(path, json.dumps(record, indent=1), fail_if_exists=True)
    except FileExistsError:
        # Either a caller reused a txn id whose record awaits recovery
        # (definitive loss — abandon OUR stages), or a backend whose
        # create-exclusive is check-then-rename reported a race that
        # was OUR OWN first attempt landing (retried rename finding the
        # source gone). Read the record back to tell them apart —
        # abandoning stages a durable decision references would wedge
        # recovery permanently.
        try:
            # compare JSON-normalized forms: the in-memory record holds
            # tuples (bucket_stats) and int-keyed dicts that a JSON
            # round-trip canonicalizes to lists / string keys
            durable_is_ours = json.loads(io.read_text(path)) == json.loads(
                json.dumps(record)
            )
        except Exception:
            durable_is_ours = False
        if not durable_is_ours:
            _abandon_all()
            raise
    except BaseException:
        # IN-DOUBT: an interrupt or IO error may have fired after the
        # rename was applied but before it returned. If the record is
        # durably there, it IS the commit decision — the stages must
        # survive for recover_fanout to roll forward (abandoning them
        # here would wedge recovery on a record whose data is gone).
        # Only a confirmed-absent record is a confirmed abort.
        try:
            durable = io.exists(path)
        except Exception:
            durable = True  # can't tell — leave everything for recovery
        if not durable:
            _abandon_all()
        raise

    if _crash == "recorded":
        raise SimulatedCrash("recorded")  # post-decision: roll forward

    _publish_all(
        record,
        {route_key(r): r.engine for r, _ in handles},
        {route_key(r): h for r, h in handles},
        io,
        path,
        report,
        _crash=_crash,
    )
    report["txn"] = "committed"
    return report


def _publish_all(
    record: dict,
    engines: dict[str, CDCEngine],
    handles: dict[str, StagedBatch],
    io,
    path: str,
    report: dict,
    _crash: str | None = None,
) -> None:
    """Roll the decided transaction forward: publish each staged route,
    persisting per-route progress so a crash resumes at the first
    unpublished route. Idempotent against every crash window:

    - route already marked published → only the (idempotent) feed
      stamp re-runs;
    - wap header gone but route unmarked → ``publish_wap`` completed
      before the crash; the published snapshot is re-identified as the
      parent's child in the snapshot chain and only the deferred side
      effects re-run (lineage deduped by snapshot id);
    - anything else → a normal publish.
    """
    feed_to = record["feed_to"]
    feed_from = record.get("feed_from")
    for i, entry in enumerate(record["routes"]):
        key = entry["key"]
        eng = engines[key]
        if entry["state"] == "published":
            metrics = {
                "txn": "published",
                "recovered": True,
                "snapshot_id": entry["snapshot_id"],
            }
        else:
            h = handles.get(key) or StagedBatch.from_entry(eng, entry["staged"])
            if h.wap_id is not None and not eng.io.exists(
                eng.table._wap_path(h.wap_id)
            ):
                # head moved by OUR publish; record update didn't land
                sid = _child_sid(eng.table, h.parent_sid)
                h.finalize(sid, dedupe_lineage=True)
                metrics = h._metrics(sid, status="published")
                metrics["recovered"] = True
            else:
                metrics = h.publish()
            entry["state"] = "published"
            entry["snapshot_id"] = metrics["snapshot_id"]
            io.write_text_atomic(path, json.dumps(record, indent=1))
        if feed_to is not None:
            # pre_sid = the staged parent: a hole heals only when the
            # covering batch applied FROM the rejection-time snapshot
            _record_feed_position(
                eng.table,
                feed_to,
                feed_from=feed_from,
                pre_sid=entry["staged"]["parent_sid"],
            )
        report["tables"][key] = metrics
        if _crash == f"published:{i}":
            raise SimulatedCrash(f"published:{i}")
    io.remove(path)


def _child_sid(table, parent_sid: int) -> int:
    """The snapshot the staged commit published as: walk the chain from
    the head back to ``parent_sid`` and return its direct child. Exists
    whenever ``publish_wap`` completed (single writer — nothing else
    commits between stage and publish); later snapshots (MoR
    compaction, the NEXT recovered route is a different table) sit
    above it in the chain."""
    sid = table.current_snapshot_id()
    while sid is not None and sid != parent_sid:
        parent = table._raw_snapshot(sid)["parent_id"]
        if parent == parent_sid:
            return sid
        sid = parent
    raise ValueError(
        f"no child of snapshot {parent_sid} in the chain — the staged "
        "commit never published (decision record without a publish?) "
        "or the chain was rewritten underneath the transaction"
    )


def recover_fanout(
    routes: list[TableRoute],
    txn_dir: str,
    min_age_seconds: float = 3600.0,
) -> dict:
    """Finish or undo whatever a crashed :func:`fan_out_atomic` left:

    1. every decision record rolls FORWARD (`_publish_all` — the
       commit point was durable);
    2. every ``txn-*`` staged commit referenced by NO record is
       presumed aborted and abandoned (the crash hit before the
       decision; min-age-guarded so a concurrently staging transaction
       on another coordinator is not eaten — pass 0 only when no
       fan-out can be running);
    3. orphan fan-out validate-scratch dirs (``txn-*``) under each
       table's ``_staging`` (dead letters of pre-decision crashes) are
       swept with the same min-age guard. Plain ``batch-*`` scratch is
       NEVER touched — a concurrent non-fan-out stager on a routed
       table (branch-audit ingest, dead-letter retry) must survive
       even the streaming path's zero-min-age recovery.

    ``routes`` must cover every table the pending records touch — the
    same topology the crashed coordinator ran. Returns
    ``{"rolled_forward": [txn ids], "orphan_stages_dropped": n,
    "scratch_dirs_dropped": n}``. Idempotent: a second run finds
    nothing to do.
    """
    io = routes[0].engine.io
    engines = {route_key(r): r.engine for r in routes}
    out = {"rolled_forward": [], "orphan_stages_dropped": 0, "scratch_dirs_dropped": 0}

    referenced: set[str] = set()
    for txn_id in pending_txns(io, txn_dir):
        path = _txn_path(txn_dir, txn_id)
        record = json.loads(io.read_text(path))
        missing = [e["key"] for e in record["routes"] if e["key"] not in engines]
        if missing:
            raise ValueError(
                f"txn {txn_id!r} touches routes {missing} not in the "
                "recovery topology — pass the same routes the crashed "
                "fan-out ran"
            )
        referenced.add(f"txn-{txn_id}")
        report: dict = {"tables": {}}
        _publish_all(record, engines, {}, io, path, report)
        out["rolled_forward"].append(txn_id)

    now = time.time()
    for key, eng in engines.items():
        for wid in eng.table.wap_ids():
            if not wid.startswith("txn-") or wid in referenced:
                continue
            p = eng.table._wap_path(wid)
            if min_age_seconds and now - eng.io.mtime(p) < min_age_seconds:
                continue
            eng.table.abandon_wap(wid)
            out["orphan_stages_dropped"] += 1
        staging = os.path.join(eng.table.root, "_staging")
        for name in eng.io.listdir(staging):
            d = os.path.join(staging, name)
            # txn-* = fan-out validate scratch; fanout-parse-* = the
            # materialized mixed-batch decode (normally removed by the
            # fan-out itself; survives only a hard pre-cleanup crash)
            if not name.startswith(("txn-", "fanout-parse-")) or not eng.io.isdir(d):
                continue
            if min_age_seconds and now - eng.io.mtime(d) < min_age_seconds:
                continue
            eng.io.rmtree(d)
            out["scratch_dirs_dropped"] += 1
    return out
