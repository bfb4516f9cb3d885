"""Multi-table CDC fan-out: ONE binlog/WAL envelope stream → MANY lake
tables.

A production Debezium tail is per-SERVER, not per-table: one connector
emits every captured table's change events interleaved in commit order
(MySQL binlog / Postgres WAL are server-global logs). The single-table
surface (``sources/debezium.py`` → ``CDCEngine.apply_batch``) forces
the caller to re-read the raw stream once per table; this module routes
a mixed envelope frame to per-table engines in ONE parse pass.

Scale shape: the raw JSON is decoded ONCE (``parse_debezium`` with
``include_source=True`` — map-only native ``from_json``, union of all
routes' payload fields) in one Spark job, whose action also observes
the batch's feed bounds and unrouted count (``DataFrame.observe``), so
the gate runs no job of its own:

- a parquet input whose footers hold at most the routes' summed
  ``LOCAL_MAX_ROWS`` is collected with one ``toArrow()``, which also
  evaluates each route's native chain parts and identity guards on its
  own rows; the table is split by route on the driver, and each slice
  applies or stages there (engine/local.py) without a collect of its
  own. A slice that cannot (over its engine's ``LOCAL_MAX_ROWS``, an
  engine the driver path refuses, an ``audit_fn`` under
  :func:`fan_out_debezium`) is written to its scratch partition below
  and applies through Spark. A two-route call of small slices runs
  this one job: ``filters_spark: fan-out collect <table dir>``;
- any other input is written once to a parquet scratch partitioned by
  route index (``_route=i``; unrouted rows ``_route=-1``). Each route's
  slice is a read of its own partition directory, never a re-parse of
  the JSON, and its footers count its rows — a small slice then
  applies or stages on the driver with one collect. Per-table applies
are independent engines over independent tables — their watermarks,
dead letters and commit chains never interact, so exactly-once holds
per table exactly as in the single-table path (pinned in
tests/test_fanout.py, including crash-replay of the whole mixed batch).

Unrouted tables are a silent-data-loss hazard (a typo'd route name
drops a whole table's changes), but "capture everything, ingest some"
is also the normal production setup — so the default COUNTS unrouted
events per source table into the report and leaves policy to the
caller; ``unrouted="raise"`` hard-fails, ``"ignore"`` skips the
per-table count on streams known to be pre-filtered (Debezium's
``table.include.list``). The per-table count runs only when the
observed unrouted count is non-zero: an Arrow ``group_by`` of the
collected table, or a job over the ``_route=-1`` partition only.

The reference library has no table or stream layer; this is north-rule
engine surface (binlog tail → lake ingest).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation
from pyspark.sql.types import IntegerType, StructType

from filters_spark.engine.cdc import CDCEngine
from filters_spark.engine.local import (
    Collected, _rows_at_most, local_batch_plan, parquet_footers, part_columns,
)
from filters_spark.lake.fileio import _scheme, write_parquet_local
from filters_spark.lake.table import watermark_str
from filters_spark.session import job_description

__all__ = [
    "TableRoute",
    "consistent_cut",
    "fan_out_debezium",
    "feed_hole",
    "feed_positions",
    "route_key",
    "start_fanout_stream",
]


@dataclass(frozen=True)
class TableRoute:
    """One source table's ingest route.

    ``table``: the envelope's ``source.table`` name to match.
    ``engine``: the per-table :class:`CDCEngine` (its own lake table +
    spec registry). ``fields``: payload columns to extract from the row
    image — must include the key fields (``repo``, ``path``).
    ``db``: optional ``source.db`` qualifier — two databases can carry
    the same table name; leave None to match any db NOT claimed by a
    db-qualified sibling route of the same table name (rest-of
    semantics — without the exclusion the qualified table's events
    would be silently double-ingested).
    ``schema_version``: the registry version the route's events
    validate under (a feed-level fact — the wire envelope carries no
    registry version).
    ``audit_fn``: optional write-audit-publish gate forwarded to the
    engine's ``apply_batch`` — a rejected batch neither commits nor
    advances the table's feed-position ledger."""

    table: str
    engine: CDCEngine
    fields: tuple[str, ...] = ("repo", "path", "lang", "content")
    db: str | None = None
    schema_version: int = 1
    audit_fn: Callable | None = None

    def __post_init__(self):
        missing = {"repo", "path"} - set(self.fields)
        if missing:
            raise ValueError(
                f"route {self.table!r}: fields must include the key "
                f"columns, missing {sorted(missing)}"
            )


def _route_matches(routes: list[TableRoute]) -> list:
    """One match predicate per route. A db-less route excludes the dbs
    claimed by db-qualified routes of the same table name."""
    claimed: dict[str, set[str]] = {}
    for r in routes:
        if r.db is not None:
            claimed.setdefault(r.table, set()).add(r.db)
    out = []
    for r in routes:
        m = F.col("_src_table") == r.table
        if r.db is not None:
            m = m & (F.col("_src_db") == r.db)
        else:
            for db in sorted(claimed.get(r.table, ())):
                m = m & (F.col("_src_db").isNull() | (F.col("_src_db") != db))
        out.append(m)
    return out


# --- cross-table consistent cuts ------------------------------------------
#
# Fan-out applies tables INDEPENDENTLY, so a reader joining two tables
# mid-ingest (or after a crash between two tables' commits) can observe
# a torn transaction: table A at server-log position N, table B at N-1.
# The classic fix — and the one Debezium itself punts to consumers — is
# to read every table AS OF a common log position. Each fan-out batch
# therefore stamps every routed table with the batch's FEED POSITION
# (the max (commit, event_seq) watermark of the WHOLE mixed batch, not
# just the table's slice — a table whose last event was early in the
# batch is still current through the batch end), written AFTER the
# table's apply so a crash can only under-report, never over-report.

_FEED_STATE = "feed-state.json"
_FEED_KEEP = 4096  # entries retained per table; one per batch


def _read_feed_state(table) -> dict:
    p = os.path.join(table.meta_dir, _FEED_STATE)
    if not table.io.exists(p):
        return {"entries": [], "hole": None}
    st = json.loads(table.io.read_text(p))
    if isinstance(st, list):  # pre-hole ledger format
        return {"entries": st, "hole": None}
    return st


def _write_feed_state(table, st: dict) -> None:
    st["entries"] = st["entries"][-_FEED_KEEP:]
    table.io.write_text_atomic(
        os.path.join(table.meta_dir, _FEED_STATE), json.dumps(st)
    )


def feed_positions(table) -> list[dict]:
    """The table's feed-position ledger, ascending:
    ``[{"feed_to": "<commit>:<seq>", "snapshot_id": int}, ...]``.
    Empty if the table was never fed through :func:`fan_out_debezium`."""
    return _read_feed_state(table)["entries"]


def feed_hole(table) -> dict | None:
    """The table's unhealed feed gap, or None. An audit-rejected batch
    leaves the table missing that batch's events while the feed moves
    on; stamping any LATER position would claim a log prefix the table
    does not hold, so the ledger freezes at the pre-hole position
    (``consistent_cut`` then under-reports — honest — instead of
    returning a cut missing the rejected rows). The hole heals only
    when a batch covering ``[from, to]`` applies cleanly FROM the
    rejection-time snapshot (``at_sid``) — i.e. the rejected batch is
    redelivered before anything else lands. Once a later batch applies
    over the gap, no snapshot of this table holds any clean prefix
    above the hole, so the freeze is permanent and correct; remediate
    by re-feeding the gap into a fresh table (or accepting cuts below
    the hole)."""
    return _read_feed_state(table)["hole"]


def _record_feed_hole(table, feed_from: str, feed_to: str) -> None:
    st = _read_feed_state(table)
    h = st["hole"]
    st["hole"] = {
        "from": min(feed_from, h["from"]) if h else feed_from,
        "to": max(feed_to, h["to"]) if h else feed_to,
        # rejection leaves the head untouched, so this is the snapshot
        # the redelivered batch must apply FROM for the heal to yield
        # a clean prefix (anything later holds rows above the gap)
        "at_sid": h["at_sid"] if h else table.current_snapshot_id(),
    }
    _write_feed_state(table, st)


def _record_feed_position(
    table,
    feed_to: str,
    feed_from: str | None = None,
    pre_sid: int | None = None,
) -> None:
    st = _read_feed_state(table)
    changed = False
    if st["hole"] is not None:
        if (
            feed_from is not None
            and feed_from <= st["hole"]["from"]
            and feed_to >= st["hole"]["to"]
            and pre_sid == st["hole"]["at_sid"]
        ):
            st["hole"] = None  # the gap was re-fed before anything else
            changed = True
        else:
            return  # frozen: a stamp above an unhealed gap would lie
    entries = st["entries"]
    if not entries or entries[-1]["feed_to"] < feed_to:
        entries.append(
            {"feed_to": feed_to, "snapshot_id": table.current_snapshot_id()}
        )
        changed = True
    if changed:
        _write_feed_state(table, st)


def consistent_cut(tables: dict) -> dict:
    """A transactionally consistent cross-table read point over tables
    fed from ONE server log via :func:`fan_out_debezium`.

    Returns ``{"feed_to": F, "snapshots": {name: snapshot_id}}`` where
    ``F`` is the greatest feed position EVERY table has reached and
    each snapshot is that table's state at ``F`` — read them with
    ``table.read(snapshot_id=...)`` and cross-table joins see a single
    log prefix: no torn transactions, regardless of crashes between
    table commits or reads racing an in-flight batch.

    Correctness requires each table to have been routed in every batch
    since it joined the feed (fan-out records a position even for
    batches where a table's slice is empty); a table that skipped
    batches below ``F`` would silently miss events, so entries are
    matched at exactly ``F`` and a gap raises."""
    hist = {name: feed_positions(t) for name, t in tables.items()}
    for name, h in hist.items():
        if not h:
            raise ValueError(
                f"table {name!r} has no feed-position ledger — it was "
                "never fed through fan_out_debezium(track_feed=True)"
            )
    cut = min(h[-1]["feed_to"] for h in hist.values())
    snaps = {}
    for name, h in hist.items():
        at = [e for e in h if e["feed_to"] == cut]
        if not at:
            raise ValueError(
                f"table {name!r} has no ledger entry at cut {cut!r} "
                "(joined the feed later, skipped batches, or out-lagged "
                f"the {_FEED_KEEP}-entry ledger retention — its state at "
                "that position is unknowable)"
            )
        sid = at[0]["snapshot_id"]
        # the ledger outlives snapshot retention: a leader's old
        # snapshot at a laggard's position may have been expired
        if tables[name]._raw_snapshot_if_retained(sid) is None:
            raise ValueError(
                f"table {name!r}'s snapshot {sid} at cut {cut!r} has "
                "been expired — size expire_snapshots retention to the "
                "topology's max inter-table lag, or catch the laggard "
                "up first"
            )
        snaps[name] = sid
    return {"feed_to": cut, "snapshots": snaps}


def fan_out_debezium(
    raw: DataFrame,
    routes: list[TableRoute],
    value_col: str = "value",
    commit_expr: Callable | None = None,
    seq_expr: Callable | None = None,
    unrouted: str = "count",
    track_feed: bool = True,
) -> dict:
    """Apply one mixed Debezium envelope batch to every route's table.

    ``raw``: a frame of JSON envelope strings (``value_col``) — the
    direct shape of a Kafka poll or a JSON-lines WAL segment read.
    ``commit_expr`` / ``seq_expr``: ordering derivation overrides,
    shared by all routes (one server log = one ordering domain; see
    ``parse_debezium``).

    Returns ``{"tables": {route key: apply_batch metrics},
    "unrouted": {"db.table": event count}, "feed_to": str | None}``.
    Route keys are the bare table name, or ``"db.table"`` for a
    db-qualified route (two qualified routes may share a table name).
    Routes are applied in list order, each an independent exactly-once
    engine apply — re-running the same mixed batch (crash between table
    commits) re-applies only the tables whose watermarks haven't seen
    it.

    ``track_feed``: stamp each routed table's feed-position ledger with
    the batch's global max watermark after its apply (observed by the
    parse write), enabling :func:`consistent_cut` reads across the
    topology's tables. The same observation REFUSES envelopes whose ordering
    can't be derived (NULL commit/seq after ``commit_expr``/
    ``seq_expr``) — applying unorderable events would corrupt both the
    ledger and the engines' watermark dedupe.
    """
    slices, report, scratch = _parse_and_gate(
        raw, routes, value_col, commit_expr, seq_expr, unrouted, track_feed,
        audit_in_apply=True,
    )
    try:
        return _apply_routes(slices, routes, report)
    finally:
        routes[0].engine.io.rmtree(scratch)


def _apply_routes(slices, routes, report) -> dict:
    # Per-route applies are INDEPENDENT over independent tables (own
    # watermarks, scratch, dead letters, commit chain). A Spark apply
    # has serial driver phases (stats collect, commit finalize) that
    # leave the cluster idle — overlap them from a small thread pool so
    # one route's tail back-fills with the next route's tasks.
    # Session-conf safety: the per-stage scan-split scoping takes a
    # non-blocking lock (engine/cdc.py _scan_splits), so concurrent
    # stagers never interleave set/restore. Sequential fallback when any
    # route carries a caller audit_fn (caller code of unknown thread
    # safety) — ledger stamping below is always sequential in route
    # order either way.
    #
    # A failed route does not stop its siblings: every route's outcome
    # is collected, the routes that committed are stamped, and only
    # then is the first error raised — a re-delivery must find the
    # committed routes' ledgers at their new position, or it could not
    # tell their applied batch from a gap.
    pre_sids = [r.engine.table.current_snapshot_id() for r in routes]

    def apply(r, events):
        return r.engine.apply_batch(events, audit_fn=r.audit_fn)

    def settle(call):
        try:
            return call()
        except BaseException as exc:
            return exc

    if len(routes) > 1 and all(r.audit_fn is None for r in routes):
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(3, len(routes))) as pool:
            futs = [pool.submit(apply, r, e) for r, e in zip(routes, slices)]
            outcomes = [settle(f.result) for f in futs]
    else:
        outcomes = [settle(lambda r=r, e=e: apply(r, e)) for r, e in zip(routes, slices)]
    first_err = None
    for r, pre_sid, metrics in zip(routes, pre_sids, outcomes):
        if isinstance(metrics, BaseException):
            first_err = first_err or metrics
            continue
        report["tables"][route_key(r)] = metrics
        if report["feed_to"] is not None:
            if metrics.get("audit") == "rejected":
                # the table is now missing this batch's events: record
                # the gap so NO later position is stamped over it —
                # advancing the ledger would claim a log prefix the
                # table doesn't hold (see feed_hole)
                _record_feed_hole(
                    r.engine.table, report["feed_from"], report["feed_to"]
                )
            else:
                _record_feed_position(
                    r.engine.table,
                    report["feed_to"],
                    feed_from=report["feed_from"],
                    pre_sid=pre_sid,
                )
    if first_err is not None:
        raise first_err
    return report


def route_key(r: TableRoute) -> str:
    """Report key for a route: bare table name, or ``"db.table"`` for a
    db-qualified route (two qualified routes may share a table name)."""
    return f"{r.db}.{r.table}" if r.db else r.table


def _check_routes(routes: list[TableRoute]) -> None:
    if not routes:
        raise ValueError("fan-out needs at least one route")
    seen: set[tuple] = set()
    targets: dict[str, tuple] = {}
    for r in routes:
        key = (r.db, r.table)
        if key in seen:
            raise ValueError(
                f"duplicate route for table {r.table!r} (db={r.db!r}): "
                "one route per source table — merging two engines into "
                "one table needs one engine, not two routes"
            )
        seen.add(key)
        # distinct source tables must land in distinct LAKE tables: two
        # routes sharing an engine (or two engines over one root) make
        # the first route's watermarks swallow the second's slice as
        # replays — silent data loss with a clean report
        root = getattr(r.engine.table, "root", None) or id(r.engine)
        if root in targets:
            raise ValueError(
                f"routes {targets[root]} and {key} share the lake table "
                f"at {root!r}: per-table exactly-once needs one engine "
                "and one table per route — to merge source tables, "
                "union their envelopes upstream of ONE route"
            )
        targets[root] = key


def _parse_and_gate(
    raw: DataFrame,
    routes: list[TableRoute],
    value_col: str,
    commit_expr: Callable | None,
    seq_expr: Callable | None,
    unrouted: str,
    track_feed: bool,
    audit_in_apply: bool = False,
):
    """The shared front half of every fan-out flavor: validate the
    route topology, decode the mixed envelope stream ONCE, refuse
    unorderable envelopes, and count/raise on unrouted tables. Returns
    ``(slices, report, scratch)``: per route, a frame (a read of its
    ``_route=i`` scratch partition) or a :class:`Collected` slice for
    the driver path, and the report with ``report["tables"]`` empty;
    the caller removes ``scratch`` after the last apply.

    A parquet input whose footers hold at most the routes' summed
    ``LOCAL_MAX_ROWS`` is decoded by one ``toArrow()`` that also
    evaluates each driver-eligible route's native chain parts and
    identity guards (:func:`_collect_routes`). Any other input is
    written once to the route-partitioned scratch. ``audit_in_apply``:
    a route's ``audit_fn`` runs inside its ``apply_batch``, which
    audits only on the Spark path."""
    if unrouted not in ("count", "raise", "ignore"):
        raise ValueError(
            f"unrouted must be 'count', 'raise' or 'ignore', got {unrouted!r}"
        )
    _check_routes(routes)
    plan = _route_partitioned(raw, routes, value_col, commit_expr, seq_expr)
    # The gate's numbers are observed by the decode's one action:
    # NULL-op rows (the parse's deferred op filter) get a NULL route
    # and count nowhere.
    kept = F.col("op").isNotNull()
    wm = watermark_str(F.col("commit"), F.col("event_seq"))
    gate = Observation("fanout-gate")
    observed = plan.observe(
        gate,
        F.max(F.when(kept, wm)).alias("wm"),
        F.min(F.when(kept, wm)).alias("wm_min"),
        F.count_if(kept).alias("n"),
        F.count_if(kept & (F.col("commit").isNull() | F.col("event_seq").isNull()))
        .alias("n_unordered"),
        F.count_if(F.col("_route") == -1).alias("n_unrouted"),
    )
    import uuid as _uuid

    io = routes[0].engine.io
    # The dir lives on the first route's table FileIO (DFS-safe).
    scratch = os.path.join(
        routes[0].engine.table.root, "_staging",
        f"fanout-parse-{_uuid.uuid4().hex}",
    )
    collected = None
    if _scheme(scratch) is None and _rows_at_most(
        parquet_footers(raw), sum(r.engine.LOCAL_MAX_ROWS for r in routes)
    ):
        collected = _collect_routes(observed, routes, audit_in_apply)
    else:
        # Barrier = a parquet scratch write, NOT localCheckpoint:
        # block-store materialization of the payload-bearing frame
        # measured ~1.5x slower than the columnar write, and the
        # partition directories give each route's slice its own files
        # (and footer row counts).
        with job_description(raw.sparkSession, "filters_spark: fan-out parse"):
            observed.write.partitionBy("_route").parquet(scratch)
    try:
        return (
            *_gate(raw, routes, scratch, plan, gate.get, unrouted, track_feed, collected),
            scratch,
        )
    except BaseException:
        io.rmtree(scratch)
        raise


def _route_columns(r: TableRoute) -> list[str]:
    return ["commit", "event_seq", "op", *r.fields]


def _collect_routes(observed: DataFrame, routes: list[TableRoute], audit_in_apply: bool):
    """The decoded, gate-observed frame as one Arrow table, plus per
    route ``(snap, local_batch_plan, part prefixes)``, or None for a
    route that does not stage on the driver. A part group (of a plan's
    groups holding the route's ``schema_version``) reads its input on
    the rows of the routes that share it only (``when(_route IN (...),
    input)``), so unrouted rows skip it: routes with equal registries
    and fields share their cached plan, so the JVM evaluates each group
    once per row, and the projection stays small enough for the JIT (a
    method over 8,000 bytecodes runs interpreted). Its columns are
    named ``__p<k>`` + the part name. ``_route`` is a non-cheap, multiply-referenced alias
    behind the observation, so the JSON is still lexed once."""
    fields = {f.name: f for f in observed.schema.fields}
    plans, shared = [], {}
    for i, r in enumerate(routes):
        schema = StructType([fields[c] for c in _route_columns(r)]) \
            .add("schema_version", IntegerType(), False)
        snap = r.engine.table.current()
        lp = None if audit_in_apply and r.audit_fn else local_batch_plan(r.engine, schema, snap)
        if lp is None:
            plans.append(None)
            continue
        prefixes = []
        for g in lp[1]:
            if r.schema_version in g[0]:
                if id(g) not in shared:
                    shared[id(g)] = (len(shared), [], g)
                k, members, _ = shared[id(g)]
                members.append(i)
                prefixes.append(f"__p{k}")
        plans.append((snap, lp, prefixes))
    parts = [c for k, members, g in shared.values()
             for c in part_columns(g, F.col("_route").isin(members), f"__p{k}")]
    frame = observed.select("*", *parts)
    name = f"filters_spark: fan-out collect {os.path.basename(routes[0].engine.table.root)}"
    with job_description(frame.sparkSession, name):
        return frame.toArrow(), plans


def _route_partitioned(raw, routes, value_col, commit_expr, seq_expr) -> DataFrame:
    """The decoded envelope frame plus ``_route``: the index of the
    route whose predicate matches, -1 for unrouted rows, NULL for
    NULL-op rows. The op filter of ``parse_debezium`` is deferred to
    the partition column: a filter above the parse is pushed below it
    by alias substitution and re-lexes every row a second time, so the
    write's plan evaluates ``from_json`` exactly once per envelope. The
    value-notnull prefilter (Kafka compaction tombstones) IS pushable
    for free — it lands in the source scan."""
    from filters_spark.sources.debezium import parse_debezium

    union_fields = sorted({f for r in routes for f in r.fields})
    plan = parse_debezium(
        raw.filter(F.col(value_col).isNotNull()),
        union_fields,
        value_col=value_col,
        commit_expr=commit_expr,
        seq_expr=seq_expr,
        include_source=True,
        _defer_op_filter=True,
    )
    route = F.when(F.col("op").isNull(), F.lit(None))
    for i, m in enumerate(_route_matches(routes)):
        route = route.when(m, F.lit(i))
    return plan.withColumn("_route", route.otherwise(F.lit(-1)).cast("int"))


def _gate(raw, routes, scratch, plan, seen, unrouted, track_feed, collected=None):
    """Act on the observed gate numbers ``seen``; returns the route
    slices and the report. Every route partition is read with the
    parse's schema — an explicit schema, because a route without rows
    gets an empty directory and a schema-less read of it would fail.
    ``collected``: the :func:`_collect_routes` result; a route slice
    then stages on the driver from it, or — an unplanned route or one
    over its engine's ``LOCAL_MAX_ROWS`` — is written to its partition
    from it."""
    spark = raw.sparkSession
    schema = StructType([f for f in plan.schema.fields if f.name != "_route"])
    io = routes[0].engine.io

    def part(i: int) -> DataFrame:
        d = os.path.join(scratch, f"_route={i}")
        if not io.isdir(d):
            io.makedirs(d)
        return spark.read.schema(schema).parquet(d)

    report: dict = {"tables": {}, "unrouted": {}, "feed_to": None, "feed_from": None}
    if track_feed:
        if seen["n_unordered"]:
            raise ValueError(
                f"{seen['n_unordered']} of {seen['n']} envelopes have no "
                "derivable (commit, event_seq) ordering — fix the feed "
                "or supply commit_expr/seq_expr for its ordering scheme"
            )
        report["feed_to"] = seen["wm"]  # None on an empty batch
        report["feed_from"] = seen["wm_min"]
    tbl = None if collected is None else collected[0]
    route = None if tbl is None else tbl.column("_route")
    if unrouted != "ignore" and seen["n_unrouted"]:
        if tbl is None:
            misses = map(tuple, part(-1).groupBy("_src_db", "_src_table").count().collect())
        else:
            counts = tbl.filter(pc.equal(route, -1)) \
                .group_by(["_src_db", "_src_table"]).aggregate([([], "count_all")])
            misses = zip(*(counts.column(c).to_pylist()
                           for c in ("_src_db", "_src_table", "count_all")))
        report["unrouted"] = {f"{db or ''}.{t or ''}": n for db, t, n in misses}
        if unrouted == "raise":
            raise ValueError(
                f"unrouted source tables in the batch: {report['unrouted']} "
                "— add routes, or pass unrouted='count'/'ignore' if the "
                "drop is intended"
            )
    slices = []
    for i, r in enumerate(routes):
        if tbl is not None:
            rows = tbl.filter(pc.equal(route, i))
            planned = collected[1][i]
            if planned is not None and rows.num_rows <= r.engine.LOCAL_MAX_ROWS:
                snap, lp, prefixes = planned
                out = rows.select(_route_columns(r)).append_column(
                    "schema_version", pa.array(np.full(rows.num_rows, r.schema_version, np.int32))
                )
                for name in rows.column_names:
                    for p in prefixes:
                        if name.startswith(p + "__"):
                            out = out.append_column(name[len(p):], rows.column(name))
                slices.append(Collected(out, snap, lp))
                continue
            if rows.num_rows:
                write_parquet_local(rows.select(schema.names), os.path.join(scratch, f"_route={i}"))
        slices.append(part(i).select(
            *_route_columns(r), F.lit(r.schema_version).alias("schema_version"),
        ))
    return slices, report


def start_fanout_stream(
    routes: list[TableRoute],
    raw: DataFrame,
    checkpoint_dir: str,
    trigger_once: bool = False,
    processing_time: str = "10 seconds",
    unrouted: str = "count",
    commit_expr: Callable | None = None,
    seq_expr: Callable | None = None,
    txn_dir: str | None = None,
):
    """Structured-Streaming front-end: tail a RAW envelope stream (e.g.
    ``spark.readStream.text(dir)`` of JSON-lines WAL segments, or a
    Kafka value stream cast to string) and fan every micro-batch out
    through :func:`fan_out_debezium`.

    Exactly-once composes the same way as ``start_cdc_stream``: Spark's
    offset checkpoint bounds which envelopes re-deliver after a crash,
    and each table's watermarks drop the replayed prefix — per table,
    independently, so a crash BETWEEN two tables' commits inside one
    micro-batch re-applies only the table that hadn't committed
    (pinned in tests/test_fanout.py).

    ``txn_dir`` switches each micro-batch to the ATOMIC fan-out
    (engine/txn.py): readers never see a torn micro-batch, even
    transiently. Every batch first runs crash recovery — a re-delivered
    micro-batch whose transaction was already decided rolls forward
    before the (then no-op, watermark-deduped) re-apply; an undecided
    crash's stages are presumed aborted and swept. Micro-batches within
    one query are serial, so the zero min-age sweep is safe; do NOT
    point two streams at one ``txn_dir``."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if txn_dir is None:
            fan_out_debezium(
                batch_df,
                routes,
                unrouted=unrouted,
                commit_expr=commit_expr,
                seq_expr=seq_expr,
            )
        else:
            from filters_spark.engine.txn import fan_out_atomic, recover_fanout

            recover_fanout(routes, txn_dir, min_age_seconds=0)
            fan_out_atomic(
                batch_df,
                routes,
                txn_dir,
                unrouted=unrouted,
                commit_expr=commit_expr,
                seq_expr=seq_expr,
                txn_id=f"batch-{batch_id}",
            )

    writer = raw.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
