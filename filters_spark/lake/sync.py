"""Incremental downstream sync: maintain a mirror LakeTable from a
source table's changefeed, reading O(changed rows) per sync.

The standard CDC fan-out shape: the ingest engine lands events in ONE
authoritative table (merge-on-read, so every commit records exactly its
added row-level changes), and downstream consumers — serving replicas,
region mirrors, derived stores — follow its ``changes()`` feed instead
of re-scanning or re-validating the stream. ``sync_incremental`` is
that consumer:

- **Reads O(changed rows)**: ``src.changes(last_synced, current)`` is a
  union of exactly the delta files those commits appended — no diffing,
  no full-table scan, no matter how large the table is.
- **Applies O(touched buckets)**: changes are bucketed by the MIRROR's
  own key hash (the mirror may be bucketed differently — e.g. wider for
  a hotter serving tier), merged LWW against only the touched buckets'
  current state, and committed through the mirror's normal snapshot
  protocol. Untouched buckets carry over by reference.
- **Exactly-once effect**: the mirror records the last source snapshot
  it folded in (``metadata/sync-state.json``, written AFTER the mirror
  commit). A crash between commit and state write re-applies the same
  change range on the next sync — idempotent, because LWW of a state
  with changes it already contains is that same state.

Source must be a change SOURCE, i.e. ingested with ``write_mode='mor'``
— ``changes()`` raises on copy-on-write overwrite snapshots, which
retain no row-level log (same contract as Iceberg incremental scans).
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from filters_spark.lake.table import LakeTable, bucket_expr, lww_merge, watermark_str
from filters_spark.lake.materialize import materialize

_STATE_FILE = "sync-state.json"


def last_synced_snapshot(dst: LakeTable) -> int:
    """Source snapshot id the mirror has folded in (0 = never synced)."""
    p = os.path.join(dst.meta_dir, _STATE_FILE)
    if not dst.io.exists(p):
        return 0
    return int(json.loads(dst.io.read_text(p))["source_snapshot_id"])


def sync_incremental(src: LakeTable, dst: LakeTable) -> dict | None:
    """Fold the source's changes since the last sync into the mirror.
    Returns the mirror's new snapshot (None when already up to date).

    The mirror must share the source's key/payload column set; its
    bucket layout is its own."""
    last = last_synced_snapshot(dst)
    cur = src.current_snapshot_id()
    if cur <= last:
        return None

    # payload from cur's RAW header (not a head re-read): a commit
    # landing between the two reads could widen the column set past
    # the feed's schema, failing the select below
    src_payload = src.payload_cols(src._raw_snapshot(cur))
    dst_snap = dst.current()
    if dst.payload_cols(dst_snap) != src_payload:
        raise ValueError(
            f"mirror payload columns {dst.payload_cols(dst_snap)} != "
            f"source {src_payload}; evolve the mirror's schema first"
        )

    changes = src.changes(last, cur)
    if changes is not None:
        bkt = bucket_expr(
            F.col("repo"), F.col("path"), dst_snap["num_buckets"], dst_snap["path_salt"]
        ).alias("_bucket")
        ch = changes.select(
            "repo", "path", "commit", "event_seq", *src_payload, "op", bkt,
            watermark_str(F.col("commit"), F.col("event_seq")).alias("_wm"),
        )
        # materialize once: the touched-bucket distinct below AND the
        # merge job inside commit_buckets both consume ch — without a
        # barrier each would re-scan every changefeed delta file
        ch = materialize(ch)
        # touched buckets are bounded by the mirror's bucket count, not
        # by data size — a driver-side distinct is O(num_buckets)
        touched = sorted(
            r._bucket for r in ch.select("_bucket").distinct().collect()
        )
        base = dst.read(buckets=touched)
        if base is not None:
            base = base.select(
                "repo", "path", "commit", "event_seq", *src_payload,
                F.lit("K").alias("op"), "_bucket",
                watermark_str(F.col("commit"), F.col("event_seq")).alias("_wm"),
            )
            merged_src = base.unionByName(ch)
        else:
            merged_src = ch
        merged = lww_merge(merged_src, src_payload).repartition("_bucket")
        out = dst.commit_buckets(merged, touched, {}, operation="sync")
    else:
        out = None

    dst.io.write_text_atomic(
        os.path.join(dst.meta_dir, _STATE_FILE),
        json.dumps({"source_snapshot_id": cur}),
    )
    return out


_EGRESS_STATE = "egress-state.json"


def last_published_snapshot(src: LakeTable, sink_dir: str) -> int:
    """Source snapshot id the sink has published through (0 = never)."""
    p = os.path.join(sink_dir, _EGRESS_STATE)
    if not src.io.exists(p):
        return 0
    return int(json.loads(src.io.read_text(p))["source_snapshot_id"])


def publish_changes(
    src: LakeTable,
    sink_dir: str,
    before_images: bool = False,
    connector: str = "filters-spark",
    db: str | None = None,
    table: str | None = None,
) -> dict | None:
    """Checkpointed Debezium EGRESS — the wire-format twin of
    :func:`sync_incremental`: publish the source's changefeed since the
    last publish as JSON-line envelope files under
    ``sink_dir/batch-<since>-<to>/``, then advance
    ``sink_dir/egress-state.json``. Repeated calls tail the table; a
    scheduler (or a streaming trigger) calling this per tick makes the
    lake a continuous Debezium PRODUCER any standard consumer can
    follow, with no connector infrastructure.

    Delivery contract: the state file is written AFTER the batch
    directory, so a crash in between re-publishes the same range into
    the SAME deterministic directory (overwrite — no partial-batch
    duplication within the sink). Consumers get at-least-once delivery
    of whole ranges; feeding the envelopes back through
    ``parse_debezium`` into a CDC engine is exactly-once end to end
    because the engine's watermark dedupe drops redelivered events
    (pinned in tests/test_debezium.py).

    ``before_images=True`` publishes through
    :meth:`~filters_spark.lake.table.LakeTable.changes_with_images`,
    so u/d envelopes carry true ``before`` images and ops are
    re-classified against the pre-image (the full Debezium event
    shape); the default publishes the plain feed (cheaper: no seed
    read or window). ``db``/``table`` stamp ``source.db``/
    ``source.table`` so table-keyed consumers (fan-out dispatchers)
    can route the feed.

    Returns ``{"since", "to", "events", "path"}``; None when already
    up to date. An empty range (metadata-only commits) still advances
    the checkpoint but writes no batch directory."""
    from filters_spark.sources.debezium import to_debezium

    last = last_published_snapshot(src, sink_dir)
    cur = src.current_snapshot_id()
    if cur <= last:
        return None
    # payload from cur's RAW header, not a head re-read: a commit
    # landing between the two reads could widen the column set past
    # the feed's actual schema (and raw avoids manifest resolution)
    payload = src.payload_cols(src._raw_snapshot(cur))
    fields = ["repo", "path", *payload]
    out = None
    if before_images:
        feed = src.changes_with_images(last, cur)
        if feed is not None:
            wire = to_debezium(
                feed, fields, op_col="op_effective", connector=connector,
                db=db, table=table,
                before_cols={
                    "repo": "repo", "path": "path",
                    **{c: f"pre_{c}" for c in payload},
                },
            )
    else:
        feed = src.changes(last, cur)
        if feed is not None:
            wire = to_debezium(feed, fields, connector=connector, db=db, table=table)
    # a crash after a batch write but before the state write, followed
    # by MORE commits, retries with a wider range: the stale (possibly
    # torn) batch-<last>-<oldcur> sibling would otherwise persist in
    # the sink forever, double-delivering (or PART-delivering) its
    # range to glob consumers — sweep every batch dir starting at
    # `last` before writing the current one
    stale = f"batch-{last:010d}-"
    for name in src.io.listdir(sink_dir):
        if name.startswith(stale):
            src.io.rmtree(os.path.join(sink_dir, name))
    if feed is not None:
        batch_dir = os.path.join(sink_dir, f"batch-{last:010d}-{cur:010d}")
        wire.write.mode("overwrite").text(batch_dir)
        n = src.spark.read.text(batch_dir).count()
        out = {"since": last, "to": cur, "events": n, "path": batch_dir}
    src.io.makedirs(sink_dir)  # empty first range: no batch dir created it
    src.io.write_text_atomic(
        os.path.join(sink_dir, _EGRESS_STATE),
        json.dumps({"source_snapshot_id": cur}),
    )
    return out
