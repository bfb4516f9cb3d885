"""Incrementally-maintained aggregate view over a LakeTable changefeed.

The other classic CDC consumer besides the row-level mirror
(lake/sync.py): a small GROUP-BY aggregate (per-language file counts,
per-repo byte totals, ...) kept in sync with a huge source table by
folding in each commit's changes — never re-scanning the table.

Row-level changes alone cannot update an aggregate: an update or delete
event carries the NEW image, but the view must also RETRACT the old
row's contribution. The standard incremental-view-maintenance move
(delta processing with retractions) derives both sides from the lake's
own time travel:

1. ``changes(last, cur)`` — the affected keys, O(changed rows) read
   from the MoR commits' added files.
2. old contributions = ``read(at=last)`` restricted to the affected
   keys' BUCKETS (bucket pruning) and semi-joined to the keys
   (broadcast — changed keys per refresh are bounded by the change
   volume, not the table), each row signed **-1**;
3. new contributions = the same restriction of ``read(at=cur)``,
   signed **+1**;
4. view' = re-aggregate(view ∪ signed deltas), dropping groups whose
   row count reaches zero.

Per refresh this reads O(changed rows + affected-bucket rows), not
O(table). All maintained aggregates are ADDITIVE in exact integer
space — ``n_rows`` (count) and BIGINT-cast sums — so partition order
can never perturb the state and the view equals a from-scratch
GROUP BY of the current snapshot bit-for-bit (pinned by the oracled
``lake_mview_by_lang`` query and tests/test_mview.py's
refresh-vs-recompute equality).

Crash idempotency (same contract as sync.py): the view snapshot
``v-<source_sid>`` is written BEFORE ``state.json`` flips to it; a
crash in between re-runs the same refresh from the old state and
overwrites ``v-<source_sid>`` with identical bytes (source snapshots
are immutable). Readers resolve through ``state.json`` and never see a
partial write.

Layout::

    root/
      state.json    # {source_snapshot_id, group_cols, sum_exprs, view_dir}
      v-00000002/   # parquet: group_cols + n_rows + <sum names>
"""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from filters_spark.lake.fileio import fileio_for
from filters_spark.lake.table import LakeTable, bucket_expr

_KEY_COLS = ["repo", "path"]


class AggView:
    """Handle to an incrementally-maintained aggregate view.

    ``group_cols``: source columns to group by. ``sum_exprs``: name ->
    SQL expression string over source columns; each is evaluated as
    ``sum(cast(coalesce(expr, 0) as bigint))`` (exact, additive,
    order-independent — the property incremental maintenance needs).
    Both are persisted in ``state.json``; pass them only on first use.
    """

    def __init__(
        self,
        spark: SparkSession,
        src: LakeTable,
        root: str,
        group_cols: list[str] | None = None,
        sum_exprs: dict[str, str] | None = None,
    ):
        self.spark, self.src, self.root = spark, src, root
        self.io = fileio_for(spark, root)
        st = self._read_state()
        if st is None:
            if not group_cols:
                raise ValueError("group_cols required for a new view")
            self.group_cols = list(group_cols)
            self.sum_exprs = dict(sum_exprs or {})
        else:
            self.group_cols = st["group_cols"]
            self.sum_exprs = st["sum_exprs"]
            if group_cols is not None and list(group_cols) != self.group_cols:
                raise ValueError(
                    f"view exists with group_cols={self.group_cols}"
                )
            if sum_exprs is not None and dict(sum_exprs) != self.sum_exprs:
                raise ValueError(
                    f"view exists with sum_exprs={self.sum_exprs}; "
                    "create a new view root to change the aggregates"
                )

    # -- state ---------------------------------------------------------------

    def _state_path(self) -> str:
        return os.path.join(self.root, "state.json")

    def _read_state(self) -> dict | None:
        p = self._state_path()
        if not self.io.exists(p):
            return None
        return json.loads(self.io.read_text(p))

    def last_refreshed_snapshot(self) -> int:
        st = self._read_state()
        return 0 if st is None else int(st["source_snapshot_id"])

    def current(self) -> DataFrame | None:
        """The view as of its last refresh (None before the first)."""
        st = self._read_state()
        if st is None:
            return None
        return self.spark.read.parquet(os.path.join(self.root, st["view_dir"]))

    # -- maintenance -----------------------------------------------------------

    def _aggregate(self, rows: DataFrame, sign: int = 1) -> DataFrame:
        s = F.lit(sign).cast("long")
        aggs = [F.sum(s).alias("n_rows")] + [
            F.sum(s * F.coalesce(F.expr(e), F.lit(0)).cast("long")).alias(name)
            for name, e in self.sum_exprs.items()
        ]
        return rows.groupBy(*self.group_cols).agg(*aggs)

    def refresh(self) -> dict:
        """Fold source changes since the last refresh into the view.
        Initial call = full build; later calls are incremental."""
        last = self.last_refreshed_snapshot()
        cur = self.src.current_snapshot_id()
        if cur <= last:
            return {"source_snapshot_id": last, "refreshed": False}

        if last == 0:
            src_df = self.src.read(cur)
            if src_df is None:
                # empty table: a typed empty frame keeps the view's
                # schema right so later incremental refreshes union
                snap = self.src.snapshot(cur)
                src_df = self.spark.createDataFrame(
                    [], self.src._base_ddl(self.src.payload_cols(snap))
                )
            view = self._aggregate(src_df)
            mode = "full"
        else:
            ch = self.src.changes(last, cur)
            if ch is None:
                # only physical reorganizations (compact/rescale/...) in
                # the range: no logical change — advance the state to cur
                # re-referencing the existing view files
                st = self._read_state()
                st["source_snapshot_id"] = cur
                self.io.write_text_atomic(self._state_path(), json.dumps(st))
                return {"source_snapshot_id": cur, "refreshed": True, "mode": "noop"}
            # materialized: keys feeds FOUR actions (two bucket-set
            # collects + two broadcast semi-joins) — without a barrier
            # each would re-run the changes() union scan and the
            # distinct shuffle (same rationale as sync.py's barrier)
            from filters_spark.lake.materialize import materialize

            keys = materialize(ch.select(*_KEY_COLS).distinct())

            def _bkts(snap: dict) -> list[int]:
                return sorted(
                    r[0]
                    for r in keys.select(
                        bucket_expr(
                            F.col("repo"), F.col("path"),
                            snap["num_buckets"], snap["path_salt"],
                        ).alias("b")
                    )
                    .distinct()
                    .collect()
                )

            # retraction = old image of the affected keys; addition =
            # their new image. Bucket-pruned reads + broadcast semi-join
            # keep both O(affected buckets), never O(table). Bucket ids
            # are computed PER SNAPSHOT — a rescale between the two
            # snapshots changes the key->bucket map, and pruning the old
            # read with the new map would silently drop retractions.
            old = self.src.read(last, buckets=_bkts(self.src.snapshot(last)))
            new = self.src.read(cur, buckets=_bkts(self.src.snapshot(cur)))
            parts = []
            if new is not None:
                parts.append(
                    self._aggregate(new.join(F.broadcast(keys), _KEY_COLS, "leftsemi"))
                )
            if old is not None:
                parts.append(
                    self._aggregate(
                        old.join(F.broadcast(keys), _KEY_COLS, "leftsemi"), sign=-1
                    )
                )
            prev = self.current()
            if prev is not None:
                parts.append(prev)
            unioned = parts[0]
            for p in parts[1:]:
                unioned = unioned.unionByName(p)
            sums = [F.sum(c).alias(c) for c in ["n_rows", *self.sum_exprs]]
            view = (
                unioned.groupBy(*self.group_cols)
                .agg(*sums)
                .filter(F.col("n_rows") > 0)
            )
            mode = "incremental"

        view_dir = f"v-{cur:08d}"
        out = os.path.join(self.root, view_dir)
        view.write.mode("overwrite").parquet(out)
        self.io.write_text_atomic(
            self._state_path(),
            json.dumps(
                {
                    "source_snapshot_id": cur,
                    "group_cols": self.group_cols,
                    "sum_exprs": self.sum_exprs,
                    "view_dir": view_dir,
                }
            ),
        )
        return {"source_snapshot_id": cur, "refreshed": True, "mode": mode}

    def vacuum(self, min_age_seconds: float = 3600.0) -> list[str]:
        """Delete superseded view snapshots: every ``v-*`` dir except
        the one ``state.json`` references. Each refresh writes a fresh
        dir and flips the state pointer, so superseded dirs (and
        orphans of crashed refreshes) otherwise accumulate one full
        view copy per refresh. Min-age-guarded, same trade as
        ``LakeTable.vacuum``: a reader holding a lazily-evaluated
        ``current()`` frame reads its old dir until the action
        finishes. Returns the deleted dir names."""
        st = self._read_state()
        live = st["view_dir"] if st else None
        now = time.time()
        dropped = []
        for name in self.io.listdir(self.root):
            if not name.startswith("v-") or name == live:
                continue
            d = os.path.join(self.root, name)
            if not self.io.isdir(d):
                continue
            if min_age_seconds and now - self.io.mtime(d) < min_age_seconds:
                continue
            self.io.rmtree(d)
            dropped.append(name)
        return dropped
