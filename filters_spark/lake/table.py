"""Copy-on-write, hash-bucketed lake table with snapshot isolation.

The sandbox has no Iceberg runtime jar and no network (BASELINE.md), so
this module implements the Iceberg *semantics* the north rule names —
bucketed data files, JSON snapshot manifests, atomic commit, snapshot
time travel, schema metadata + per-bucket watermarks (checkpoint
offsets) — behind a small interface that a real Iceberg catalog
(``MERGE INTO`` via DataFrameWriterV2) can replace when the jar exists.

Layout::

    root/
      metadata/
        version-hint.text          # latest committed snapshot id
        snap-00000042.json         # immutable snapshot manifest
      data/
        snap-00000042/_bucket=K/part-*.parquet

A snapshot manifest records, per bucket, the parquet files that hold
that bucket's rows and the bucket's watermark ``commit:event_seq``.
Buckets untouched by a commit keep their previous snapshot's files —
copy-on-write at bucket granularity, so a merge that touches B' of B
buckets rewrites only B'/B of the table (partition pruning on the read
side comes free: we only open the touched buckets' files).

Commit protocol (Iceberg-style optimistic):
1. write new data files under ``data/snap-N/`` (never overwriting),
2. write ``snap-N.json.tmp`` then atomically ``rename`` to
   ``snap-N.json`` — the rename fails if a concurrent writer won,
3. atomically replace ``version-hint.text``.

Scale notes: buckets = physical partitioning unit; pick
``num_buckets`` ≈ cluster cores × small multiple at deploy scale. All
data paths stay distributed (Spark read/write); only manifest JSON
(KBs) touches the driver.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Iterable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from filters_spark.lake.fileio import FileIO, fileio_for
from filters_spark.lake.xxh import bucket_of

WATERMARK_ZERO = "000000000000:-1"


_STAT_TRUNCATE_CHARS = 16


def _truncate_bound_lower(v: str, ln: int = _STAT_TRUNCATE_CHARS) -> str:
    """Safe LOWER bound of ``v`` in at most ``ln`` chars: the prefix
    (a prefix sorts <= the full string; and <= any longer true min the
    footer value was itself a truncation of)."""
    return v if len(v) <= ln else v[:ln]


def _truncate_bound_upper(v: str, ln: int = _STAT_TRUNCATE_CHARS) -> str | None:
    """Safe UPPER bound of ``v`` in at most ``ln`` chars: the prefix
    with its last char bumped one code point (skipping the surrogate
    gap) — strictly greater than every string sharing the prefix,
    hence >= the true max even when the footer max was itself a prefix
    truncation. Returns None when every prefix char already sits at
    the maximum code point (no finite short bound exists)."""
    if len(v) <= ln:
        return v
    p = v[:ln]
    for i in range(len(p) - 1, -1, -1):
        cp = ord(p[i]) + 1
        if 0xD800 <= cp <= 0xDFFF:
            cp = 0xE000
        if cp <= 0x10FFFF:
            return p[:i] + chr(cp)
    return None


def _rel_to_data(path: str) -> str:
    """Data-file identity independent of how the table root was spelled:
    the suffix after the LAST ``/data/`` (``snap-N/_bucket=K/part-*``).
    The relative part never contains a ``data/`` segment (only snap-*/
    delta-* dirs, bucket dirs and part files), so rsplit is exact even
    when the root itself contains ``/data/``."""
    return path.replace(os.sep, "/").rsplit("/data/", 1)[-1]


def bucket_expr(repo_col, path_col, num_buckets: int, path_salt: int = 16):
    """Deterministic bucket id for a (repo, path) key.

    Hot-repo skew handling: the bucket is ``hash(repo, salt(path))``
    where ``salt(path) = hash(path) % path_salt`` — all events for one
    key land in one bucket (merge stays partition-local) while a hot
    repo's keys spread over up to ``path_salt`` buckets instead of one.
    """
    salt = F.pmod(F.xxhash64(path_col), F.lit(path_salt))
    return F.pmod(F.xxhash64(repo_col, salt), F.lit(num_buckets)).cast("int")


def watermark_str(commit_col, seq_col):
    """Sortable watermark string 'commit:seq' (commit is zero-padded hex,
    seq zero-padded decimal) — lexicographic order == event order.

    The 20-digit seq pad covers the full BIGINT range (19 digits); a
    narrower pad silently PREFIX-TRUNCATES in Spark's lpad, breaking
    the order isomorphism — the Debezium default seq (pos*65536+row)
    crosses 10 digits at binlog pos ~152k. The pad width is part of the
    table's on-disk watermark format (manifest `watermarks` values mix
    with freshly computed strings in max() comparisons), so changing it
    requires fresh tables. NULL commit or seq (an envelope whose
    ordering can't be derived) yields NULL, never a seq-only string
    that would mis-sort against real positions: F.concat propagates
    NULLs where concat_ws would silently skip them."""
    return F.concat(commit_col, F.lit(":"), F.lpad(seq_col.cast("string"), 20, "0"))


DEFAULT_PAYLOAD_COLS = ["lang", "content"]


def lww_merge(df: DataFrame, payload_cols: list[str] | None = None,
              extra_keys: list[str] | None = None) -> DataFrame:
    """Last-writer-wins merge of a (base ∪ delta) frame: within each
    ``_bucket``, rows sort by (repo, path, _wm desc); the first row of
    each key group is the winner; ``op='D'`` winners are deletes.

    Requires columns: repo, path, commit, event_seq, the payload
    columns, op, _bucket, _wm. ONE shuffle keyed on _bucket (== the
    physical partitioning). Shared by the engine's copy-on-write commit
    path and the table's merge-on-read ``read()`` / ``compact()``.

    ``payload_cols``: the table's non-key payload columns (schema
    evolution can widen this set mid-stream; callers derive it from the
    snapshot's ``columns`` or the registry's canonical set).

    ``extra_keys``: additional window-partition columns carried through
    to the output — the engine's grouped replay merges every batch's
    post-state in one pass by partitioning on (snapshot, _bucket)."""
    payload = payload_cols or DEFAULT_PAYLOAD_COLS
    extra = extra_keys or []
    mw = Window.partitionBy(*extra, "_bucket").orderBy("repo", "path", F.col("_wm").desc())
    is_group_head = (
        F.lag("repo").over(mw).isNull()
        | (F.lag("repo").over(mw) != F.col("repo"))
        | (F.lag("path").over(mw) != F.col("path"))
    )
    return (
        df.withColumn("_head", F.coalesce(is_group_head, F.lit(True)))
        .filter(F.col("_head") & (F.col("op") != "D"))
        .select(
            "repo", "path", "commit", "event_seq", *payload,
            F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("content_sha"),
            *extra, "_bucket",
        )
    )


def patch_merge(
    df: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    order_cols: list[str],
    op_col: str = "op",
    full_image_ops: tuple = ("I",),
    delete_op: str = "D",
) -> DataFrame:
    """Merge a change stream whose UPDATE events carry **partial row
    images** — the other core binlog shape besides full-image LWW
    (:func:`lww_merge`). Real binlogs (MySQL ``binlog_row_image=minimal``,
    Debezium without ``REPLICA IDENTITY FULL``) emit only the changed
    columns on update; a NULL payload cell in a patch event means "not
    in this image — keep the previous value", NOT "set to NULL".

    Semantics, per key in ``order_cols`` order:

    - ``op`` in ``full_image_ops`` (insert / snapshot read): the row is
      authoritative for EVERY payload column — a NULL here really is
      NULL (it resets inheritance; nothing leaks through from before).
    - patch (any other op): each non-NULL cell overwrites; NULL cells
      inherit the latest value set since the last full image / delete.
    - ``delete_op``: removes the row; later patches build on an empty
      row (their NULL cells stay NULL), later full images start fresh.

    The final state is the last event's row with inheritance resolved;
    keys whose last event is a delete disappear.

    Implementation — ONE exchange, hash-partitioned on ``key_cols``:
    an "epoch" counter (running count of full-image/delete events)
    fences inheritance, and each payload column resolves via two
    ``last(..., ignorenulls=True)`` marks over the SAME window frame
    (the value, and the epoch that produced it — the value only
    applies when its epoch is the current one). Every window in the
    operator partitions by ``key_cols`` alone, so Catalyst plans a
    single Exchange with two Sort/Window passes (asc resolve, desc
    winner pick). The two-mark trick instead of a struct keeps every
    expression engine-portable: the DuckDB oracle spells it with
    ``last_value(... IGNORE NULLS) OVER (ROWS UNBOUNDED PRECEDING)``
    verbatim.

    ``order_cols`` must be a deterministic total order per key (e.g.
    ``(commit, event_seq)``); ties make the winner nondeterministic.
    Output: key_cols + order_cols (of the winning event) + payload.
    """
    bad = set(payload_cols) & (set(key_cols) | set(order_cols) | {op_col})
    if bad:
        raise ValueError(f"payload_cols overlap keys/order/op: {sorted(bad)}")
    reset_ops = [delete_op, *full_image_ops]
    w_ord = (
        Window.partitionBy(*key_cols)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    epoch = F.sum(F.col(op_col).isin(reset_ops).cast("int")).over(w_ord)
    df2 = df.withColumn("_epoch", epoch)
    resolved = []
    for c in payload_cols:
        sets_cell = (F.col(op_col) != delete_op) & F.col(c).isNotNull()
        e_c = F.last(F.when(sets_cell, F.col("_epoch")), ignorenulls=True).over(w_ord)
        v_c = F.last(F.when(sets_cell, F.col(c)), ignorenulls=True).over(w_ord)
        resolved.append(F.when(e_c == F.col("_epoch"), v_c).alias(c))
    w_desc = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        df2.select(
            *key_cols, *order_cols, F.col(op_col).alias("_op"), *resolved
        )
        .withColumn("_rn", F.row_number().over(w_desc))
        .filter((F.col("_rn") == 1) & (F.col("_op") != delete_op))
        .drop("_rn", "_op")
    )


class LakeTable:
    """Handle to a copy-on-write bucketed table rooted at ``root``."""

    def __init__(self, spark: SparkSession, root: str, io: FileIO | None = None):
        self.spark = spark
        self.root = root
        # all direct file ops (manifest JSON, listings, staged moves) go
        # through FileIO so the same code runs on local FS and DFS/object
        # stores (lake/fileio.py); bulk data IO stays on spark.read/write
        self.io = io or fileio_for(spark, root)
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")
        # manifest files are content-addressed and immutable, so caching
        # by name is always safe; the cache makes re-reading the current
        # snapshot in a long replay loop O(touched manifests), not
        # O(buckets)
        self._manifest_cache: dict[str, list[str]] = {}
        # per-file column stats (path -> {col: [min, max]}), fed from
        # resolved manifests and from footer reads at commit time; paths
        # are unique (each commit writes under a fresh snap-/delta- dir)
        # so a flat path-keyed cache is sound
        self._file_stats_cache: dict[str, dict] = {}
        # reverse memo: list OBJECT -> its manifest name. Untouched
        # buckets flow commit-to-commit by reference (``dict(prev[...])``
        # shallow-copies the resolved lists), so an identity hit skips
        # re-serializing + re-hashing their full file lists — without it
        # every commit's metadata CPU is O(total data files), not
        # O(touched buckets). Values keep the list alive so ``id()``
        # can never be recycled onto a different object.
        self._name_by_list: dict[int, tuple[list[str], str]] = {}

    # -- lifecycle ----------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        key_cols: list[str],
        num_buckets: int = 32,
        path_salt: int = 16,
        schema_version: int = 1,
        columns: list[str] | None = None,
        stats_cols: list[str] | None = None,
        sort_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_m_bits: int = 1 << 16,
        bloom_k: int = 5,
    ) -> "LakeTable":
        """``stats_cols``: columns whose per-file min/max are recorded
        in manifests at commit time (parquet footer stats, driver-side,
        O(new files)) and used by :meth:`read`'s ``where`` pruning.
        ``sort_cols``: commit-time ``sortWithinPartitions`` clustering
        inside each bucket — tight per-file ranges are what make the
        min/max skipping selective (unsorted files all span the whole
        domain and nothing prunes).
        ``bloom_cols``: columns that get a per-file BLOOM FILTER
        harvested at commit time (Delta bloom-index / Iceberg puffin
        analog) and probed by :meth:`read`'s ``where_eq`` equality
        pruning — the point-lookup complement of min/max skipping,
        selective even on columns no sort order can cluster (min/max
        needs contiguous ranges; a bloom prunes on set membership).
        ``bloom_m_bits``/``bloom_k``: filter geometry (bits must be a
        multiple of 64; ~1e4 distinct values per file at the 64 KiB
        default stay under 5% false positives — oversize files degrade
        to less pruning, never to wrong results)."""
        if bloom_cols and (bloom_m_bits < 64 or bloom_m_bits % 64 or bloom_k < 1):
            raise ValueError("bloom_m_bits must be a positive multiple of 64, bloom_k >= 1")
        t = cls(spark, root)
        if t.io.exists(os.path.join(t.meta_dir, "version-hint.text")):
            raise FileExistsError(f"lake table already exists at {root}")
        t.io.makedirs(t.meta_dir)
        t.io.makedirs(t.data_dir)
        snapshot = {
            "snapshot_id": 0,
            "parent_id": None,
            "timestamp_ms": int(time.time() * 1000),
            "key_cols": key_cols,
            "num_buckets": num_buckets,
            "path_salt": path_salt,
            "schema_version": schema_version,
            "columns": columns,
            "stats_cols": stats_cols,
            "sort_cols": sort_cols,
            "bloom": (
                {"cols": bloom_cols, "m": bloom_m_bits, "k": bloom_k}
                if bloom_cols else None
            ),
            "operation": "create",
            "buckets": {},      # bucket_id(str) -> [base file paths]
            "deltas": {},       # bucket_id(str) -> [delta file paths] (merge-on-read)
            "watermarks": {},   # bucket_id(str) -> "commit:seq"
            "stats": {"rows_applied": 0, "rows_deleted": 0},
        }
        t._write_snapshot(snapshot)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        t = cls(spark, root)
        t.current()  # raises if absent
        return t

    # -- metadata -----------------------------------------------------------

    def _snap_path(self, snapshot_id: int) -> str:
        return os.path.join(self.meta_dir, f"snap-{snapshot_id:08d}.json")

    def current_snapshot_id(self) -> int:
        try:
            return int(self.io.read_text(os.path.join(self.meta_dir, "version-hint.text")).strip())
        except Exception:
            # self-heal: on object stores the hint overwrite is
            # delete+rename (not atomic), so a reader racing a commit or
            # a crash between the two ops can find it missing — MAIN
            # snapshot headers are create-exclusive and monotonic, so
            # the max main id IS the current snapshot. Branch commits
            # also live as snap-*.json but carry a "ref" mark and never
            # move the hint — skip them or healing would silently fast-
            # forward main onto a branch.
            ids = self.snapshots()
            for sid in reversed(ids):
                if "ref" not in self._raw_snapshot(sid):
                    return sid
            raise

    def snapshot(self, snapshot_id: int | None = None) -> dict:
        return self._resolve_header(self._raw_snapshot(snapshot_id))

    def _raw_snapshot(self, snapshot_id: int | None = None) -> dict:
        """The snapshot header as persisted (format-2 headers hold
        manifest REFS, not file lists)."""
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
        return json.loads(self.io.read_text(self._snap_path(snapshot_id)))

    def _raw_snapshot_if_retained(self, snapshot_id: int) -> dict | None:
        """``_raw_snapshot`` that returns None for an EXPIRED (absent)
        header but still raises on a present-but-unreadable one —
        ancestry walks must not misreport corruption or transient IO
        failure as normal history expiry. Absence is detected by
        catching FileNotFoundError from the read itself (one metadata
        RPC per ancestor, not an exists() probe plus a read)."""
        try:
            return self._raw_snapshot(snapshot_id)
        except FileNotFoundError:
            return None

    def current(self) -> dict:
        return self.snapshot()

    def snapshots(self) -> list[int]:
        out = []
        for name in self.io.listdir(self.meta_dir):
            if name.startswith("snap-") and name.endswith(".json"):
                out.append(int(name[5:-5]))
        return sorted(out)

    # -- manifest layer (Iceberg manifest-list design) ----------------------
    #
    # A snapshot header must stay O(buckets) no matter how many data
    # files the table accumulates: per-bucket file lists live in
    # separate, content-addressed manifest files
    # (``manifest-<sha1(content)>.json``), and the header maps
    # bucket -> manifest name. A commit therefore writes manifests ONLY
    # for buckets whose file list changed — untouched buckets re-use
    # the parent's manifest by name (content addressing makes the reuse
    # automatic and concurrent same-content writes idempotent). At 10^5+
    # data files this turns per-commit metadata IO from O(total files)
    # into O(touched buckets) + one O(buckets) header.

    def _manifest_name(self, files: list[str]) -> str:
        body = json.dumps(files, sort_keys=True)
        return f"manifest-{hashlib.sha1(body.encode()).hexdigest()[:20]}.json"

    def _write_manifests(self, mapping: dict[str, list[str]]) -> dict[str, str]:
        refs: dict[str, str] = {}
        for b, files in mapping.items():
            memo = self._name_by_list.get(id(files))
            if memo is not None and memo[0] is files:
                refs[b] = memo[1]  # untouched bucket: O(1), no re-hash
                continue
            name = self._manifest_name(files)
            if name not in self._manifest_cache:
                path = os.path.join(self.meta_dir, name)
                if not self.io.exists(path):
                    body: dict = {"files": files}
                    stats = {
                        f: self._file_stats_cache[f]
                        for f in files
                        if f in self._file_stats_cache
                    }
                    if stats:
                        body["stats"] = stats
                    self.io.write_text_atomic(path, json.dumps(body))
                self._manifest_cache[name] = list(files)
            self._name_by_list[id(files)] = (files, name)
            refs[b] = name
        return refs

    def _resolve_manifests(self, refs: dict[str, str]) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        for b, name in refs.items():
            if name not in self._manifest_cache:
                body = json.loads(self.io.read_text(os.path.join(self.meta_dir, name)))
                self._manifest_cache[name] = body["files"]
                self._file_stats_cache.update(body.get("stats", {}))
            lst = list(self._manifest_cache[name])
            self._name_by_list[id(lst)] = (lst, name)
            out[b] = lst
        return out

    def _collect_file_stats(self, paths: list[str], cols: list[str]) -> None:
        """Record per-file min/max for ``cols`` from parquet FOOTERS
        into the stats cache — driver-side metadata reads, O(new files)
        per commit, the same cost class as the commit's directory
        listing. Files the local pyarrow reader can't reach (object
        stores behind HadoopFileIO) or columns with non-JSON-able stats
        (timestamps, binary) are skipped: absent stats degrade to
        "never pruned", never to wrong results."""
        import pyarrow.parquet as pq

        for p in paths:
            if p in self._file_stats_cache:
                continue
            try:
                md = pq.ParquetFile(p).metadata
            except Exception:
                continue
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            # size recorded alongside the footer stats so files() is a
            # pure metadata read (no per-file stat RPC on object stores)
            fstats: dict[str, list] = {
                "__rows": md.num_rows,
                "__bytes": self.io.size(p),
            }
            for c in cols:
                i = names.get(c)
                if i is None:
                    continue
                mn = mx = None
                nulls = 0
                ok = nulls_ok = True
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(i).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    if st.has_null_count:
                        nulls += st.null_count
                    else:
                        nulls_ok = False
                    lo, hi = st.min, st.max
                    if not isinstance(lo, (str, int, float)) or isinstance(lo, bool):
                        ok = False
                        break
                    mn = lo if mn is None else min(mn, lo)
                    mx = hi if mx is None else max(mx, hi)
                if ok and mn is not None:
                    if isinstance(mn, str) and isinstance(mx, str):
                        # Iceberg truncate(16)-style bound transform:
                        # long string bounds store as a short SAFE pair
                        # — lower = 16-char prefix (<= every value),
                        # upper = prefix with the last kept char bumped
                        # one code point (> every value with that
                        # prefix). Sound even if the parquet footer
                        # itself prefix-truncated the max: the true max
                        # then shares the 16-char prefix, so the bumped
                        # bound still exceeds it. Keeps manifests
                        # O(16 chars) per bound on wide content columns
                        # AND makes string predicates drop-provable in
                        # DML triage (long raw bounds had to decline).
                        mn = _truncate_bound_lower(mn)
                        mx = _truncate_bound_upper(mx)
                        if mx is None:
                            continue  # unbounded: no finite safe upper
                    fstats[c] = [mn, mx]
                    if nulls_ok:
                        # null count enables the ALL-rows-match proof
                        # (whole-file drops in dml.delete_where): [min,
                        # max] inside the range says nothing about NULL
                        # cells, which never match a range predicate
                        fstats[f"__nulls:{c}"] = nulls
            if fstats:
                self._file_stats_cache[p] = fstats

    def _collect_file_blooms(self, paths: list[str], bloom: dict) -> None:
        """Per-file Bloom bitmaps for ``bloom["cols"]`` over NEW base
        files (Delta bloom-index / Iceberg puffin analog): ONE
        column-pruned Spark job per column over only this commit's
        files — an O(new data in that column) map-side scan plus a
        groupBy bounded by files x m/64 words, never the table — then
        the nonzero words land in the same per-file stats dicts the
        min/max harvest fills, so they persist through the
        content-addressed manifests (and ride clone/rollback/WAP)
        with zero extra metadata machinery.

        Probe side is DRIVER-ONLY: :meth:`read`'s ``where_eq`` walks
        the candidate files' word lists through the pure-Python
        xxhash64 twin (lake/xxh.py, bit-equality with Spark pinned in
        tests/test_xxh_twin.py) — a point lookup never launches a job
        to decide which files to scan.

        A file whose column is entirely NULL records an EMPTY filter —
        equality never matches NULL, so the file is definitively
        prunable (the [min,max] analog can't say that). Files the
        reader can't reach degrade to "no filter = never pruned", the
        same contract as :meth:`_collect_file_stats`. Hash scheme is
        lake/xxh.py's (xxhash64 -> mixp31 -> mod m): the prime-modulus
        mixer is what keeps the k probes independent under the
        power-of-two m."""
        m, k = bloom["m"], bloom["k"]
        all_todo = [
            p for p in paths
            if any(
                f"__bloom:{c}" not in self._file_stats_cache.get(p, {})
                for c in bloom["cols"]
            )
        ]
        if not all_todo:
            return
        # chunk the harvest: the groupBy collect is bounded by
        # files x m/64 words, so a 10^4-file ingest commit processes in
        # driver-memory-bounded slices instead of one unbounded collect
        CHUNK = 2048
        for i in range(0, len(all_todo), CHUNK):
            self._collect_file_blooms_chunk(all_todo[i:i + CHUNK], bloom, m, k)

    # a filter whose estimated false-positive rate (bit density ^ k)
    # exceeds this admits nearly everything but costs full manifest
    # weight — drop it (no filter = never pruned, the standard degrade)
    # so manifests only carry filters that earn their bytes. Density is
    # SET BITS / m (popcount), not nonzero words: words saturate ~7x
    # earlier than bits (a 64-bit word is nonzero at one bit), and a
    # word-count gate would discard excellent filters at ~140 values
    _BLOOM_MAX_FP = 0.1

    def _collect_file_blooms_chunk(
        self, todo: list[str], bloom: dict, m: int, k: int
    ) -> None:
        # identity = path suffix after /data/ (one writer task reuses
        # its part-file NAME across every _bucket=K dir, so basenames
        # collide by construction; _rel_to_data is the same identity
        # clone/vacuum use, and it strips input_file_name's scheme
        # prefix for free)
        from py4j.protocol import Py4JError
        from pyspark.errors import PySparkException

        from filters_spark.lake.xxh import _bit_mask, mixp31

        # identity mapping from input_file_name's URI spelling back to
        # the committed path: the /data/-relative suffix for normal
        # table files, plus the scheme-stripped absolute path as a
        # fallback (commit_bucket_files accepts paths OUTSIDE data/,
        # where _rel_to_data degenerates to the full differing strings)
        from urllib.parse import unquote, urlparse

        def _norm(p: str) -> str:
            q = urlparse(p)
            return unquote(q.path) if q.scheme else p

        by_key: dict[str, str] = {}
        for p in todo:
            by_key[_rel_to_data(p)] = p
            by_key[_norm(p)] = p
        for c in bloom["cols"]:
            try:
                rows = (
                    self.spark.read.schema(f"`{c}` string").parquet(*todo)
                    # NULL cells are NOT members (xxhash64(NULL) is the
                    # seed, not NULL — hashing them would both set k
                    # phantom bits and admit NULL as a match)
                    .filter(F.col(c).isNotNull())
                    .select(
                        F.input_file_name().alias("_f"),
                        F.xxhash64(F.col(c).cast("string")).alias("_h"),
                    )
                    .select(
                        "_f",
                        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_k"),
                        "_h",
                    )
                    .withColumn("_bit", F.pmod(mixp31(F.col("_h"), F.col("_k")), F.lit(m)))
                    .select(
                        "_f",
                        F.shiftright(F.col("_bit"), 6).alias("w"),
                        _bit_mask(F.col("_bit")).alias("_m"),
                    )
                    .groupBy("_f", "w")
                    .agg(F.bit_or("_m").alias("bits"))
                    .collect()
                )
            except (PySparkException, Py4JError, OSError):
                # unreadable files: no filter, never pruned. Engine/IO
                # errors ONLY — a bare Exception here once swallowed a
                # NameError and silently disabled the whole index
                continue
            words: dict[str, list] = {p: [] for p in todo}
            unmapped = 0
            for r in rows:
                p = by_key.get(_rel_to_data(r["_f"])) or by_key.get(_norm(r["_f"]))
                if p is None:
                    unmapped += 1
                else:
                    words[p].append([int(r["w"]), int(r["bits"])])
            if unmapped:
                # attribution is unreliable for this path spelling:
                # record NOTHING — an empty entry would mean "column
                # all NULL, definitively prunable" and silently drop
                # live rows from where_eq reads
                continue
            for p, wl in words.items():
                set_bits = sum(bin(b & 0xFFFFFFFFFFFFFFFF).count("1") for _, b in wl)
                if (set_bits / m) ** k > self._BLOOM_MAX_FP:
                    continue  # saturated: all cost, no pruning
                fstats = self._file_stats_cache.setdefault(p, {})
                fstats[f"__bloom:{c}"] = sorted(wl)

    def _write_snapshot_header(self, snapshot: dict) -> None:
        """Persist a snapshot header (manifests + create-exclusive
        snap-N.json) WITHOUT advancing the hint — shared by main
        commits (which then advance it) and branch commits (which move
        their ref instead)."""
        sid = snapshot["snapshot_id"]
        header = dict(snapshot)
        header["format"] = 2
        header["buckets"] = self._write_manifests(snapshot["buckets"])
        header["deltas"] = self._write_manifests(snapshot.get("deltas", {}))
        if snapshot.get("delete_vectors"):
            header["delete_vectors"] = self._write_manifests(
                snapshot["delete_vectors"]
            )
        else:
            header.pop("delete_vectors", None)
        if header.get("operation") != "delete-vectors":
            # per-DV-commit annotation: never rides into descendants
            # (every commit path builds on {**prev})
            header.pop("dv_identity", None)
        # optimistic concurrency: the snapshot file is create-exclusive —
        # a concurrent writer that committed sid first wins the rename
        self.io.write_text_atomic(
            self._snap_path(sid),
            json.dumps(header, indent=1, sort_keys=True),
            fail_if_exists=True,
        )
        # the identity memo served this commit (resolve -> carry-over ->
        # write); drop it so a long replay doesn't keep every resolved
        # list alive across thousands of commits
        self._name_by_list.clear()

    def _write_snapshot(self, snapshot: dict) -> None:
        # Branch commits claim globally-unique ids from the same
        # namespace, so "parent + 1" may be taken by a BRANCH header:
        # that is not a commit race (the branch never moves the hint) —
        # skip over it. An occupant WITHOUT the ref mark is a genuine
        # concurrent main commit and the optimistic protocol raises.
        # The dict mutates in place so callers' returned snapshot
        # carries the id that actually landed.
        while True:
            try:
                self._write_snapshot_header(snapshot)
                break
            except FileExistsError:
                if "ref" not in self._raw_snapshot(snapshot["snapshot_id"]):
                    raise
                snapshot["snapshot_id"] += 1
        self.io.write_text_atomic(
            os.path.join(self.meta_dir, "version-hint.text"),
            str(snapshot["snapshot_id"]),
        )

    # -- schema (evolution-aware) -------------------------------------------

    def payload_cols(self, snap: dict) -> list[str]:
        """The snapshot's non-key payload columns. ``columns`` is the
        canonical column set recorded at commit time (the registry's
        view); absent on legacy/fresh tables -> the default payload.
        Schema evolution APPENDS here — a commit under a widened
        registry records the union, and files written before the
        widening are read with the missing columns as NULL."""
        cols = snap.get("columns") or ["repo", "path", *DEFAULT_PAYLOAD_COLS]
        return [c for c in cols if c not in ("repo", "path")]

    @staticmethod
    def _base_ddl(payload: list[str]) -> str:
        pay = ", ".join(f"`{c}` string" for c in payload)
        return (
            "repo string, path string, commit string, event_seq long, "
            f"{pay}, content_sha string"
        )

    @staticmethod
    def _delta_ddl(payload: list[str]) -> str:
        pay = ", ".join(f"`{c}` string" for c in payload)
        return (
            "repo string, path string, commit string, event_seq long, "
            f"{pay}, op string"
        )

    # -- read ---------------------------------------------------------------

    @staticmethod
    def _file_may_match(stats: dict | None, where: tuple) -> bool:
        """Range-overlap test against a file's recorded [min, max];
        a file without stats for the column can never be skipped."""
        col, lo, hi = where
        if not stats or col not in stats:
            return True
        mn, mx = stats[col]
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
        return True

    @staticmethod
    def _bloom_word_masks(value, m: int, k: int) -> list[tuple[int, int]]:
        """The k (word_idx, bit_mask) probes for ``value`` — the pure-
        Python twin of _collect_file_blooms' Spark-side bit math
        (xxh64 twin == Spark xxhash64 pinned in tests/test_xxh_twin.py;
        Python's ``%`` on the SIGNED twin value == Spark's pmod)."""
        from filters_spark.lake.xxh import _MIX_MULT, _P31, xxh64

        hp = xxh64(str(value).encode("utf-8")) % _P31
        out = []
        for kk in range(k):
            bit = ((hp + 1) * (2 * kk + _MIX_MULT)) % _P31 % m
            out.append((bit >> 6, 1 << (bit & 63)))
        return out

    @classmethod
    def _file_bloom_may_contain(
        cls, stats: dict | None, bloom: dict | None, where_eq: tuple
    ) -> bool:
        """Definitive-absence test against a file's recorded bloom
        words. A missing filter (column not in bloom_cols, file
        unreadable at harvest, table predates the config) can never
        skip; an EMPTY filter (all-NULL column in that file) always
        does. Stored words are signed 64-bit (Spark longs) — masked to
        unsigned before the bit test."""
        col, value = where_eq
        key = f"__bloom:{col}"
        if not bloom or col not in bloom["cols"] or not stats or key not in stats:
            return True
        words = {w: b & 0xFFFFFFFFFFFFFFFF for w, b in stats[key]}
        return all(
            words.get(w, 0) & mask
            for w, mask in cls._bloom_word_masks(value, bloom["m"], bloom["k"])
        )

    def _file_passes(
        self, f: str, snap: dict, where: tuple | None, where_eq: tuple | None
    ) -> bool:
        """Combined file-skipping test for a delta-free bucket's base
        file: range stats against ``where``, range stats at
        [value, value] AND bloom definitive-absence against
        ``where_eq``. Missing stats/filters always keep the file.

        ``where_eq`` BLOOM pruning engages only for ``str`` probe
        values: the harvest hashed the string column's own bytes, and
        any non-string probe compares under Spark's numeric/boolean
        coercion in the row filter (``'05' == 5`` is TRUE numerically
        but hashes differently) — a bloom miss there would be a false
        prune. The min/max range test additionally admits non-bool
        ints (int stats from long columns compare exactly); a
        probe/stats type mismatch declines instead of raising. All
        other probe types skip file pruning; the row filter always
        still applies."""
        stats = self._file_stats_cache.get(f)
        if where is not None and not self._file_may_match(stats, where):
            return False
        if where_eq is not None:
            col, value = where_eq
            if isinstance(value, str) or (
                isinstance(value, int) and not isinstance(value, bool)
            ):
                try:
                    if not self._file_may_match(stats, (col, value, value)):
                        return False
                except TypeError:
                    pass  # probe/stats type mismatch: cannot prune
            if isinstance(value, str) and not self._file_bloom_may_contain(
                stats, snap.get("bloom"), where_eq
            ):
                return False
        return True

    def read(
        self,
        snapshot_id: int | None = None,
        buckets: Iterable[int] | None = None,
        where: tuple | None = None,
        where_eq: tuple | None = None,
        wap_id: str | None = None,
        _snap: dict | None = None,
    ) -> DataFrame | None:
        """Read the table at a snapshot (time travel); optionally only
        the given buckets (bucket pruning — the physical analog of
        Iceberg partition pruning). Returns None when empty.

        ``where=(col, lo, hi)`` (inclusive bounds, None = unbounded)
        filters rows to the range AND, for buckets with no pending
        deltas, skips base files whose manifest-recorded min/max
        exclude it entirely (Iceberg-style data skipping; selective
        when the table was created with ``sort_cols`` clustering).
        Buckets that DO carry deltas are read in full and filtered
        after the merge: value-pruning a merge-on-read bucket is
        unsound — dropping the file holding a key's winning version
        (e.g. an out-of-range update or a delete tombstone) would
        expose a stale in-range row as the winner.

        ``where_eq=(col, value)`` is the EQUALITY twin: rows filtered
        to ``col = value``, files pruned (same delta-free soundness
        rule) through BOTH the min/max range test at [value, value]
        and, when the table records ``bloom_cols``, the per-file Bloom
        filter — definitive absence drops the file even where min/max
        can't (unclustered columns, all-NULL files). Composes with
        ``where``.

        Merge-on-read: buckets that carry delta files (commit_deltas)
        are merged lazily — base ∪ deltas, one last-writer-wins window
        keyed on the physical ``_bucket`` partitioning, delete
        tombstones dropped. Buckets without deltas stay a bare scan.

        ``wap_id`` reads a staged (write-audit-publish) commit instead —
        the audit step's view of what publishing would make current."""
        if wap_id is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id or wap_id, not both")
            snap = self.wap_snapshot(wap_id)
        elif _snap is not None:
            # callers that already resolved the snapshot (read_repo /
            # lookup need its bucketing params to prune) pass it
            # through, saving a second header read + manifest resolve
            snap = _snap
        else:
            snap = self.snapshot(snapshot_id)
        if where_eq is not None and where_eq[1] is None:
            raise ValueError("where_eq value may not be None (use an IS NULL "
                             "filter on the returned frame; NULL never equals)")
        wanted = None if buckets is None else {str(b) for b in buckets}
        # base files split by whether their bucket carries deltas: only
        # delta-carrying buckets need the LWW fold; the rest stay bare
        # scans (no shuffle) and union onto the merged slice below. At
        # scale this is the difference between folding the whole table
        # and folding only the ingested-since-compaction slice.
        base_files: list[str] = []      # delta-free buckets
        base_merge_files: list[str] = []  # buckets with pending deltas
        for b, fl in snap["buckets"].items():
            if wanted is None or b in wanted:
                if snap.get("deltas", {}).get(b):
                    base_merge_files.extend(fl)
                    continue
                if where is not None or where_eq is not None:
                    fl = [
                        f for f in fl
                        if self._file_passes(f, snap, where, where_eq)
                    ]
                base_files.extend(fl)
        delta_files: list[str] = []
        for b, fl in snap.get("deltas", {}).items():
            if wanted is None or b in wanted:
                delta_files.extend(fl)
        dv_files: list[str] = []
        for b, fl in snap.get("delete_vectors", {}).items():
            if wanted is None or b in wanted:
                dv_files.extend(fl)

        # _bucket is recomputed from (repo, path) — a pure function of
        # the key and the table params — instead of directory-based
        # partition discovery: manifest file lists legitimately span
        # several snap-*/delta-* parent dirs, which discovery rejects
        # as conflicting structures.
        #
        # Reads declare the snapshot's EXPLICIT schema: files written
        # before a mid-stream column ADD lack the new columns, and the
        # declared schema makes the parquet reader fill them with NULL
        # (Iceberg schema-evolution read semantics) — schema inference
        # would instead fail or silently drop the column depending on
        # which file got sampled. Time travel keeps each snapshot's own
        # column set.
        payload = self.payload_cols(snap)
        bkt = bucket_expr(
            F.col("repo"), F.col("path"), snap["num_buckets"], snap["path_salt"]
        ).alias("_bucket")

        def _base_scan(files: list[str]) -> DataFrame:
            df = self.spark.read.schema(self._base_ddl(payload)).parquet(*files)
            if dv_files:
                # deletion vectors (Iceberg v2 position-delete
                # semantics): (file, position) pairs marking base rows
                # deleted — an anti-join on the scan instead of a
                # bucket rewrite. Base files keep their min/max pruning
                # (a DV only REMOVES rows, so skipping a file can never
                # expose a deleted row); pruned files' DV entries
                # simply never match.
                df = self._apply_delete_vectors(df, dv_files)
            return df.select(
                "repo", "path", "commit", "event_seq", *payload,
                "content_sha", bkt,
            )

        base = _base_scan(base_files) if base_files else None
        if not delta_files:
            return self._apply_where(base, where, where_eq)
        deltas = self.spark.read.schema(self._delta_ddl(payload)).parquet(*delta_files).select(
            "repo", "path", "commit", "event_seq", *payload, "op", bkt,
            watermark_str(F.col("commit"), F.col("event_seq")).alias("_wm"),
        )
        if base_merge_files:
            base_ops = _base_scan(base_merge_files).select(
                "repo", "path", "commit", "event_seq", *payload,
                F.lit("K").alias("op"), "_bucket",
                watermark_str(F.col("commit"), F.col("event_seq")).alias("_wm"),
            )
            merged_src = base_ops.unionByName(deltas)
        else:
            merged_src = deltas
        merged = lww_merge(merged_src, payload)
        out = base.unionByName(merged) if base is not None else merged
        return self._apply_where(out, where, where_eq)

    @staticmethod
    def _apply_where(
        df: DataFrame | None,
        where: tuple | None,
        where_eq: tuple | None = None,
    ) -> DataFrame | None:
        if df is None:
            return df
        if where is not None:
            col, lo, hi = where
            c = F.col(col)
            if lo is not None:
                df = df.filter(c >= lo)
            if hi is not None:
                df = df.filter(c <= hi)
        if where_eq is not None:
            df = df.filter(F.col(where_eq[0]) == F.lit(where_eq[1]))
        return df

    _DV_BROADCAST_BYTES = 32 * 1024 * 1024

    def _apply_delete_vectors(
        self, base: DataFrame, dv_files: list[str]
    ) -> DataFrame:
        """Anti-join ``base`` (a bare parquet scan, pre-select) against
        the position-delete set. Row identity is the parquet-native
        (file, row position) via the ``_metadata`` hidden column —
        stable because a base file is immutable once committed. File
        paths compare RELATIVE to the data dir (``_rel_to_data``
        semantics), the same spelling-independent identity vacuum and
        the changefeed use. DV sets are O(deleted rows) of two narrow
        columns: broadcast below the size threshold (metadata-known,
        no job), shuffled anti-join above it."""
        dv = (
            self.spark.read.schema("_relfile string, _pos long")
            .parquet(*dv_files)
            .select(
                F.col("_relfile").alias("__dv_relfile"),
                F.col("_pos").alias("__dv_pos"),
            )
        )
        if sum(self.io.size(f) for f in dv_files) <= self._DV_BROADCAST_BYTES:
            dv = F.broadcast(dv)
        base = base.withColumns({
            "__dv_relfile": F.substring_index(
                F.col("_metadata.file_path"), "/data/", -1
            ),
            "__dv_pos": F.col("_metadata.row_index"),
        })
        return base.join(dv, ["__dv_relfile", "__dv_pos"], "left_anti").drop(
            "__dv_relfile", "__dv_pos"
        )

    def prune_report(
        self,
        where: tuple | None = None,
        snapshot_id: int | None = None,
        buckets: Iterable[int] | None = None,
        where_eq: tuple | None = None,
    ) -> dict:
        """Observability twin of :meth:`read`'s data skipping: how many
        base files the ``where`` range / ``where_eq`` equality (min/max
        + bloom) would actually scan. Drives the data-skipping tests
        and capacity planning ("is the clustering selective enough?")
        without running a query."""
        if where is None and where_eq is None:
            raise ValueError("pass where and/or where_eq")
        snap = self.snapshot(snapshot_id)
        wanted = None if buckets is None else {str(b) for b in buckets}
        total = kept = 0
        unprunable: list[int] = []
        for b, fl in snap["buckets"].items():
            if wanted is not None and b not in wanted:
                continue
            total += len(fl)
            if snap.get("deltas", {}).get(b):
                kept += len(fl)
                unprunable.append(int(b))
                continue
            kept += sum(
                1 for f in fl if self._file_passes(f, snap, where, where_eq)
            )
        return {
            "files_total": total,
            "files_read": kept,
            "files_skipped": total - kept,
            "buckets_with_deltas": sorted(unprunable),
        }

    def metadata_row_count(
        self,
        snapshot_id: int | None = None,
        buckets: Iterable[int] | None = None,
    ) -> int | None:
        """Exact ``count(*)`` from manifest-recorded per-file row
        counts — no Spark job, O(metadata), the Iceberg metadata-only
        count. Returns None (caller must fall back to ``read().count()``)
        when any wanted bucket carries deltas (the read-time LWW fold
        drops superseded rows and tombstones, so file counts over-count)
        or has files without recorded counts (pre-stats commits)."""
        snap = self.snapshot(snapshot_id)
        wanted = None if buckets is None else {str(b) for b in buckets}
        total = 0
        for b, fl in snap["buckets"].items():
            if wanted is not None and b not in wanted:
                continue
            if snap.get("deltas", {}).get(b):
                return None
            for f in fl:
                st = self._file_stats_cache.get(f)
                if st is None or "__rows" not in st:
                    return None
                total += st["__rows"]
            # delete vectors subtract exactly: positions are unique per
            # (file, pos) by construction (a second sweep scans with
            # prior vectors applied, so it can never re-mark a row)
            for f in snap.get("delete_vectors", {}).get(b, []):
                st = self._file_stats_cache.get(f)
                if st is None or "__rows" not in st:
                    return None
                total -= st["__rows"]
        for b, fl in snap.get("deltas", {}).items():
            if fl and (wanted is None or b in wanted) and b not in snap["buckets"]:
                return None
        return total

    def snapshot_as_of(self, ts_ms: int) -> int:
        """Snapshot id current AS OF a wall-clock time (Iceberg
        ``FOR TIMESTAMP AS OF``): the newest main-ancestry snapshot
        that had BECOME CURRENT by ``ts_ms``. A snapshot becomes
        current at its own commit time — except branch snapshots later
        adopted by a ``fast_forward``, which became main-visible only
        when the ADOPTION committed (resolving them by their own write
        time would expose ingest data no main reader could see then).
        Raises when ``ts_ms`` predates retained history (the snapshot
        that was current then has been expired, or the table didn't
        exist).

        On a branch view (:class:`~filters_spark.lake.branch.BranchTable`)
        the walk starts at the BRANCH head, and the branch's own
        ref-marked snapshots became current-to-branch-readers at their
        own commit time — only OTHER refs' snapshots (adopted main
        ancestry) defer to the downstream adoption."""
        # the view's own ref: None on the main handle, the branch name
        # on a BranchTable — its snapshots are current at commit time
        own_ref = getattr(self, "branch", None)
        sid: int | None = self.current_snapshot_id()
        became_current: int | None = None
        while sid is not None:
            raw = self._raw_snapshot_if_retained(sid)
            if raw is None:
                break
            if raw.get("ref") is None or raw.get("ref") == own_ref:
                became_current = raw["timestamp_ms"]
            # ref-marked ancestor: visible only since the downstream
            # adoption — keep propagating that adoption's timestamp
            if became_current is not None and became_current <= ts_ms:
                return sid
            sid = raw.get("parent_id")
        raise ValueError(
            f"no retained snapshot at or before timestamp {ts_ms} "
            "(expired history or pre-creation time)"
        )

    def history(self) -> list[dict]:
        """The Iceberg ``history`` metadata table: one row per RETAINED
        snapshot, id-ordered, flagged with whether the snapshot is
        reachable from the current head via the parent walk
        (``is_current_ancestor``). Note this table's ``rollback``
        APPENDS a restoring snapshot whose parent is the superseded
        head — history stays linear, so rolled-back snapshots REMAIN
        ancestors; the flag is False only for branch-exclusive
        snapshots (and anything orphaned by hand-editing metadata).
        Driver-side metadata only — no Spark job."""
        on_main: set[int] = set()
        sid: int | None = self.current_snapshot_id()
        while sid is not None:
            on_main.add(sid)
            raw = self._raw_snapshot_if_retained(sid)
            if raw is None:
                break
            sid = raw.get("parent_id")
        out = []
        for s in self.snapshots():
            raw = self._raw_snapshot(s)
            out.append(
                {
                    "snapshot_id": s,
                    "parent_id": raw.get("parent_id"),
                    "timestamp_ms": raw["timestamp_ms"],
                    "operation": raw.get("operation", "overwrite"),
                    "is_current_ancestor": s in on_main,
                    "ref": raw.get("ref"),
                }
            )
        return out

    def files(self, snapshot_id: int | None = None) -> list[dict]:
        """The Iceberg ``files`` metadata table: one row per live data
        file of a snapshot (base and delta), with bucket, kind, size and
        any manifest-recorded stats (row counts, per-column min/max).
        Driver-side metadata only — capacity planning, small-file
        monitoring and pruning diagnostics read THIS, never a scan."""
        snap = self.snapshot(snapshot_id)
        out = []
        for kind in ("buckets", "deltas"):
            for b, fl in snap.get(kind, {}).items():
                for f in fl:
                    st = dict(self._file_stats_cache.get(f) or {})
                    size = st.pop("__bytes", None)
                    out.append(
                        {
                            "bucket": int(b),
                            "kind": "base" if kind == "buckets" else "delta",
                            "path": f,
                            # manifest-recorded size when stats were
                            # harvested at commit; a per-file stat only
                            # as fallback (pre-stats commits)
                            "size_bytes": self.io.size(f) if size is None else size,
                            "rows": st.pop("__rows", None),
                            "stats": st or None,
                        }
                    )
        return out

    def partitions(self, snapshot_id: int | None = None) -> list[dict]:
        """The Iceberg ``partitions`` metadata table: one row per live
        bucket of a snapshot — file/row/byte totals (manifest-recorded;
        rows None when any file predates stats harvesting), pending
        delta backlog and the bucket's watermark. Driver-side metadata
        only, the per-PARTITION rollup of :meth:`files`: compaction
        scheduling ("which buckets carry ripe delta backlogs"), skew
        monitoring ("is one bucket 100x the others") and watermark
        audits read THIS, never a scan. Note: delta rows over-count
        live rows until compaction folds them (read-time LWW drops
        superseded versions and tombstones) — same caveat as
        :meth:`metadata_row_count`, which declines instead."""
        snap = self.snapshot(snapshot_id)
        out = []
        all_b = sorted(
            set(snap["buckets"]) | set(snap.get("deltas", {})), key=int
        )
        for b in all_b:
            row = {
                "bucket": int(b), "files": 0, "rows": 0, "bytes": 0,
                "delta_files": 0, "delta_rows": 0, "delta_bytes": 0,
                "watermark": snap["watermarks"].get(b, WATERMARK_ZERO),
            }
            for kind, fk, rk, bk in (
                ("buckets", "files", "rows", "bytes"),
                ("deltas", "delta_files", "delta_rows", "delta_bytes"),
            ):
                for f in snap.get(kind, {}).get(b, []):
                    st = self._file_stats_cache.get(f) or {}
                    row[fk] += 1
                    if row[rk] is not None:
                        r = st.get("__rows")
                        row[rk] = None if r is None else row[rk] + r
                    if row[bk] is not None:
                        sz = st.get("__bytes")
                        row[bk] = None if sz is None else row[bk] + sz
            out.append(row)
        return out

    def rollback(self, snapshot_id: int) -> dict:
        """Restore the table to a prior snapshot's state as a NEW
        commit (Iceberg rollback semantics): metadata-only — the new
        header re-references the target's manifests (content addressing
        makes that free), history stays intact, and ``changes()``/time
        travel continue to work across the rollback point. The target
        snapshot must not have been expired.

        The rollback is a FORWARD revert event, not a history rewrite:
        watermarks are NOT reset to the target's — they are bumped one
        seq past the pre-rollback global max, so (a) re-sending the
        undone WAL range is deduped exactly like any replay (corrected
        data must arrive under NEW commits — the WAL is immutable
        history), and (b) the revert rows :meth:`changes` emits for
        this snapshot (identity = max undone position + 1) sit
        at-or-below the new watermark, so no future admitted event can
        ever collide with or lose to them in a downstream LWW fold.
        Like :meth:`rescale`, run on QUIESCED ingest: the global-max
        bump means a bucket behind the global watermark could see
        genuinely-new in-flight events at older commits dropped."""
        target = self.snapshot(snapshot_id)
        prev = self.current()
        wms = dict(prev.get("watermarks") or {})
        if wms:
            g = max(wms.values())
            g_commit, g_seq = g.split(":")
            bumped = f"{g_commit}:{int(g_seq) + 1:020d}"
            wms = {b: max(w, bumped) for b, w in wms.items()}
        snapshot = {
            **prev,
            "snapshot_id": prev["snapshot_id"] + 1,
            "parent_id": prev["snapshot_id"],
            "timestamp_ms": int(time.time() * 1000),
            "operation": "rollback",
            "rollback_of": snapshot_id,  # changes() derives the
            # revert emission (which keys revert, to what) from this
            "added_files": [],
            "schema_version": target["schema_version"],
            "columns": target.get("columns"),
            "buckets": target["buckets"],
            "deltas": target.get("deltas", {}),
            "watermarks": wms,
            "stats": target["stats"],
            # bucket layout + stats config travel WITH the manifests:
            # rolling back across a rescale() must restore the layout
            # the target's bucket->file map was built for, or
            # lookup()/ingest would compute bucket ids against the
            # wrong modulus and read/write the wrong buckets
            "num_buckets": target["num_buckets"],
            "path_salt": target["path_salt"],
            "stats_cols": target.get("stats_cols"),
            "sort_cols": target.get("sort_cols"),
            "bloom": target.get("bloom"),
        }
        self._write_snapshot(snapshot)
        return snapshot

    def set_watermarks(self, watermarks: dict, operation: str = "set-watermarks") -> dict:
        """Metadata-only commit that REPLACES the per-bucket watermark
        map (data files untouched). Unlike every ingest commit — which
        advances watermarks monotonically via max() — this can move a
        bucket's watermark DOWN, re-admitting event positions the
        exactly-once filter would otherwise drop as replays.

        That is deliberate and dangerous in equal measure: the one
        legitimate caller is :meth:`CDCEngine.bootstrap
        <filters_spark.engine.cdc.CDCEngine.bootstrap>`, which seeds an
        empty table from a fuzzy source snapshot and must hand the
        binlog tail a LOW watermark (the position at/below which every
        change is already reflected in the snapshot) rather than the
        per-bucket max the seeding commit recorded — the overlap window
        between the two is reconciled row-by-row by the LWW merge, not
        by the watermark gate. Run on quiesced ingest; lowering a
        watermark under concurrent appliers re-admits their in-flight
        replays.

        ``watermarks``: full replacement map ``{bucket_id(str|int):
        "commit:seq"}`` — buckets absent from the map end up with no
        watermark (WATERMARK_ZERO semantics)."""
        prev = self.current()
        snapshot = {
            **prev,
            "snapshot_id": prev["snapshot_id"] + 1,
            "parent_id": prev["snapshot_id"],
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "added_files": [],
            "watermarks": {str(b): w for b, w in watermarks.items()},
        }
        self._write_snapshot(snapshot)
        return snapshot

    def read_repo(
        self,
        repo: str,
        snapshot_id: int | None = None,
        where: tuple | None = None,
    ) -> DataFrame | None:
        """All current rows of ONE repo — the "give me this repository"
        serving read — scanning at most ``path_salt`` of the table's
        buckets instead of all of them. The path-salting that spreads a
        hot repo's WRITE load over ``path_salt`` buckets bounds its
        READ footprint identically; the candidate bucket set is
        enumerated driver-side from the salt domain
        (:func:`filters_spark.lake.xxh.buckets_for_repo`, bit-equality
        with ``bucket_expr`` pinned in tests), so completeness holds by
        construction. At 512 buckets and the default salt of 16 that is
        a 32× scan reduction before the row filter runs. Returns None
        on an empty table; a repo absent from a populated table is an
        EMPTY DataFrame (its candidate buckets may hold no files at
        all — that proves absence, not table emptiness)."""
        from filters_spark.lake.xxh import buckets_for_repo

        snap = self.snapshot(snapshot_id)
        cand = buckets_for_repo(repo, snap["num_buckets"], snap["path_salt"])
        df = self.read(snapshot_id, buckets=cand, where=where, _snap=snap)
        if df is None:
            empty_table = not any(snap["buckets"].values()) and not any(
                snap.get("deltas", {}).values()
            )
            if empty_table:
                return None
            # candidate buckets hold no files on a populated table:
            # the repo is provably absent — keep the contract (empty
            # frame, read-shaped schema) without scanning anything
            df = self.spark.createDataFrame(
                [], self._base_ddl(self.payload_cols(snap))
            ).withColumn("_bucket", F.lit(cand[0]).cast("int"))
        return df.filter(F.col("repo") == repo)

    def lookup(
        self,
        repo: str,
        path: str,
        snapshot_id: int | None = None,
    ) -> DataFrame | None:
        """Point-read one key's current row — the primary-key lookup a
        CDC-serving layer needs ("what is this file's latest state?")
        without scanning the table.

        The key's bucket is a pure function of (repo, path) and the
        table's bucketing params, so the read prunes to that ONE
        bucket's manifest file list (1/num_buckets of the data, plus
        its deltas under merge-on-read) before the key filter runs —
        the bucketed-table analog of an index lookup. The bucket id is
        computed driver-side by :func:`filters_spark.lake.xxh.bucket_of`
        (a pure-Python twin of ``bucket_expr``, bit-equality pinned in
        tests/test_xxh_twin.py) — no one-row Spark job per lookup.

        When the table records ``path`` in ``stats_cols``, the read
        additionally skips base files whose min/max path range excludes
        the key (``where=(path, path, path)``) — sound only for
        delta-free buckets, which :meth:`read` already enforces.
        Returns None on an empty table; an absent key is an empty
        DataFrame."""
        snap = self.snapshot(snapshot_id)
        b = bucket_of(repo, path, snap["num_buckets"], snap["path_salt"])
        where = ("path", path, path) if "path" in (snap.get("stats_cols") or []) else None
        df = self.read(snapshot_id, buckets=[b], where=where, _snap=snap)
        if df is None:
            empty_table = not any(snap["buckets"].values()) and not any(
                snap.get("deltas", {}).values()
            )
            if empty_table:
                return None
            # every base file in the key's bucket was stats-pruned: the
            # key is provably absent — keep the contract (empty frame,
            # read-shaped schema) without scanning anything
            df = self.spark.createDataFrame(
                [], self._base_ddl(self.payload_cols(snap))
            ).withColumn("_bucket", F.lit(b).cast("int"))
        return df.filter((F.col("repo") == repo) & (F.col("path") == path))

    # -- write --------------------------------------------------------------

    def commit_buckets(
        self,
        df: DataFrame,
        touched_buckets: list[int],
        new_watermarks: dict[int, str],
        stats: dict | None = None,
        schema_version: int | None = None,
        columns: list[str] | None = None,
        operation: str = "overwrite",
    ) -> dict:
        """Write ``df`` (which must contain ``_bucket`` and exactly the
        rows for ``touched_buckets``) as the new content of those
        buckets; untouched buckets carry over. Returns the new snapshot.

        ``df`` should already be partitioned by ``_bucket`` (the engine
        repartitions before merge) so the write is shuffle-free.
        """
        prev = self.current()
        sid = prev["snapshot_id"] + 1
        out_dir = os.path.join(self.data_dir, f"snap-{sid:08d}")
        new_files = self._write_bucket_data(
            df, out_dir, touched_buckets, prev.get("sort_cols")
        )
        return self.commit_bucket_files(
            new_files, new_watermarks, stats=stats,
            schema_version=schema_version, columns=columns, operation=operation,
            # the data write above can take minutes: the conflict basis
            # is the head the merge was computed against, not whatever
            # head exists when the metadata call finally runs
            basis_snapshot_id=prev["snapshot_id"],
        )

    def _write_bucket_data(
        self,
        df: DataFrame,
        out_dir: str,
        touched_buckets: list[int],
        sort_cols: list[str] | None,
    ) -> dict[str, list[str]]:
        """Write ``df`` partitioned by ``_bucket`` under ``out_dir`` and
        return the per-bucket file lists (driver-side listing of a
        metadata-scale directory tree)."""
        if sort_cols:
            # cluster inside each bucket so per-file min/max ranges are
            # tight — partitionBy splits a sorted task stream into
            # per-bucket files preserving order, so each data file is
            # sorted by sort_cols (no extra shuffle: sortWithinPartitions
            # is a per-partition sort over the existing partitioning)
            df = df.sortWithinPartitions("_bucket", *sort_cols)
        (
            df.write.mode("error")
            .partitionBy("_bucket")
            .parquet(out_dir)
        )
        new_files: dict[str, list[str]] = {}
        for b in touched_buckets:
            bdir = os.path.join(out_dir, f"_bucket={b}")
            new_files[str(b)] = sorted(
                os.path.join(bdir, f)
                for f in self.io.listdir(bdir)  # [] when bucket became empty
                if f.endswith(".parquet")
            )
        return new_files

    def commit_bucket_files(
        self,
        new_files: dict[str, list[str]],
        new_watermarks: dict[int, str],
        stats: dict | None = None,
        schema_version: int | None = None,
        columns: list[str] | None = None,
        operation: str = "overwrite",
        retry_conflicts: int = 0,
        basis_snapshot_id: int | None = None,
        basis_raw: dict | None = None,
    ) -> dict:
        """Metadata-only half of :meth:`commit_buckets`: commit
        ALREADY-WRITTEN data files (``{bucket: [paths]}``; an empty list
        removes the bucket) as the new content of those buckets.
        Enables write-then-commit pipelines — e.g. the engine's grouped
        replay computes every batch's post-state in one Spark job, then
        finalizes the strictly-ordered commits through here with zero
        further executor work.

        ``retry_conflicts``: optimistic-concurrency retries (Iceberg
        commit-retry semantics). When a concurrent writer wins the
        create-exclusive header race, the commit REBASES onto the new
        head and retries — but only after validating the racer did not
        touch any of OUR buckets (base or delta refs unchanged) and did
        not rescale the table (our ``_bucket`` ids would be stale).
        A genuine overlap raises immediately: a CoW rewrite computed
        against a stale bucket state would silently drop the racer's
        rows. With 0 retries (default) any mid-call race raises; a
        pre-call racer declared via ``basis_snapshot_id`` still rebases
        when provably disjoint (the validation, not the retry count, is
        the safety).

        ``basis_snapshot_id``: the head the caller COMPUTED its new
        bucket contents against. Pass it whenever compute and commit
        are separated by real work (``commit_buckets`` threads its own
        read basis through) — a racer landing in that window is then
        caught by the disjointness check even on the FIRST attempt;
        without it the basis defaults to the head at call time and a
        pre-call racer is invisible.

        ``basis_raw``: a SYNTHETIC raw header to validate against
        instead of a stored snapshot — for strictly-ordered commit
        sequences (the engine's grouped replay) where the caller's
        compute basis is "snapshot S plus my own already-finalized
        commits": the caller overlays the bucket/delta refs it
        committed onto S's raw header, so a FOREIGN commit to any of
        its buckets still trips the disjointness check while its own
        prior commits don't. Mutually exclusive with
        ``basis_snapshot_id``.

        Soundness: each attempt PINS the head it builds on (sid read →
        raw header → build), and the create-exclusive write of sid+1
        loses to any racer that landed after the pin — so every rebase
        is validated against the exact basis it replaced, no
        read-validate-build window."""
        if basis_raw is not None and basis_snapshot_id is not None:
            raise ValueError("pass basis_raw OR basis_snapshot_id, not both")
        prev_raw = (
            basis_raw
            if basis_raw is not None
            else self._raw_snapshot(basis_snapshot_id)  # compute basis
        )
        for attempt in range(int(retry_conflicts) + 1):
            sid = self.current_snapshot_id()
            head_raw = self._raw_snapshot(sid)
            if head_raw["snapshot_id"] != prev_raw["snapshot_id"]:
                self._check_disjoint(prev_raw, head_raw, set(new_files))
            snapshot = self._next_bucket_snapshot(
                new_files, new_watermarks, stats=stats,
                schema_version=schema_version, columns=columns, operation=operation,
                prev=self._resolve_header(head_raw),
            )
            try:
                self._write_snapshot(snapshot)
                return snapshot
            except FileExistsError:
                if attempt >= int(retry_conflicts):
                    raise
        raise AssertionError("unreachable")

    def _check_disjoint(self, prev_raw: dict, head_raw: dict, touched: set) -> None:
        """Raise unless the head that beat us is DISJOINT from our
        commit: same bucket layout, and none of our touched buckets'
        base/delta manifest refs moved since the compute basis."""
        if (
            head_raw["num_buckets"] != prev_raw["num_buckets"]
            or head_raw["path_salt"] != prev_raw["path_salt"]
        ):
            raise ValueError(
                "concurrent rescale: bucket ids in this commit are stale — recompute"
            )

        def ref(raw: dict, b: str):
            return (raw["buckets"].get(b), raw.get("deltas", {}).get(b))

        overlap = [b for b in touched if ref(head_raw, b) != ref(prev_raw, b)]
        if overlap:
            raise ValueError(
                f"concurrent writer modified bucket(s) {sorted(overlap)}; "
                "this commit was computed against a stale state — recompute"
            )

    def _resolve_header(self, raw: dict) -> dict:
        """Raw header -> resolved snapshot (manifest refs -> file
        lists), without re-reading the header from disk."""
        snap = dict(raw)
        if snap.get("format") == 2:
            snap["buckets"] = self._resolve_manifests(snap["buckets"])
            snap["deltas"] = self._resolve_manifests(snap.get("deltas", {}))
            if snap.get("delete_vectors"):
                snap["delete_vectors"] = self._resolve_manifests(
                    snap["delete_vectors"]
                )
            snap.pop("format", None)
        return snap

    def _next_bucket_snapshot(
        self,
        new_files: dict[str, list[str]],
        new_watermarks: dict[int, str],
        stats: dict | None = None,
        schema_version: int | None = None,
        columns: list[str] | None = None,
        operation: str = "overwrite",
        prev: dict | None = None,
    ) -> dict:
        """Build (but do not persist) the snapshot dict a bucket-rewrite
        commit of ``new_files`` on top of ``prev`` (default: the current
        head) would produce; also harvests file footer stats when the
        table tracks ``stats_cols``. Shared by
        :meth:`commit_bucket_files` (persist + advance head) and
        :meth:`stage_buckets` (persist as a staged write-audit-publish
        header, head unchanged)."""
        if prev is None:
            prev = self.current()
        sid = prev["snapshot_id"] + 1
        if prev.get("stats_cols"):
            self._collect_file_stats(
                [f for fl in new_files.values() for f in fl], prev["stats_cols"]
            )
        if prev.get("bloom"):
            # base files only: delta-carrying buckets are exempt from
            # value pruning anyway (read() soundness rule), so delta
            # commits never pay the bloom scan
            self._collect_file_blooms(
                [f for fl in new_files.values() for f in fl], prev["bloom"]
            )
        buckets = dict(prev["buckets"])
        deltas = dict(prev.get("deltas", {}))
        dvs = dict(prev.get("delete_vectors", {}))
        for b, fl in new_files.items():
            if fl:
                buckets[b] = fl
            else:
                buckets.pop(b, None)
            # the rewrite IS the merged state of base ∪ deltas with
            # delete vectors applied — any delta or DV files for this
            # bucket are now folded in
            deltas.pop(b, None)
            dvs.pop(b, None)
        watermarks = dict(prev["watermarks"])
        for b, wm in new_watermarks.items():
            old = watermarks.get(str(b), WATERMARK_ZERO)
            watermarks[str(b)] = max(old, wm)

        snapshot = {
            **prev,
            "snapshot_id": sid,
            "parent_id": prev["snapshot_id"],
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "added_files": [],
            "schema_version": schema_version or prev["schema_version"],
            "columns": columns or prev["columns"],
            "buckets": buckets,
            "deltas": deltas,
            "delete_vectors": dvs,
            "watermarks": watermarks,
            "stats": stats or prev["stats"],
        }
        # per-snapshot annotation of the delete-vectors commit itself;
        # must not ride into descendants via the {**prev} carry
        snapshot.pop("dv_identity", None)
        return snapshot

    def commit_deltas(
        self,
        df: DataFrame,
        touched_buckets: list[int],
        new_watermarks: dict[int, str],
        stats: dict | None = None,
        schema_version: int | None = None,
        columns: list[str] | None = None,
    ) -> dict:
        """Merge-on-read commit: append ``df`` (the batch's deduped
        events, including ``op='D'`` tombstones, already keyed by
        ``_bucket``) as DELTA files of the touched buckets. The write
        is O(batch), not O(touched table) — the LWW fold happens at
        ``read()`` / ``compact()`` time.

        At 10^10-event scale this is the ingest path: copy-on-write
        rewrites every touched bucket per batch (quadratic total IO as
        the table grows); delta commits keep ingest IO linear and defer
        the rewrite to compaction, amortized across many batches."""
        prev = self.current()
        sid = prev["snapshot_id"] + 1
        out_dir = os.path.join(self.data_dir, f"delta-{sid:08d}")
        new_files = self._write_delta_data(df, out_dir, touched_buckets)
        return self.commit_delta_files(
            new_files, new_watermarks, stats=stats,
            schema_version=schema_version, columns=columns,
            basis_snapshot_id=prev["snapshot_id"],
        )

    def _write_delta_data(
        self, df: DataFrame, out_dir: str, touched_buckets: list[int]
    ) -> dict[str, list[str]]:
        """Write ``df`` as delta files under ``out_dir`` and return the
        per-bucket file lists (shared by commit_deltas/stage_deltas so
        staged and committed delta layouts can never diverge)."""
        df.write.mode("error").partitionBy("_bucket").parquet(out_dir)
        new_files: dict[str, list[str]] = {}
        for b in touched_buckets:
            bdir = os.path.join(out_dir, f"_bucket={b}")
            new_files[str(b)] = sorted(
                os.path.join(bdir, f)
                for f in self.io.listdir(bdir)
                if f.endswith(".parquet")
            )
        return new_files

    def commit_delta_files(
        self,
        new_files: dict[str, list[str]],
        new_watermarks: dict[int, str],
        stats: dict | None = None,
        schema_version: int | None = None,
        columns: list[str] | None = None,
        retry_conflicts: int = 0,
        basis_snapshot_id: int | None = None,
    ) -> dict:
        """Metadata-only half of :meth:`commit_deltas`: append
        ALREADY-WRITTEN delta files (``{bucket: [paths]}``) to the
        touched buckets. Enables the engine's grouped merge-on-read
        replay (one dedupe job for all batches, per-batch driver-side
        commits).

        ``retry_conflicts``: delta appends are COMMUTATIVE (read-time
        LWW merges base ∪ all deltas, order-free), so losing the header
        race rebases unconditionally — even same-bucket concurrent
        appends merge correctly; the rebase re-appends our files to the
        new head's lists. The only fatal race is a concurrent rescale
        (our ``_bucket`` ids go stale), which raises. Same pinned-head
        attempt structure and ``basis_snapshot_id`` contract as
        :meth:`commit_bucket_files` — ``commit_deltas`` threads its
        write-time basis through so a rescale landing during the data
        write is caught too."""
        prev_raw = self._raw_snapshot(basis_snapshot_id)
        for attempt in range(int(retry_conflicts) + 1):
            sid = self.current_snapshot_id()
            head_raw = self._raw_snapshot(sid)
            if (
                head_raw["num_buckets"] != prev_raw["num_buckets"]
                or head_raw["path_salt"] != prev_raw["path_salt"]
            ):
                raise ValueError(
                    "concurrent rescale: bucket ids in this commit are stale"
                )
            snapshot = self._next_delta_snapshot(
                new_files, new_watermarks, stats=stats,
                schema_version=schema_version, columns=columns,
                prev=self._resolve_header(head_raw),
            )
            try:
                self._write_snapshot(snapshot)
                return snapshot
            except FileExistsError:
                if attempt >= int(retry_conflicts):
                    raise
        raise AssertionError("unreachable")

    def _next_delta_snapshot(
        self,
        new_files: dict[str, list[str]],
        new_watermarks: dict[int, str],
        stats: dict | None = None,
        schema_version: int | None = None,
        columns: list[str] | None = None,
        prev: dict | None = None,
    ) -> dict:
        """Delta-append twin of :meth:`_next_bucket_snapshot` (see
        there): the snapshot dict, built but not persisted."""
        if prev is None:
            prev = self.current()
        sid = prev["snapshot_id"] + 1
        if prev.get("stats_cols"):
            self._collect_file_stats(
                [f for fl in new_files.values() for f in fl], prev["stats_cols"]
            )
        deltas = dict(prev.get("deltas", {}))
        added: list[str] = []
        for b, files in new_files.items():
            if files:
                deltas[str(b)] = deltas.get(str(b), []) + files
                added.extend(files)
        watermarks = dict(prev["watermarks"])
        for b, wm in new_watermarks.items():
            old = watermarks.get(str(b), WATERMARK_ZERO)
            watermarks[str(b)] = max(old, wm)

        snapshot = {
            **prev,
            "snapshot_id": sid,
            "parent_id": prev["snapshot_id"],
            "timestamp_ms": int(time.time() * 1000),
            "operation": "append-deltas",
            "added_files": added,
            "schema_version": schema_version or prev["schema_version"],
            "columns": columns or prev["columns"],
            "deltas": deltas,
            "watermarks": watermarks,
            "stats": stats or prev["stats"],
        }
        snapshot.pop("dv_identity", None)  # see _next_bucket_snapshot
        return snapshot

    def commit_delete_vectors(
        self,
        dv_df: DataFrame,
        touched_buckets: list[int],
        new_watermarks: dict[int, str],
        dv_identity: dict | None = None,
        basis_snapshot_id: int | None = None,
        basis_files: list[str] | None = None,
    ) -> dict:
        """Position-delete commit (Iceberg v2 position-deletes / Delta
        deletion-vector semantics): append ``dv_df`` — rows of
        ``(_relfile string, _pos long, _bucket)`` naming base-file row
        positions — as DELETE VECTOR files of the touched buckets.
        The write is O(deleted rows) of two narrow columns; ``read()``
        applies the vectors as an anti-join on the base scan, so a
        delete-heavy sweep (GDPR) never rewrites a bucket and never
        pays the full-payload tombstone fold that ``commit_deltas``
        row-deletes cost at read time.

        ``_relfile`` is the base file's data-dir-relative path
        (``_rel_to_data``); positions are the parquet ``_metadata.
        row_index`` of the file the row came from — immutable once the
        file is committed. Callers must only reference CURRENT base
        files of a DELTA-FREE bucket (a delta-winning row has no base
        position; deleting its stale base version would resurface it)
        — :func:`filters_spark.lake.dml.delete_where` with
        ``mode='dv'`` enforces this.

        ``dv_identity`` (``{"commit", "event_seq"}``) is the feed
        identity ``changes()`` emits the deleted rows' ``op='D'``
        tombstones under; pass the same identity the watermark bump
        uses so downstream LWW folds order the delete after every
        superseded version. Compaction folds vectors into new base
        files exactly like row deltas; ``metadata_row_count`` stays
        exact (base rows minus DV rows, both manifest-recorded)."""
        prev = self.current()
        # conflict-basis check: the vectors' (file, position) pairs were
        # computed against the scan-time snapshot; a concurrent
        # compact/rewrite/rescale/CoW-DML replacing the referenced base
        # files between scan and commit would leave vectors whose
        # relfiles never match at read time — the deletes silently
        # resurface. When the caller supplies its scan basis
        # (lake/dml.py mode='dv' does), a moved head must still carry
        # the same bucketing params, the same scanned base files, no new
        # deltas and unchanged DV sets on the touched buckets; anything
        # else raises so the sweep re-runs against the new head instead
        # of silently retaining data.
        if basis_snapshot_id is not None and prev["snapshot_id"] != basis_snapshot_id:
            basis_raw = self._raw_snapshot_if_retained(basis_snapshot_id)
            basis = None if basis_raw is None else self._resolve_header(basis_raw)
            if basis is None:
                raise ValueError(
                    f"delete-vector basis snapshot {basis_snapshot_id} is "
                    f"no longer retained and the head moved to "
                    f"{prev['snapshot_id']} — re-run the sweep against "
                    "the current head"
                )
            if (
                prev["num_buckets"] != basis["num_buckets"]
                or prev["path_salt"] != basis["path_salt"]
            ):
                raise ValueError(
                    "table was rescaled between the delete-vector scan "
                    f"(snapshot {basis_snapshot_id}) and this commit — "
                    "positions no longer address the head's files; "
                    "re-run the sweep"
                )
            basis_buckets = basis["buckets"]
            for b in touched_buckets:
                bs = str(b)
                head_files = set(prev["buckets"].get(bs, []))
                if basis_files is not None:
                    # the vectors can only reference scanned files of
                    # this bucket: basis bucket set ∩ scanned list
                    scanned = set(basis_files) & set(basis_buckets.get(bs, []))
                    missing = sorted(scanned - head_files)
                else:
                    # no scanned-file list supplied: require the
                    # bucket's base set unchanged since the basis
                    missing = (
                        []
                        if sorted(basis_buckets.get(bs, []))
                        == sorted(prev["buckets"].get(bs, []))
                        else [f"<bucket {bs} base set changed>"]
                    )
                if missing:
                    raise ValueError(
                        f"base files referenced by the delete-vector scan "
                        f"are gone from the head's bucket {bs} (concurrent "
                        f"compact/rewrite/DML since snapshot "
                        f"{basis_snapshot_id}): {missing[:3]} — re-run the "
                        "sweep against the current head"
                    )
                if prev.get("deltas", {}).get(bs):
                    raise ValueError(
                        f"bucket {bs} gained delta files since the "
                        f"delete-vector scan (snapshot {basis_snapshot_id}) "
                        "— a delta-winning row has no base position; "
                        "compact() and re-run the sweep"
                    )
                if prev.get("delete_vectors", {}).get(bs, []) != basis.get(
                    "delete_vectors", {}
                ).get(bs, []):
                    raise ValueError(
                        f"bucket {bs}'s delete-vector set changed since the "
                        f"scan (snapshot {basis_snapshot_id}) — a concurrent "
                        "sweep may have marked the same positions; re-run "
                        "against the current head"
                    )
        sid = prev["snapshot_id"] + 1
        out_dir = os.path.join(self.data_dir, f"dv-{sid:08d}")
        new_files = self._write_delta_data(
            dv_df.select("_relfile", "_pos", "_bucket"), out_dir, touched_buckets
        )
        # harvest __rows footers so metadata-only counts stay exact
        self._collect_file_stats(
            [f for fl in new_files.values() for f in fl], []
        )
        dvs = dict(prev.get("delete_vectors", {}))
        added: list[str] = []
        for b, files in new_files.items():
            if files:
                dvs[str(b)] = dvs.get(str(b), []) + files
                added.extend(files)
        watermarks = dict(prev["watermarks"])
        for b, wm in new_watermarks.items():
            old = watermarks.get(str(b), WATERMARK_ZERO)
            watermarks[str(b)] = max(old, wm)
        snapshot = {
            **prev,
            "snapshot_id": sid,
            "parent_id": prev["snapshot_id"],
            "timestamp_ms": int(time.time() * 1000),
            "operation": "delete-vectors",
            "added_files": added,
            "delete_vectors": dvs,
            "watermarks": watermarks,
        }
        if dv_identity is not None:
            snapshot["dv_identity"] = dict(dv_identity)
        self._write_snapshot(snapshot)
        return snapshot

    def buckets_needing_compaction(self, max_delta_files: int) -> list[int]:
        """Buckets whose delta-file count reached the threshold."""
        snap = self.current()
        return sorted(
            int(b) for b, fl in snap.get("deltas", {}).items() if len(fl) >= max_delta_files
        )

    def compact(self, buckets: Iterable[int] | None = None) -> dict | None:
        """Fold delta files into new base files for the given buckets
        (default: every bucket that has deltas). One LWW merge + one
        bucket-partitioned write — identical read() results before and
        after (pinned by tests). Returns the new snapshot, or None if
        nothing to compact."""
        snap = self.current()
        with_work = sorted(
            {int(b) for b in snap.get("deltas", {})}
            | {int(b) for b in snap.get("delete_vectors", {})}
        )
        wanted = with_work if buckets is None else sorted(set(int(b) for b in buckets) & set(with_work))
        if not wanted:
            return None
        # read() folds base ∪ deltas with delete vectors applied
        merged = self.read(buckets=wanted)
        payload = self.payload_cols(snap)
        merged = merged.select(
            "repo", "path", "commit", "event_seq", *payload, "content_sha",
            F.col("_bucket").cast("int").alias("_bucket"),
        ).repartition("_bucket")
        return self.commit_buckets(merged, wanted, {}, operation="compact")

    def rewrite_data_files(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        min_input_files: int = 2,
        buckets: Iterable[int] | None = None,
    ) -> dict | None:
        """Bin-pack small base files into ~target-size files (Iceberg
        ``rewrite_data_files`` binpack strategy). Many-delta ingest +
        compaction cycles and low-parallelism commits leave buckets
        holding long tails of small parquet files; each file is a scan
        task + a footer read + a manifest entry, so at 10^5+ files the
        small-file tax dominates scan setup. Per bucket: when it holds
        at least ``min_input_files`` base files of which at least two
        are under the target, its rows are rewritten into about
        ``ceil(bucket_bytes / target)`` files.

        Pure physical reorg: ``read()`` results are identical before
        and after (pinned by tests), ``changes()`` skips the rewrite
        snapshot exactly like ``compact``/``rescale``, file stats are
        re-harvested so data skipping keeps working, and the replaced
        files become vacuum orphans. Buckets with PENDING DELTAS are
        skipped — folding deltas changes merge state, which is
        :meth:`compact`'s job, and a maintenance rewrite must never
        change what a reader sees.

        Packing is approximate (hash of (bucket, slot) into one shuffle
        of ``total_slots`` partitions): two packs may collide into one
        file, as Iceberg's binpack may also over/under-fill — the
        invariant is the data, not an exact file count. Returns the new
        snapshot, or None when nothing qualifies."""
        snap = self.current()
        pending = {b for b, fl in snap.get("deltas", {}).items() if fl}
        wanted_set = None if buckets is None else {int(b) for b in buckets}
        slots: dict[int, int] = {}
        for b, fl in snap["buckets"].items():
            if b in pending or (wanted_set is not None and int(b) not in wanted_set):
                continue
            if len(fl) < max(int(min_input_files), 2):
                continue
            sizes = [self.io.size(f) for f in fl]
            if sum(1 for s in sizes if s < target_file_bytes) < 2:
                continue  # nothing worth packing together
            n_slots = max(1, -(-sum(sizes) // int(target_file_bytes)))
            # convergence guard: a rewrite must REDUCE the file count,
            # else buckets sitting just under target requalify and the
            # same bytes rewrite on every maintenance run forever
            if n_slots >= len(fl):
                continue
            slots[int(b)] = n_slots
        if not slots:
            return None
        wanted = sorted(slots)
        df = self.read(buckets=wanted)
        payload = self.payload_cols(snap)
        slot_map = F.create_map(*[F.lit(x) for kv in slots.items() for x in kv])
        total_slots = sum(slots.values())
        sort_cols = snap.get("sort_cols")
        if sort_cols:
            # preserve range clustering: slot by position in the bucket's
            # sort order, so packed files keep tight min/max rectangles
            # and data skipping stays selective after the rewrite
            wsort = Window.partitionBy("_bucket").orderBy(*sort_cols)
            slot = F.floor(
                F.percent_rank().over(wsort) * (slot_map[F.col("_bucket")] - F.lit(0.5))
            ).cast("int")
        else:
            slot = F.pmod(F.xxhash64("path"), slot_map[F.col("_bucket")]).cast("int")
        df = (
            df.select(
                "repo", "path", "commit", "event_seq", *payload, "content_sha",
                F.col("_bucket").cast("int").alias("_bucket"),
            )
            .withColumn("_slot", slot)
            .repartition(max(total_slots, 1), "_bucket", "_slot")
            .drop("_slot")
        )
        return self.commit_buckets(df, wanted, {}, operation="rewrite")

    def rewrite_zorder(
        self,
        cols: tuple[str, str],
        bits: int = 8,
        target_file_bytes: int = 128 * 1024 * 1024,
        buckets: Iterable[int] | None = None,
    ) -> dict | None:
        """Re-cluster buckets by the Morton (z-order) key of two
        columns (Iceberg ``rewrite_data_files`` zorder strategy). A
        linear ``sort_cols`` clustering gives each data file a tight
        range on ONE dimension; z-ordering quantizes both columns to
        per-bucket rank space (equal-mass, skew-immune), interleaves
        their bits, and splits each bucket into ~``ceil(bytes/target)``
        files along the z-curve — every file covers a bounded RECTANGLE
        in (colA, colB) space, so ``read(where=...)`` min/max skipping
        prunes on EITHER column (lake/zorder.py holds the measured
        comparison). Record both columns in ``stats_cols`` at table
        creation or there are no stats to prune with.

        Same safety contract as the binpack rewrite: pure physical
        reorg (``read()`` identical, pinned by tests), ``changes()``
        skips it, buckets with pending deltas are never touched. Unlike
        binpack there is NO convergence guard — re-clustering is the
        point, so this does not run from :meth:`maintain`; invoke it
        explicitly when the query pattern warrants it. Returns the new
        snapshot, or None when nothing qualifies."""
        from filters_spark.lake.zorder import quantize_rank, zorder_key

        snap = self.current()
        pending = {b for b, fl in snap.get("deltas", {}).items() if fl}
        wanted_set = None if buckets is None else {int(b) for b in buckets}
        slots: dict[int, int] = {}
        for b, fl in snap["buckets"].items():
            if b in pending or (wanted_set is not None and int(b) not in wanted_set):
                continue
            if not fl:
                continue
            total = sum(self.io.size(f) for f in fl)
            slots[int(b)] = max(1, -(-total // int(target_file_bytes)))
        if not slots:
            return None
        wanted = sorted(slots)
        payload = self.payload_cols(snap)
        df = self.read(buckets=wanted).select(
            "repo", "path", "commit", "event_seq", *payload, "content_sha",
            F.col("_bucket").cast("int").alias("_bucket"),
        )
        tie = ["repo", "path"]
        df = quantize_rank(df, cols[0], bits, "_qa", tiebreak=tie,
                           group_cols=("_bucket",))
        df = quantize_rank(df, cols[1], bits, "_qb", tiebreak=tie,
                           group_cols=("_bucket",))
        df = df.withColumn("_zk", zorder_key(F.col("_qa"), F.col("_qb"), bits))
        slot_map = F.create_map(*[F.lit(x) for kv in slots.items() for x in kv])
        wz = Window.partitionBy("_bucket").orderBy("_zk", *tie)
        slot = F.floor(
            F.percent_rank().over(wz) * (slot_map[F.col("_bucket")] - F.lit(0.5))
        ).cast("int")
        total_slots = sum(slots.values())
        df = (
            df.withColumn("_slot", slot)
            .repartition(max(total_slots, 1), "_bucket", "_slot")
            .sortWithinPartitions("_bucket", "_zk", *tie)
            .drop("_qa", "_qb", "_zk", "_slot")
        )
        sid = snap["snapshot_id"] + 1
        out_dir = os.path.join(self.data_dir, f"snap-{sid:08d}")
        # sort_cols=None: rows are already z-sorted; the committing
        # sortWithinPartitions above replaces the linear clustering.
        # `snap` (read at the top) is the compute basis — a commit
        # landing mid-rewrite is caught by the basis check.
        new_files = self._write_bucket_data(df, out_dir, wanted, None)
        return self.commit_bucket_files(
            new_files, {}, operation="rewrite",
            basis_snapshot_id=snap["snapshot_id"],
        )

    def maintain(
        self,
        max_delta_files: int = 8,
        target_file_bytes: int = 128 * 1024 * 1024,
        keep_last: int = 3,
        min_age_seconds: float = 3600.0,
        dry_run: bool = False,
    ) -> dict:
        """One-call background maintenance, in dependency order:

        1. :meth:`compact` buckets whose delta backlog exceeds
           ``max_delta_files`` (MoR read cost back to a bare scan);
        2. :meth:`rewrite_data_files` small-file bin-packing (compaction
           and CoW ingest both leave fragment tails);
        3. :meth:`expire_snapshots` beyond ``keep_last`` (tagged
           snapshots and pending staged commits always survive);
        4. :meth:`vacuum` the orphans (``min_age_seconds`` guarded).

        Idempotent and safe to run on a schedule next to a single
        writer: every step is either metadata-only or commits through
        the same optimistic protocol as ingest. ``dry_run`` reports
        what WOULD happen (vacuum list, candidate buckets) without
        writing. Returns a report dict."""
        report: dict = {}
        ripe = self.buckets_needing_compaction(max_delta_files)
        report["compacted_buckets"] = ripe
        if ripe and not dry_run:
            self.compact(ripe)
        if dry_run:
            report["rewrote"] = None
        else:
            snap = self.rewrite_data_files(target_file_bytes=target_file_bytes)
            report["rewrote"] = None if snap is None else snap["snapshot_id"]
        report["expired_snapshots"] = (
            [] if dry_run else self.expire_snapshots(keep_last=keep_last)
        )
        report["vacuumed"] = self.vacuum(
            dry_run=dry_run, min_age_seconds=min_age_seconds
        )
        return report

    def _change_chain(
        self, since_snapshot_id: int, to_id: int
    ) -> list[tuple[int, dict]]:
        """Validated snapshot-ancestry walk for incremental reads:
        ``(snapshot_id, raw_header)`` for every snapshot in
        ``(since_snapshot_id, to_id]``, child-first. Walks LINEAGE,
        not ids: branch commits interleave globally-unique ids into
        the same header namespace, so "every id in the numeric range"
        would read another branch's changes into this chain's feed. A
        missing ancestor header means expire_snapshots removed part of
        the range — raise rather than silently drop changes."""
        chain: list[tuple[int, dict]] = []
        sid = to_id
        while sid is not None and sid > since_snapshot_id:
            raw = self._raw_snapshot_if_retained(sid)
            if raw is None:
                raise ValueError(
                    f"snapshot {sid} in ({since_snapshot_id}, {to_id}] is expired; "
                    "the incremental range is unreadable"
                )
            chain.append((sid, raw))
            sid = raw.get("parent_id")
        if sid != since_snapshot_id:
            raise ValueError(
                f"snapshot {since_snapshot_id} is not an ancestor of {to_id}; "
                "the incremental range crosses chains (branch vs main?)"
            )
        return chain

    def changes(
        self,
        since_snapshot_id: int,
        to_snapshot_id: int | None = None,
        _chain: list[tuple[int, dict]] | None = None,
    ) -> DataFrame | None:
        """Incremental read (Iceberg incremental-scan semantics): the
        row-level changes committed AFTER ``since_snapshot_id`` up to
        ``to_snapshot_id`` (default: current), with columns
        ``(repo, path, commit, event_seq, lang, content, op,
        snapshot_id)`` — ``op='D'`` rows are delete tombstones.

        Merge-on-read commits record exactly the files they appended
        (``added_files``), so the incremental read is a union of those
        files — O(changed rows), no diffing. ``compact`` / ``create``
        snapshots carry no logical change and are skipped. A
        ``rollback`` snapshot in the range EMITS its revert: every key
        changed in the undone range goes back to its target-state
        (``op='U'``) or away (``op='D'``), with a feed identity that
        supersedes the undone rows — see :meth:`_rollback_reverts` —
        so downstream mirrors/publishers actually revert instead of
        wedging. A copy-on-write ``overwrite`` snapshot in the range
        raises: CoW rewrites buckets and retains no row-level change
        log — ingest with ``write_mode='mor'`` to make the table a
        change SOURCE for downstream consumers. Returns None when the
        range is empty."""
        to_id = self.current_snapshot_id() if to_snapshot_id is None else to_snapshot_id
        if to_id <= since_snapshot_id:
            return None
        chain = _chain if _chain is not None else self._change_chain(
            since_snapshot_id, to_id
        )
        file_sids: list[tuple[str, int]] = []
        rollbacks: list[tuple[int, dict]] = []
        dv_commits: list[tuple[int, dict]] = []
        for sid, raw in sorted(chain):
            # operation and added_files are plain raw-header fields —
            # no manifest resolution on the incremental hot path
            op = raw.get("operation", "overwrite")
            if op in ("create", "compact", "rescale", "rewrite", "fast-forward",
                      "bootstrap", "set-watermarks"):
                # physical reorganizations / pointer adoptions / pure
                # watermark-map commits: no logical change of their own
                # (a fast-forward's changes live in the branch headers
                # it adopted, which this ancestry walk traverses; the
                # bootstrap handoff moves only the watermark map — the
                # seeded rows' changes live in the chunk commits)
                continue
            if op == "rollback":
                # a rollback IS a logical change (rows revert); its
                # emission is derived, not file-backed — handled below
                rollbacks.append((sid, raw))
                continue
            if op == "delete-vectors":
                # position deletes ARE a logical change (rows vanish);
                # the tombstone emission is derived from the referenced
                # base rows — handled below
                dv_commits.append((sid, raw))
                continue
            if op != "append-deltas":
                raise ValueError(
                    f"snapshot {sid} is {op!r} (copy-on-write): no row-level "
                    "change log; ingest with write_mode='mor' for incremental reads"
                )
            file_sids.extend((f, sid) for f in raw.get("added_files", []))
        if not file_sids and not rollbacks and not dv_commits:
            return None
        # ONE scan of every added file + a broadcast file->snapshot map
        # (a union of one relation per snapshot makes the plan O(range
        # length) — a long-lived MoR table accumulates thousands of
        # snapshots and the per-snapshot union stops analyzing).
        # Join key = the path RELATIVE to the data dir (suffix after
        # the last '/data/'), the same spelling-independent identity
        # vacuum() uses: input_file_name() spells an absolute URI
        # (scheme, resolved '.'/symlinks) that raw string equality
        # against the manifest-recorded spelling (possibly a relative
        # root) would never match — the inner join would silently
        # return an EMPTY changefeed.
        fmap = self.spark.createDataFrame(
            [(_rel_to_data(f), sid) for f, sid in file_sids],
            "_relpath string, snapshot_id int",
        )
        # chain is child-first: chain[0] is to_id's raw header, and
        # payload_cols needs only its recorded column set — no second
        # header read, no manifest resolution
        payload = self.payload_cols(chain[0][1])
        feed = None
        if file_sids:
            feed = (
                self.spark.read.schema(self._delta_ddl(payload))
                .parquet(*[f for f, _ in file_sids])
                .withColumn(
                    "_relpath",
                    F.substring_index(F.input_file_name(), "/data/", -1),
                )
                .join(F.broadcast(fmap), "_relpath")
                .select(
                    "repo", "path", "commit", "event_seq", *payload, "op",
                    "snapshot_id",
                )
            )
        for sid, raw in rollbacks:
            rv = self._rollback_reverts(sid, raw, payload)
            if rv is not None:
                feed = rv if feed is None else feed.unionByName(rv)
        for sid, raw in dv_commits:
            dd = self._dv_deletes(sid, raw, payload)
            if dd is not None:
                feed = dd if feed is None else feed.unionByName(dd)
        return feed

    def _dv_deletes(
        self, sid: int, raw: dict, payload: list[str]
    ) -> DataFrame | None:
        """The logical change a ``delete-vectors`` snapshot applies, as
        feed rows: every position-deleted base row emits ``op='D'``
        with its last payload (the WAL tombstone convention) under the
        commit's recorded ``dv_identity`` — which the committing DML
        chose to beat every matched row's own (commit, event_seq), so
        downstream LWW folds order the delete after the versions it
        kills. O(deleted rows): one scan of the referenced base files
        position-semi-joined to the vectors; the referenced-file set
        is resolved driver-side from the PARENT snapshot's manifests
        (metadata-scale, bounded by the bucket's file count)."""
        dv_files = raw.get("added_files", [])
        if not dv_files:
            return None
        ident = raw.get("dv_identity") or {}
        if "commit" not in ident or "event_seq" not in ident:
            # a NULL-identity tombstone would silently LOSE every
            # downstream LWW fold instead of winning it — refuse loudly
            # (commit_delete_vectors callers should always record the
            # identity; lake/dml.py mode='dv' does)
            raise ValueError(
                f"delete-vectors snapshot {sid} records no dv_identity "
                "(commit, event_seq) — its tombstones cannot be ordered "
                "in the change feed; re-commit with dv_identity"
            )
        dv = self.spark.read.schema("_relfile string, _pos long").parquet(
            *dv_files
        )
        parent = self.snapshot(raw["parent_id"])
        rel_to_abs = {
            _rel_to_data(f): f
            for fl in parent["buckets"].values()
            for f in fl
        }
        # distinct referenced files: metadata-scale collect (bounded by
        # the touched buckets' file counts, never by row counts)
        rels = [r["_relfile"] for r in dv.select("_relfile").distinct().collect()]
        unresolved = sorted(r for r in rels if r not in rel_to_abs)
        if unresolved:
            # mirror how changes() fails loudly for CoW snapshots whose
            # files are gone: silently filtering would emit NO op='D'
            # rows for this commit and downstream syncs would keep rows
            # deleted upstream — silent incorrectness, not degradation
            raise ValueError(
                f"delete-vectors snapshot {sid} references base files "
                f"absent from its parent snapshot's manifests "
                f"(vacuumed after compaction?): {unresolved[:3]} — the "
                "change feed across this commit cannot be reconstructed"
            )
        files = [rel_to_abs[r] for r in rels]
        if not files:
            return None
        base = (
            self.spark.read.schema(self._base_ddl(payload))
            .parquet(*files)
            .select(
                "repo", "path", *payload,
                F.substring_index(
                    F.col("_metadata.file_path"), "/data/", -1
                ).alias("_relfile"),
                F.col("_metadata.row_index").alias("_pos"),
            )
        )
        return (
            base.join(dv, ["_relfile", "_pos"], "left_semi")
            .select(
                "repo", "path",
                F.lit(ident.get("commit")).cast("string").alias("commit"),
                F.lit(ident.get("event_seq")).cast("long").alias("event_seq"),
                *payload,
                F.lit("D").alias("op"),
                F.lit(sid).cast("int").alias("snapshot_id"),
            )
        )

    def _touched_delta_buckets(
        self, chain: list[tuple[int, dict]], base_raw: dict, base_sid: int
    ) -> set[int] | None:
        """Buckets whose delta set CHANGED in the chain's append-deltas
        commits, diffed child-vs-parent on raw headers alone
        (carried-over delta entries keep their content-addressed
        manifest ref / file list, so the diff excludes them) — a sound
        metadata-only bucket prune for a read at ``base_sid`` keyed to
        the chain's feed. Returns None (prune nothing) when the bucket
        layout varies anywhere in the range (a rescale round-trip
        restores the endpoint layout with mid-range ids from another
        modulus) or a rollback is present (its revert keys come from
        undone commits that may predate the range)."""
        layout = (base_raw["num_buckets"], base_raw["path_salt"])
        if any(
            (raw["num_buckets"], raw["path_salt"]) != layout
            or raw.get("operation") == "rollback"
            for _, raw in chain
        ):
            return None
        raws = {sid: raw for sid, raw in chain}
        raws[base_sid] = base_raw
        touched: set[int] = set()
        for _, raw in chain:
            op = raw.get("operation")
            if op == "delete-vectors":
                # a DV commit changes its buckets' logical state too —
                # same child-vs-parent content-addressed diff
                pdv = raws[raw["parent_id"]].get("delete_vectors", {})
                for b, v in raw.get("delete_vectors", {}).items():
                    if pdv.get(b) != v:
                        touched.add(int(b))
                continue
            if op != "append-deltas":
                continue
            pdel = raws[raw["parent_id"]].get("deltas", {})
            for b, v in raw.get("deltas", {}).items():
                if pdel.get(b) != v:
                    touched.add(int(b))
        return touched

    def _rollback_reverts(
        self, sid: int, raw: dict, payload: list[str]
    ) -> DataFrame | None:
        """The logical change a ``rollback`` snapshot applies, as feed
        rows: every key changed in ``(target, parent]`` reverts to its
        state AT the target — ``op='U'`` with that payload when the key
        existed there, ``op='D'`` when it did not. O(changed): the key
        set comes from the undone range's own changefeed and the
        target-state lookup is key-semi-joined.

        Feed identity: revert rows carry ``(max undone commit, max
        undone event_seq + 1)``, which beats every undone row in any
        LWW fold (so downstream mirrors actually revert) while staying
        at-or-below the rollback snapshot's watermarks —
        :meth:`rollback` bumps them one seq past the pre-rollback
        global max precisely so the engine's own dedupe gate ENFORCES
        that every future admitted event is strictly above the revert
        identity (and that re-sent undone commits are dropped as
        replays; corrected data arrives under new commits). Rolling
        back a rollback composes: the inner revert rows are part of
        the outer undone feed, so the outer identity supersedes
        them."""
        target = raw.get("rollback_of")
        if target is None:
            raise ValueError(
                f"snapshot {sid} is a pre-upgrade 'rollback' header with no "
                "rollback_of target: its revert emission is not derivable — "
                "changefeeds cannot cross it; re-seed consumers"
            )
        from filters_spark.lake.materialize import materialize

        target_raw = self._raw_snapshot_if_retained(target)
        if target_raw is None:
            raise ValueError(
                f"rollback snapshot {sid}'s target {target} is expired: its "
                "revert emission is not derivable — changefeeds cannot cross "
                "it; re-seed consumers (expire_snapshots retains rollback "
                "dependencies, so this indicates hand-edited metadata)"
            )
        chain = self._change_chain(target, raw["parent_id"])
        undone = self.changes(target, raw["parent_id"], _chain=chain)
        if undone is None:
            return None
        # one barrier: the undone feed drives the max-position agg, the
        # last-version window AND the target-state semi-join — without
        # it each consumer re-scans every undone delta file
        undone = materialize(undone)
        mx = undone.agg(
            F.max(F.struct("commit", "event_seq")).alias("m")
        ).collect()[0]["m"]
        null_s = F.lit(None).cast("string")
        # each key's LAST undone version: supplies the payload a
        # revert-DELETE carries (the WAL's deletes-carry-last-payload
        # convention — engine consumers dead-letter bare tombstones)
        # and drops no-op reverts of already-deleted keys
        w = Window.partitionBy("repo", "path").orderBy(
            F.col("commit").desc(), F.col("event_seq").desc()
        )
        last = (
            undone.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "repo", "path",
                *[
                    (F.col(c) if c in undone.columns else null_s)
                    .alias(f"_last_{c}")
                    for c in payload
                ],
                F.col("op").alias("_last_op"),
            )
        )
        touched = self._touched_delta_buckets(chain, target_raw, target)
        state = self.read(
            target,
            buckets=sorted(touched) if touched is not None else None,
            _snap=self._resolve_header(target_raw),
        )
        if state is not None:
            st = state.join(last, ["repo", "path"], "left_semi").select(
                "repo", "path",
                # the target state may predate columns added later in
                # the chain: NULL-fill, same as schema-evolution reads
                *[
                    F.col(c) if c in state.columns else null_s.alias(c)
                    for c in payload
                ],
                F.lit(True).alias("_present"),
            )
            rv = last.join(st, ["repo", "path"], "left")
        else:
            rv = last.select(
                "*", *[null_s.alias(c) for c in payload],
                F.lit(None).cast("boolean").alias("_present"),
            )
        present = F.col("_present").isNotNull() & F.col("_present")
        return (
            # absent at target AND already deleted at parent: no-op
            rv.filter(present | (F.col("_last_op") != "D"))
            .select(
                "repo", "path",
                F.lit(mx["commit"]).alias("commit"),
                F.lit(mx["event_seq"] + 1).cast("long").alias("event_seq"),
                *[
                    F.when(present, F.col(c))
                    .otherwise(F.col(f"_last_{c}")).alias(c)
                    for c in payload
                ],
                F.when(present, F.lit("U")).otherwise(F.lit("D")).alias("op"),
                F.lit(sid).cast("int").alias("snapshot_id"),
            )
        )

    def changes_with_images(
        self, since_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame | None:
        """:meth:`changes` with PRE-IMAGES — the Delta-CDF /
        Debezium-``before`` shape: every change row additionally
        carries the key's payload as it stood immediately BEFORE the
        event (``pre_<payload>`` columns), plus

        - ``pre_op``: what the previous version was — NULL (key absent
          at ``since_snapshot_id``), ``'K'`` (the seeded base state),
          or the prior feed event's op. Distinguishes "no previous
          row" from "previous payload happened to be NULL".
        - ``op_effective``: the op a consumer without LWW semantics
          should replay — the engine's upsert ops resolved against the
          pre-image (``'I'`` when the key was absent or deleted,
          ``'U'`` when it existed, ``'D'`` passthrough). An ``'I'``
          event landing on an existing key is EFFECTIVELY an update,
          and a ``'U'`` on a fresh key an insert; Debezium consumers
          key c/u on exactly this distinction.

        Semantics: per key, events are ordered by the engine's
        (commit, event_seq) total order — the same order LWW resolves
        by, and per-bucket watermarks guarantee later snapshots carry
        strictly later watermarks, so this order agrees with snapshot
        ancestry. The chain is SEEDED with the key's state at
        ``since_snapshot_id``, so the first change's pre-image is the
        pre-feed state and each subsequent change's pre-image is its
        predecessor's post-image (event-level, Debezium-faithful —
        not just a since-vs-until diff).

        Scale shape: one :meth:`changes` scan (O(changed rows)); the
        seed read is bucket-pruned from metadata alone (only buckets
        whose delta set changed in the range can hold feed keys) and
        then row-pruned to the feed's keys by a semi-join; ONE
        exchange for the per-key lag window. Same MoR-only contract as
        ``changes()``. Returns None when the range is empty."""
        to_id = (
            self.current_snapshot_id()
            if to_snapshot_id is None else to_snapshot_id
        )
        if to_id <= since_snapshot_id:
            return None
        # ONE validated ancestry walk shared with the changes() scan —
        # the raw headers drive the feed, the payload set, the layout
        # guard and the touched-bucket diff below
        chain = self._change_chain(since_snapshot_id, to_id)
        feed = self.changes(since_snapshot_id, to_id, _chain=chain)
        if feed is None:
            return None
        since_raw = self._raw_snapshot_if_retained(since_snapshot_id)
        if since_raw is None:
            raise ValueError(
                f"snapshot {since_snapshot_id} is expired; cannot seed "
                "pre-images from its state"
            )
        payload = self.payload_cols(chain[0][1])
        keys = feed.select("repo", "path").distinct()
        touched = self._touched_delta_buckets(chain, since_raw, since_snapshot_id)
        base = self.read(
            since_snapshot_id,
            buckets=sorted(touched) if touched is not None else None,
        )
        rows = feed.select(
            "repo", "path", "commit", "event_seq", *payload, "op", "snapshot_id"
        )
        if base is not None:
            # schema evolution: the since-state lacks columns ADDED
            # inside the range — NULL-fill them (payload columns are
            # uniformly string; same read semantics files written
            # before a widening get)
            seed_pay = [
                F.col(c) if c in base.columns
                else F.lit(None).cast("string").alias(c)
                for c in payload
            ]
            seed = (
                base.join(keys, ["repo", "path"], "left_semi")
                .select(
                    "repo", "path", "commit", "event_seq", *seed_pay,
                    F.lit("K").alias("op"),
                    F.lit(None).cast("int").alias("snapshot_id"),
                )
            )
            rows = rows.unionByName(seed)
        w = (
            Window.partitionBy("repo", "path")
            .orderBy("commit", "event_seq")
        )
        pre_op = F.lag("op").over(w)
        # a prior DELETE leaves the key absent: its payload pre-images
        # are NULL regardless of what the tombstone row carries — the
        # engine's WAL convention has deletes CARRY the last payload
        # (see _rollback_reverts / dml), and lagging that through would
        # leak the deleted payload as the next event's "before". Mask
        # it; pre_op='D' lets op_effective re-classify the event as I.
        out = rows.select(
            "*",
            pre_op.alias("pre_op"),
            *[
                F.when(pre_op == "D", F.lit(None).cast("string"))
                .otherwise(F.lag(c).over(w))
                .alias(f"pre_{c}")
                for c in payload
            ],
        ).filter(F.col("op") != "K")
        return out.withColumn(
            "op_effective",
            F.when(F.col("op") == "D", F.lit("D"))
            .when(F.col("pre_op").isNull() | (F.col("pre_op") == "D"), F.lit("I"))
            .otherwise(F.lit("U")),
        )

    def rescale(self, num_buckets: int, path_salt: int | None = None) -> dict:
        """Re-bucket the table (partition evolution): rewrite every row
        under a new ``num_buckets`` / ``path_salt`` and commit it as one
        atomic snapshot. Scale operation for a table that outgrew its
        layout — bucket count should track cluster width, and a hotter
        monorepo may need a wider path salt.

        MUST run on QUIESCED ingest (the standard constraint for
        repartitioning): with the WAL drained through commit C, every
        committed watermark is <= C and every future event carries a
        commit > C, so collapsing the per-bucket watermarks to their
        global max is exactly-once-exact — nothing new is dropped,
        nothing replayed is admitted. (Mid-ingest, a bucket behind the
        global max could see genuinely-new events wrongly dropped.)

        One shuffle (repartition on the new bucket key); time travel to
        pre-rescale snapshots keeps reading the OLD layout — ``read()``
        derives bucket params per snapshot, not from the table handle.
        Works identically for CoW and MoR tables (``read()`` folds
        deltas; the rescale commit clears them)."""
        snap = self.current()
        salt = snap["path_salt"] if path_salt is None else path_salt
        cur = self.read()
        wm_values = list(snap["watermarks"].values())
        global_wm = max(wm_values) if wm_values else None
        new_watermarks = (
            {b: global_wm for b in range(num_buckets)} if global_wm is not None else {}
        )
        sid = snap["snapshot_id"] + 1
        out_dir = os.path.join(self.data_dir, f"snap-{sid:08d}")
        new_files: dict[str, list[str]] = {str(b): [] for b in range(num_buckets)}
        if cur is not None:
            payload = self.payload_cols(snap)
            df = cur.select(
                "repo", "path", "commit", "event_seq", *payload, "content_sha",
                bucket_expr(F.col("repo"), F.col("path"), num_buckets, salt).alias("_bucket"),
            ).repartition("_bucket")
            df.write.mode("error").partitionBy("_bucket").parquet(out_dir)
            for b in range(num_buckets):
                bdir = os.path.join(out_dir, f"_bucket={b}")
                files = sorted(
                    os.path.join(bdir, f)
                    for f in self.io.listdir(bdir)
                    if f.endswith(".parquet")
                )
                if files:
                    new_files[str(b)] = files
        snapshot = {
            **snap,
            "snapshot_id": sid,
            "parent_id": snap["snapshot_id"],
            "timestamp_ms": int(time.time() * 1000),
            "operation": "rescale",
            "added_files": [],
            "num_buckets": num_buckets,
            "path_salt": salt,
            "buckets": {b: fl for b, fl in new_files.items() if fl},
            "deltas": {},
            "delete_vectors": {},
            "watermarks": {str(b): w for b, w in new_watermarks.items()},
        }
        self._write_snapshot(snapshot)
        return snapshot

    # -- maintenance ----------------------------------------------------------

    # -- named refs (Iceberg tag semantics) ---------------------------------

    def _refs_path(self) -> str:
        """Legacy single-file ref store (read-compat only; new refs
        live in per-ref files so writers on different refs never
        read-modify-write each other's state)."""
        return os.path.join(self.meta_dir, "refs.json")

    def _ref_file(self, name: str) -> str:
        return os.path.join(self.meta_dir, f"ref-{name}.json")

    def _refs(self) -> dict:
        """All named refs, merged: legacy ``refs.json`` entries plus
        one ``ref-<name>.json`` per ref (per-file wins on collision).
        Per-file storage is the concurrency unit — a tag create and two
        branch commits touch three different files, no shared RMW."""
        p = self._refs_path()
        out = dict(json.loads(self.io.read_text(p))) if self.io.exists(p) else {}
        for fn in self.io.listdir(self.meta_dir):
            if fn.startswith("ref-") and fn.endswith(".json"):
                body = json.loads(self.io.read_text(os.path.join(self.meta_dir, fn)))
                out[fn[4:-5]] = body
        return out

    def tags(self) -> dict:
        """Named immutable snapshot refs: ``{name: snapshot_id}``."""
        return {
            k: int(v["snapshot_id"])
            for k, v in self._refs().items()
            if v.get("type", "tag") == "tag"
        }

    def branches(self) -> dict:
        """Named MUTABLE snapshot refs: ``{name: head_snapshot_id}``."""
        return {
            k: int(v["snapshot_id"])
            for k, v in self._refs().items()
            if v.get("type") == "branch"
        }

    def resolve_ref(self, name: str) -> int:
        """Any ref name (tag or branch) -> snapshot id."""
        refs = self._refs()
        if name not in refs:
            raise ValueError(f"no such ref: {name!r}")
        return int(refs[name]["snapshot_id"])

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin a snapshot under a stable name (Iceberg tag): readers
        resolve the name instead of hardcoding an id (release pins,
        audit marks, model-training dataset versions), and
        :meth:`expire_snapshots` will NOT expire a tagged snapshot.
        Metadata-only. Returns the pinned snapshot id."""
        return self._create_ref(name, snapshot_id, "tag")

    def _create_ref(self, name: str, snapshot_id: int | None, kind: str) -> int:
        if (
            not name
            or name != name.strip()
            or any(c in name for c in "/\\")
            or name.startswith(".")
        ):
            raise ValueError(f"bad {kind} name: {name!r}")
        sid = self.current_snapshot_id() if snapshot_id is None else int(snapshot_id)
        try:
            self.snapshot(sid)
        except Exception as exc:
            raise ValueError(f"snapshot {sid} does not exist or was expired") from exc
        # tags and branches share one namespace (Iceberg refs). Legacy
        # refs.json names are checked first; the per-file write is
        # create-exclusive, so two racers creating the same name
        # serialize on the filesystem, not on a read-modify-write.
        if name in self._refs():
            raise ValueError(f"ref {name!r} already exists")
        body = {
            "snapshot_id": sid,
            "created_ms": int(time.time() * 1000),
            "type": kind,
        }
        self.io.write_text_atomic(
            self._ref_file(name), json.dumps(body), fail_if_exists=True
        )
        return sid

    def _drop_ref(self, name: str, kind: str) -> None:
        refs = self._refs()
        if name not in refs or refs[name].get("type", "tag") != kind:
            raise ValueError(f"no such {kind}: {name!r}")
        if self.io.exists(self._ref_file(name)):
            self.io.remove(self._ref_file(name))
        legacy_p = self._refs_path()
        if self.io.exists(legacy_p):
            legacy = json.loads(self.io.read_text(legacy_p))
            if name in legacy:
                # also purge any legacy entry the per-ref file was
                # shadowing, or dropping the file would resurrect it
                legacy.pop(name)
                self.io.write_text_atomic(legacy_p, json.dumps(legacy))

    def drop_tag(self, name: str) -> None:
        self._drop_ref(name, "tag")

    def resolve_tag(self, name: str) -> int:
        """Tag name -> snapshot id (use with ``read(snapshot_id=...)``,
        ``changes``, ``snapshot_diff``...)."""
        tags = self.tags()
        if name not in tags:
            raise ValueError(f"no such tag: {name!r}")
        return tags[name]

    # -- branches (Iceberg branch semantics) ----------------------------------
    #
    # A branch is a MUTABLE named ref: commits to it advance the ref,
    # never the version hint, so main readers see nothing. Branch
    # snapshots are ordinary snap-N headers (globally-unique ids,
    # create-exclusive, vacuum/live_files-visible by construction) with
    # a "ref": <branch> mark that keeps them out of main's ancestry
    # machinery (self-heal, expiry retention). Reading a branch is
    # ``read(snapshot_id=resolve_ref(name))``; its changefeed is
    # ``changes(fork_sid, resolve_ref(name))`` (ancestry-walked).
    # The intended lifecycle is Iceberg's audit-branch pattern writ
    # long: fork, run N validation/backfill commits on the branch,
    # then ``fast_forward`` main onto it (or drop it).

    def create_branch(self, name: str, snapshot_id: int | None = None) -> int:
        """Fork a mutable branch at ``snapshot_id`` (default: current
        head). Metadata-only; shares all data by manifest reference.
        Branch-reachable snapshots never expire while the branch
        exists. Returns the fork snapshot id."""
        return self._create_ref(name, snapshot_id, "branch")

    def drop_branch(self, name: str) -> None:
        """Delete the ref; the branch's exclusive snapshots lose their
        expiry protection and age out via expire_snapshots + vacuum."""
        self._drop_ref(name, "branch")

    def _branch_head(self, name: str) -> int:
        """O(1) head resolution — reads this branch's ref FILE, never
        the full metadata-directory listing `_refs()` does: the
        BranchTable view calls this on every `current_snapshot_id()`,
        i.e. several times per ingest batch."""
        p = self._ref_file(name)
        if self.io.exists(p):
            body = json.loads(self.io.read_text(p))
            if body.get("type") == "branch":
                return int(body["snapshot_id"])
            raise ValueError(f"no such branch: {name!r}")
        legacy_p = self._refs_path()
        if self.io.exists(legacy_p):
            entry = json.loads(self.io.read_text(legacy_p)).get(name)
            if entry and entry.get("type") == "branch":
                return int(entry["snapshot_id"])
        raise ValueError(f"no such branch: {name!r}")

    def commit_buckets_to(
        self,
        branch: str,
        df: DataFrame,
        touched_buckets: list[int],
        new_watermarks: dict[int, str],
        operation: str = "overwrite",
    ) -> dict:
        """:meth:`commit_buckets` targeting a branch head instead of
        main. One writer per branch: a concurrent branch commit that
        moved the head since this one's basis raises (no rebase — a
        CoW rewrite against a stale branch state would drop its rows)."""
        head = self._branch_head(branch)
        prev = self.snapshot(head)
        out_dir = self._fresh_stage_dir(f"branch-{branch}")
        new_files = self._write_bucket_data(
            df, out_dir, touched_buckets, prev.get("sort_cols")
        )
        snapshot = self._next_bucket_snapshot(
            new_files, new_watermarks, operation=operation, prev=prev
        )
        return self._commit_to_branch(branch, head, snapshot)

    def commit_deltas_to(
        self,
        branch: str,
        df: DataFrame,
        touched_buckets: list[int],
        new_watermarks: dict[int, str],
    ) -> dict:
        """:meth:`commit_deltas` (merge-on-read append) targeting a
        branch head instead of main."""
        head = self._branch_head(branch)
        prev = self.snapshot(head)
        out_dir = self._fresh_stage_dir(f"branch-delta-{branch}")
        new_files = self._write_delta_data(df, out_dir, touched_buckets)
        snapshot = self._next_delta_snapshot(
            new_files, new_watermarks, prev=prev
        )
        return self._commit_to_branch(branch, head, snapshot)

    def _commit_to_branch(self, branch: str, expected_head: int, snapshot: dict) -> dict:
        """Persist a built snapshot as the branch's new head: the id is
        globally unique (max existing + 1; the create-exclusive header
        write loses cleanly to any racer claiming the same id), the
        header carries the ``ref`` mark, the hint never moves, and the
        ref advances only if no other writer moved it since
        ``expected_head`` (single-writer-per-branch contract)."""
        snapshot = {**snapshot, "parent_id": expected_head}
        self._persist_branch_snapshot(branch, snapshot)
        return snapshot

    def _persist_branch_snapshot(self, branch: str, snapshot: dict) -> None:
        """Branch-side twin of :meth:`_write_snapshot` (shared by
        :meth:`_commit_to_branch` and the BranchTable view): MUTATES
        ``snapshot`` to the globally-unique id that actually landed,
        marks it with the ref, persists the header create-exclusively
        and CAS-advances the ref file from ``snapshot['parent_id']``."""
        expected_head = snapshot["parent_id"]
        ids = self.snapshots()
        snapshot["snapshot_id"] = (ids[-1] if ids else 0) + 1
        snapshot["ref"] = branch
        self._write_snapshot_header(snapshot)
        self._advance_ref(
            branch, expected_head, snapshot["snapshot_id"],
            f"concurrent writer moved branch {branch!r}; this commit was "
            "computed against a stale head — recompute",
        )

    def _advance_ref(
        self, name: str, expected_head: int, new_head: int, stale_msg: str
    ) -> None:
        """CAS-advance ONE ref's file from ``expected_head`` to
        ``new_head`` (read per-ref file — or the legacy ``refs.json``
        entry, migrated to a per-ref file on first advance — compare,
        atomic rewrite). Touching only this ref's file means commits
        to other branches / tag creates can never lose this update to
        a shared read-modify-write. The single CAS implementation
        shared by branch commits and ``fast_forward``."""
        ref_p = self._ref_file(name)
        body = (
            json.loads(self.io.read_text(ref_p))
            if self.io.exists(ref_p)
            else self._refs()[name]
        )
        if body.get("snapshot_id") != expected_head:
            raise ValueError(stale_msg)
        body["snapshot_id"] = new_head
        self.io.write_text_atomic(ref_p, json.dumps(body))

    def fast_forward(self, name: str) -> dict:
        """Advance MAIN to a branch's head (Iceberg fast-forward
        publish). Requires main to be an ancestor of the branch head —
        anything else would silently drop main commits; diverged
        branches must re-fork and replay.

        Metadata-only, committed as an ADOPTION snapshot: a new main
        header (``operation='fast-forward'``, parent = branch head,
        content = the head's manifests by reference) written through
        the same create-exclusive protocol as every commit — so a main
        writer racing the fast-forward loses (or wins) the id race
        cleanly instead of both hint writes last-writer-winning and one
        side's data silently vanishing. The branch's own headers keep
        their ``ref`` marks but are now main ancestors (``changes()``
        walks through them; the adoption itself carries no logical
        change and is skipped like compact/rescale). The branch ref
        advances to the adoption, so the publish-and-keep-ingesting
        lifecycle continues: later branch commits build on the adopted
        state and the NEXT fast_forward still sees main as an ancestor
        (leaving the ref behind would dead-end the branch after its
        first publish)."""
        head = self._branch_head(name)
        cur = self.current_snapshot_id()
        if head == cur:
            return self.snapshot(cur)
        sid: int | None = head
        while sid is not None and sid != cur:
            raw = self._raw_snapshot_if_retained(sid)
            if raw is None:
                raise ValueError(
                    f"branch {name!r} ancestry is broken at snapshot {sid}"
                )
            sid = raw.get("parent_id")
        if sid != cur:
            raise ValueError(
                f"main ({cur}) is not an ancestor of branch {name!r} head "
                f"({head}): not fast-forwardable — re-fork and replay"
            )
        target = self.snapshot(head)
        ids = self.snapshots()
        adoption = {
            k: v for k, v in target.items() if k != "ref"
        }
        adoption.update(
            snapshot_id=(ids[-1] if ids else 0) + 1,
            parent_id=head,
            timestamp_ms=int(time.time() * 1000),
            operation="fast-forward",
            added_files=[],
        )
        self._write_snapshot(adoption)
        # CAS the ref onto the adoption. A branch writer racing the
        # publish (single-writer contract says there shouldn't be one)
        # committed against the pre-adoption head — surface it rather
        # than silently orphaning its commit.
        self._advance_ref(
            name, head, adoption["snapshot_id"],
            f"branch {name!r} moved during fast_forward (head was {head}); "
            "the adoption is committed on main but the branch diverged — "
            "re-fork or re-point the ref manually",
        )
        return adoption

    # -- write-audit-publish (Iceberg WAP pattern) ---------------------------
    #
    # A staged commit persists its data files and a full snapshot
    # header, but the header lives under ``wap-<id>.json`` and the
    # version hint does NOT advance: readers of the table see nothing.
    # An auditor reads the staged state via ``read(wap_id=...)``
    # (row counts, invariant checks, dead-letter ratios), then either
    # ``publish_wap`` (metadata-only rename into the snapshot chain,
    # atomic via the create-exclusive header write) or ``abandon_wap``
    # (header + unshared manifests dropped; data files become vacuum
    # orphans). Manifests are content-addressed and shared with the
    # parent snapshot, so staging an N-bucket table that touches k
    # buckets costs O(k) metadata, same as a commit.

    def _wap_path(self, wap_id: str) -> str:
        return os.path.join(self.meta_dir, f"wap-{wap_id}.json")

    @staticmethod
    def _check_wap_id(wap_id: str) -> str:
        if (
            not wap_id
            or wap_id != wap_id.strip()
            or any(c in wap_id for c in "/\\")
            or wap_id.startswith(".")
        ):
            raise ValueError(f"bad wap id: {wap_id!r}")
        return wap_id

    def wap_ids(self) -> list[str]:
        """Ids of pending (staged, unpublished) commits."""
        return sorted(
            name[4:-5]
            for name in self.io.listdir(self.meta_dir)
            if name.startswith("wap-") and name.endswith(".json")
        )

    def _wap_raw(self, wap_id: str) -> dict:
        p = self._wap_path(self._check_wap_id(wap_id))
        if not self.io.exists(p):
            raise ValueError(f"no such staged commit: {wap_id!r}")
        return json.loads(self.io.read_text(p))

    def wap_snapshot(self, wap_id: str) -> dict:
        """The staged snapshot, manifests resolved (same shape as
        :meth:`snapshot` — feed it to auditing reads)."""
        return self._resolve_header(self._wap_raw(wap_id))

    def _write_wap_header(self, snapshot: dict, wap_id: str) -> dict:
        header = dict(snapshot)
        header["format"] = 2
        header["wap_id"] = wap_id
        header["buckets"] = self._write_manifests(snapshot["buckets"])
        header["deltas"] = self._write_manifests(snapshot.get("deltas", {}))
        # create-exclusive: two stagers racing the same wap id is a
        # caller bug surfaced here, not silently last-writer-wins
        self.io.write_text_atomic(
            self._wap_path(wap_id),
            json.dumps(header, indent=1, sort_keys=True),
            fail_if_exists=True,
        )
        self._name_by_list.clear()
        return header

    def _check_new_wap(self, wap_id: str) -> None:
        self._check_wap_id(wap_id)
        if self.io.exists(self._wap_path(wap_id)):
            raise ValueError(f"staged commit {wap_id!r} already exists")

    def stage_buckets(
        self,
        df: DataFrame,
        touched_buckets: list[int],
        new_watermarks: dict[int, str],
        wap_id: str,
        stats: dict | None = None,
        schema_version: int | None = None,
        columns: list[str] | None = None,
        operation: str = "overwrite",
    ) -> dict:
        """:meth:`commit_buckets` with the publish withheld: write the
        bucket rewrite's data files (under ``data/wap-<id>``) and a
        staged header; the table head does not move until
        :meth:`publish_wap`."""
        self._check_new_wap(wap_id)
        prev = self.current()
        new_files = self._write_bucket_data(
            df, self._fresh_stage_dir(f"wap-{wap_id}"), touched_buckets,
            prev.get("sort_cols"),
        )
        return self.stage_bucket_files(
            new_files, new_watermarks, wap_id, stats=stats,
            schema_version=schema_version, columns=columns, operation=operation,
            basis_snapshot_id=prev["snapshot_id"],
        )

    def stage_bucket_files(
        self,
        new_files: dict[str, list[str]],
        new_watermarks: dict[int, str],
        wap_id: str,
        stats: dict | None = None,
        schema_version: int | None = None,
        columns: list[str] | None = None,
        operation: str = "overwrite",
        basis_snapshot_id: int | None = None,
    ) -> dict:
        """Metadata-only half of :meth:`stage_buckets`: stage
        ALREADY-WRITTEN data files (``{bucket: [paths]}``, as for
        :meth:`commit_bucket_files`) as a header on top of
        ``basis_snapshot_id`` (default: the head). :meth:`publish_wap`
        refuses it if the head is no longer that snapshot."""
        self._check_new_wap(wap_id)
        snapshot = self._next_bucket_snapshot(
            new_files, new_watermarks, stats=stats,
            schema_version=schema_version, columns=columns, operation=operation,
            prev=self.snapshot(basis_snapshot_id),
        )
        self._write_wap_header(snapshot, wap_id)
        return snapshot

    def _fresh_stage_dir(self, base: str) -> str:
        """An unused data dir for a staged write. Re-staging a
        previously abandoned wap id must not collide with the abandoned
        attempt's data files (they await vacuum, min-age guarded) — the
        manifests record full paths, so the dir name is free to vary."""
        cand = os.path.join(self.data_dir, base)
        k = 1
        while self.io.exists(cand):
            k += 1
            cand = os.path.join(self.data_dir, f"{base}-r{k}")
        return cand

    def stage_deltas(
        self,
        df: DataFrame,
        touched_buckets: list[int],
        new_watermarks: dict[int, str],
        wap_id: str,
        stats: dict | None = None,
        schema_version: int | None = None,
        columns: list[str] | None = None,
    ) -> dict:
        """:meth:`commit_deltas` with the publish withheld (see
        :meth:`stage_buckets`)."""
        self._check_new_wap(wap_id)
        sid = self.current_snapshot_id()
        new_files = self._write_delta_data(
            df, self._fresh_stage_dir(f"wap-delta-{wap_id}"), touched_buckets
        )
        return self.stage_delta_files(
            new_files, new_watermarks, wap_id, stats=stats,
            schema_version=schema_version, columns=columns, basis_snapshot_id=sid,
        )

    def stage_delta_files(
        self,
        new_files: dict[str, list[str]],
        new_watermarks: dict[int, str],
        wap_id: str,
        stats: dict | None = None,
        schema_version: int | None = None,
        columns: list[str] | None = None,
        basis_snapshot_id: int | None = None,
    ) -> dict:
        """Metadata-only half of :meth:`stage_deltas` (see
        :meth:`stage_bucket_files`)."""
        self._check_new_wap(wap_id)
        snapshot = self._next_delta_snapshot(
            new_files, new_watermarks, stats=stats,
            schema_version=schema_version, columns=columns,
            prev=self.snapshot(basis_snapshot_id),
        )
        self._write_wap_header(snapshot, wap_id)
        return snapshot

    def publish_wap(self, wap_id: str) -> dict:
        """Fast-forward the table head to a staged commit. Metadata-only
        (the data files and manifests are already in place): writes the
        staged header into the snapshot chain and advances the hint.

        Raises ``ValueError`` if the head moved since staging — the
        staged rewrite was computed against a parent state that is no
        longer current, so publishing it would silently drop the
        intervening commit (Iceberg's non-fast-forward cherry-pick is
        deliberately NOT attempted: re-stage against the new head).
        The create-exclusive snapshot write also loses cleanly to a
        racing concurrent commit of the same id.

        Resumable: publish is three IO steps (snapshot header, version
        hint, staged-header delete) and a crash can land between any
        two. Re-calling publish_wap detects that the staged CONTENT
        (parent + content-addressed manifests) already sits in the
        chain — or already occupies the target header — and finishes
        the remaining steps instead of refusing, so a recovery process
        (engine/txn.py) can always roll a decided commit forward. A
        genuine head move by another writer never content-matches and
        still raises."""
        raw = self._wap_raw(wap_id)
        cur = self.current_snapshot_id()
        if raw["parent_id"] != cur:
            resumed = self._published_as(raw, cur)
            if resumed is not None:
                # our earlier publish wrote header + hint but crashed
                # before removing the staged header — finish that
                self.io.remove(self._wap_path(wap_id))
                return self.snapshot(resumed)
            raise ValueError(
                f"cannot publish {wap_id!r}: staged on parent "
                f"{raw['parent_id']} but head is {cur} — re-stage"
            )
        header = {k: v for k, v in raw.items() if k != "wap_id"}
        # same id-skip as _write_snapshot: a BRANCH header occupying the
        # staged id is not a publish race (the hint never moved)
        while True:
            sid = header["snapshot_id"]
            try:
                self.io.write_text_atomic(
                    self._snap_path(sid),
                    json.dumps(header, indent=1, sort_keys=True),
                    fail_if_exists=True,
                )
                break
            except FileExistsError:
                existing = self._raw_snapshot(sid)
                if "ref" not in existing:
                    if self._same_commit(existing, header):
                        # our earlier publish wrote this header but
                        # crashed before the hint — resume from here
                        break
                    raise
                header["snapshot_id"] = sid + 1
        self.io.write_text_atomic(
            os.path.join(self.meta_dir, "version-hint.text"), str(sid)
        )
        self.io.remove(self._wap_path(wap_id))
        return self.snapshot(sid)

    @staticmethod
    def _same_commit(a: dict, b: dict) -> bool:
        """Two snapshot headers describe the same commit iff they share
        the parent and the content-addressed manifest sets — the
        identity a crashed publish needs to recognize its own earlier
        write (snapshot ids may differ: the branch id-skip can bump
        the target between attempts)."""
        return (
            a.get("parent_id") == b.get("parent_id")
            and a.get("buckets") == b.get("buckets")
            and a.get("deltas", {}) == b.get("deltas", {})
        )

    def _published_as(self, raw: dict, cur: int | None) -> int | None:
        """If the staged header ``raw`` already landed in the main
        chain (a crash hit publish_wap between the hint write and the
        staged-header delete; later commits — e.g. post-publish MoR
        compaction — may sit above it), return its snapshot id."""
        sid = cur
        while sid is not None and sid != raw["parent_id"]:
            s = self._raw_snapshot_if_retained(sid)
            if s is None:
                return None
            if s.get("parent_id") == raw["parent_id"]:
                return sid if self._same_commit(s, raw) else None
            sid = s.get("parent_id")
        return None

    def abandon_wap(self, wap_id: str) -> None:
        """Drop a staged commit: delete its header and any manifests no
        retained snapshot or other staged commit references. Its data
        files become orphans that :meth:`vacuum` removes (min-age
        guarded, same as expired-snapshot data)."""
        raw = self._wap_raw(wap_id)
        dead = set(raw["buckets"].values()) | set(raw.get("deltas", {}).values())
        for sid in self.snapshots():
            s = self._raw_snapshot(sid)
            if s.get("format") == 2:
                dead -= set(s["buckets"].values()) | set(s.get("deltas", {}).values())
        for other in self.wap_ids():
            if other == wap_id:
                continue
            o = self._wap_raw(other)
            dead -= set(o["buckets"].values()) | set(o.get("deltas", {}).values())
        self.io.remove(self._wap_path(wap_id))
        for name in dead:
            self.io.remove(os.path.join(self.meta_dir, name))
            self._manifest_cache.pop(name, None)

    def expire_snapshots(
        self, keep_last: int = 1, older_than_ms: int | None = None
    ) -> list[int]:
        """Drop snapshot manifests older than the newest ``keep_last``
        (Iceberg ``expire_snapshots`` semantics): time travel to the
        expired ids stops working, and data files referenced ONLY by
        them become orphans that :meth:`vacuum` may delete. The current
        snapshot is always retained. Returns the expired ids.

        ``older_than_ms`` (Iceberg's ``expireOlderThan`` /
        ``retainLast`` pairing): when given, a snapshot additionally
        survives while its ``timestamp_ms`` is at or after the cutoff —
        the time-based retention policy ("keep a week of history")
        composed with the count floor. The cutoff only ever RETAINS
        more: every structural protection (tags, live branches,
        rollback dependency closure) applies on top.

        Metadata-scale: one listing + one delete per expired snapshot
        header, plus GC of bucket-manifest files referenced ONLY by
        expired snapshots (content-addressed manifests are shared
        across snapshots, so a manifest dies only when its last
        referencing header does); no Spark job, no data IO."""
        ids = self.snapshots()
        # retention follows MAIN's ancestry (walk parent_id from the
        # head), not the newest ids globally — branch commits interleave
        # globally-unique ids, and counting them against main's budget
        # would expire main history a branch commit displaced
        keep = set()
        sid: int | None = self.current_snapshot_id()
        for _ in range(max(int(keep_last), 1)):
            if sid is None:
                break
            keep.add(sid)
            raw = self._raw_snapshot_if_retained(sid)
            if raw is None:
                break
            sid = raw.get("parent_id")
        keep.add(self.current_snapshot_id())
        # Iceberg ref semantics: a tagged snapshot never expires — tags
        # are exactly the promise that this state stays readable — and
        # a live branch keeps its head plus its branch-exclusive
        # ancestry (ref-marked headers back to the fork point; the
        # fork's MAIN ancestors age out under main's own retention)
        keep.update(self.tags().values())
        for head in self.branches().values():
            b: int | None = head
            while b is not None and b not in keep:
                keep.add(b)
                raw = self._raw_snapshot_if_retained(b)
                if raw is None or raw.get("ref") is None:
                    break  # expired tail or reached the main chain
                b = raw.get("parent_id")
        if older_than_ms is not None:
            # time-based retention: young snapshots survive regardless
            # of the count floor. Must precede the rollback closure —
            # a young rollback's undone chain needs retaining too.
            for i in ids:
                if i in keep:
                    continue
                raw = self._raw_snapshot_if_retained(i)
                if raw is not None and raw.get("timestamp_ms", 0) >= older_than_ms:
                    keep.add(i)
        # a retained ROLLBACK header's revert emission is re-derived by
        # changes() from its target header plus the whole undone
        # (target, parent] chain — expiring any of those would wedge
        # every changefeed range crossing the rollback. Keep them,
        # transitively (an undone range may itself contain rollbacks,
        # and kept headers may be rollbacks of their own).
        frontier = list(keep)
        seen: set[int] = set()
        while frontier:
            s = frontier.pop()
            if s in seen:
                continue
            seen.add(s)
            raw = self._raw_snapshot_if_retained(s)
            if raw is None or raw.get("operation") != "rollback":
                continue
            tgt = raw.get("rollback_of")
            if tgt is None:
                continue  # pre-upgrade header: nothing derivable to keep
            dep: int | None = raw.get("parent_id")
            while dep is not None:
                if dep not in keep:
                    keep.add(dep)
                    frontier.append(dep)
                if dep == tgt:
                    break
                r2 = self._raw_snapshot_if_retained(dep)
                if r2 is None:
                    break  # tail already expired before this upgrade
                dep = r2.get("parent_id")
        expired = [i for i in ids if i not in keep]

        def refs(sid: int) -> set[str]:
            snap = self._raw_snapshot(sid)
            if snap.get("format") != 2:
                return set()
            return set(snap["buckets"].values()) | set(snap.get("deltas", {}).values())

        dead_refs = set()
        for sid in expired:
            dead_refs |= refs(sid)
        for sid in keep & set(ids):
            dead_refs -= refs(sid)
        # staged (write-audit-publish) commits share content-addressed
        # manifests with their parent — keep those alive too
        for wap_id in self.wap_ids():
            w = self._wap_raw(wap_id)
            dead_refs -= set(w["buckets"].values()) | set(w.get("deltas", {}).values())
        for sid in expired:
            self.io.remove(self._snap_path(sid))
        for name in dead_refs:
            self.io.remove(os.path.join(self.meta_dir, name))
            self._manifest_cache.pop(name, None)
        return expired

    def live_files(self) -> set[str]:
        """Every data file referenced by any retained snapshot or any
        pending staged (write-audit-publish) commit — vacuum must not
        sweep data that is still awaiting its audit."""
        live: set[str] = set()
        snaps = [self.snapshot(sid) for sid in self.snapshots()]
        snaps.extend(self.wap_snapshot(w) for w in self.wap_ids())
        for snap in snaps:
            for fl in snap["buckets"].values():
                live.update(fl)
            for fl in snap.get("deltas", {}).values():
                live.update(fl)
            for fl in snap.get("delete_vectors", {}).values():
                live.update(fl)
        return live

    def vacuum(self, dry_run: bool = False, min_age_seconds: float = 3600.0) -> list[str]:
        """Delete data files not referenced by any retained snapshot
        (orphans left by expired snapshots, compaction, CoW rewrites and
        aborted writes). Returns the orphan paths; ``dry_run`` lists
        without deleting.

        ``min_age_seconds``: files younger than this are NEVER deleted —
        commits write data files BEFORE the snapshot manifest, so a
        concurrent in-flight commit's files look unreferenced until its
        manifest lands. The retention window (Iceberg
        remove_orphan_files' older_than) makes background vacuum safe
        alongside writers; only set 0 when no writer can be active.

        Beyond that window, deletion is safe by construction: reads
        resolve files through snapshot manifests, never directory
        listing, so deleting an unreferenced file can't break a
        retained snapshot — run after :meth:`expire_snapshots`. Listing
        cost is one level-2 walk of ``data/`` (snap-*/delta-* dirs ×
        bucket dirs); at deploy scale this runs as a background
        maintenance job, not inline.

        Liveness compares paths RELATIVE to the data dir (suffix after
        the last ``/data/``): manifests record the committing handle's
        spelling of the table root, so raw string equality against
        paths built from THIS handle's root (relative vs absolute,
        './' prefixes, symlinked parents, scheme differences) would
        make every live file look like an orphan — and a non-dry-run
        vacuum would delete live table data.

        Also sweeps METADATA orphans: bucket-manifest files referenced
        by no retained snapshot header. Manifests are written before
        the create-exclusive header (commit protocol), so the loser of
        an optimistic-commit race — or a crash between
        expire_snapshots' header deletes and manifest deletes — leaves
        manifest files no header points at; without this sweep they
        accumulate unboundedly on contended tables. Same min-age guard
        as data files (an in-flight commit's manifests look
        unreferenced until its header lands)."""
        live = {_rel_to_data(p) for p in self.live_files()}
        now = time.time()
        orphans: list[str] = []
        kept_young = 0
        empty_dirs: list[str] = []
        for d in self.io.listdir(self.data_dir):
            ddir = os.path.join(self.data_dir, d)
            if not self.io.isdir(ddir):
                continue
            keep_here = 0
            for child in self.io.listdir(ddir):
                sub = os.path.join(ddir, child)
                if self.io.isdir(sub):
                    for f in self.io.listdir(sub):
                        p = os.path.join(sub, f)
                        if f.endswith(".parquet"):
                            if _rel_to_data(p) in live:
                                keep_here += 1
                            elif min_age_seconds and now - self.io.mtime(p) < min_age_seconds:
                                kept_young += 1
                                keep_here += 1  # possible in-flight commit
                            else:
                                orphans.append(p)
            if keep_here == 0:
                empty_dirs.append(ddir)
        # metadata sweep: manifest files no retained header references
        live_manifests: set[str] = set()
        headers = [self._raw_snapshot(sid) for sid in self.snapshots()]
        # pending staged (write-audit-publish) commits reference
        # manifests too — sweeping them would corrupt an audit in flight
        headers.extend(self._wap_raw(w) for w in self.wap_ids())
        for snap in headers:
            if snap.get("format") == 2:
                live_manifests |= set(snap["buckets"].values())
                live_manifests |= set(snap.get("deltas", {}).values())
                live_manifests |= set(snap.get("delete_vectors", {}).values())
        orphan_manifests: list[str] = []
        for name in self.io.listdir(self.meta_dir):
            if not (name.startswith("manifest-") and name.endswith(".json")):
                continue
            if name in live_manifests:
                continue
            p = os.path.join(self.meta_dir, name)
            if min_age_seconds and now - self.io.mtime(p) < min_age_seconds:
                continue  # possible in-flight commit
            orphan_manifests.append(p)
            self._manifest_cache.pop(name, None)
        orphans.extend(orphan_manifests)
        if not dry_run:
            for p in orphans:
                self.io.remove(p)
            for d in empty_dirs:  # no live or young data file at the
                # committed depth — but an IN-FLIGHT Spark write keeps
                # its output under _temporary/ (deeper), where the
                # parquet walk above never looks. Min-age-guard the
                # directory itself AND every nested file before
                # sweeping: a young tree may be a commit whose
                # manifest hasn't landed yet, and rmtree'ing it would
                # fail (or silently truncate) that write.
                if min_age_seconds:
                    if now - self.io.mtime(d) < min_age_seconds:
                        continue
                    newest = self.io.tree_newest_mtime(d)
                    if newest is not None and now - newest < min_age_seconds:
                        continue
                self.io.rmtree(d)
        return orphans

    def watermarks(self) -> dict[str, str]:
        return self.current()["watermarks"]


def snapshot_diff(
    t: "LakeTable", from_sid: int, to_sid: int | None = None
) -> DataFrame:
    """Row-level diff between two snapshots of ANY table, derived by
    comparing the two states — the changefeed fallback for
    copy-on-write tables, where :meth:`LakeTable.changes` legitimately
    raises (CoW overwrite snapshots retain no row-level log).

    Output: ``(repo, path, op, lang-and-payload...)`` with ``op='I'``
    (key only in the newer state, new image), ``'U'`` (key in both,
    any payload column differs null-safely, new image), ``'D'`` (key
    only in the older state, NULL payload — the same tombstone shape
    ``changes()`` emits). Unchanged keys are absent.

    Cost is O(both snapshots) — a full-outer join shuffled on the key
    — which is the honest price of diffing without a log; MoR tables
    should prefer ``changes()`` (O(changed rows)). The join compares
    ``content_sha`` (precomputed at commit) plus the payload columns
    null-safely, so wide content columns don't need byte comparison
    when the sha already differs... sha IS a payload-derived column,
    so comparing (sha, lang, non-content payload) suffices and the
    content bytes never feed the comparator.

    Payload columns come from the NEWER snapshot (schema evolution
    only ADDS columns; the older read NULL-fills them, and a row whose
    added column is non-NULL in the new state correctly diffs as U).
    """
    new_snap = t.snapshot(to_sid)
    payload = t.payload_cols(new_snap)
    old_df = t.read(from_sid)
    new_df = t.read(to_sid)
    old_payload = set(t.payload_cols(t.snapshot(from_sid)))
    return _state_diff(old_df, new_df, payload, old_payload)


def wap_diff(t: "LakeTable", wap_id: str) -> DataFrame:
    """Audit diff of a pending staged commit: the row-level I/U/D set
    that PUBLISHING ``wap_id`` would apply to the current head — the
    write-audit-publish review primitive (inspect exactly what would
    change, not the whole staged state). Same output contract and same
    O(both states) cost as :func:`snapshot_diff`; an auditor that only
    needs counts should aggregate this frame rather than re-deriving."""
    staged = t.wap_snapshot(wap_id)
    payload = t.payload_cols(staged)
    old_df = t.read()
    new_df = t.read(wap_id=wap_id)
    old_payload = set(t.payload_cols(t.current()))
    return _state_diff(old_df, new_df, payload, old_payload)


def _state_diff(
    old_df: DataFrame | None,
    new_df: DataFrame | None,
    payload: list[str],
    old_payload: set[str],
) -> DataFrame:
    if old_df is not None:
        # schema evolution only ADDS columns: NULL-fill the older
        # snapshot's frame up to the newer payload set (canonical
        # columns are strings by the WAL contract), so an added column
        # that is non-NULL in the new state diffs as U
        for c in payload:
            if c not in old_payload:
                old_df = old_df.withColumn(c, F.lit(None).cast("string"))
    keys = ["repo", "path"]
    # compare sha for content; every other payload column null-safely
    cmp_cols = ["content_sha"] + [c for c in payload if c != "content"]
    o = (old_df.select(*keys, *payload, "content_sha", F.lit(1).alias("_o"))
         if old_df is not None else None)
    n = (new_df.select(*keys, *payload, "content_sha", F.lit(1).alias("_n"))
         if new_df is not None else None)
    if n is None and o is None:
        raise ValueError("both snapshots are empty; nothing to diff")
    if o is None:
        return n.select(*keys, F.lit("I").alias("op"), *payload)
    if n is None:
        null_payload = [F.lit(None).cast("string").alias(c) for c in payload]
        return o.select(*keys, F.lit("D").alias("op"), *null_payload)
    on = o.select(*keys, *[F.col(c).alias(f"_old_{c}") for c in cmp_cols], "_o")
    joined = n.join(on, keys, "full_outer")
    changed = [
        ~F.col(c).eqNullSafe(F.col(f"_old_{c}")) for c in cmp_cols
    ]
    any_changed = changed[0]
    for c in changed[1:]:
        any_changed = any_changed | c
    op = (
        F.when(F.col("_o").isNull(), "I")
        .when(F.col("_n").isNull(), "D")
        .when(any_changed, "U")
    )
    out_payload = [
        F.when(F.col("_n").isNotNull(), F.col(c)).alias(c) for c in payload
    ]
    return (
        joined.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(*keys, "op", *out_payload)
    )
