"""Driver-side apply and staging of small batches.

A small batch spends most of its Spark apply in fixed cost — the
validate plan's analysis, a staging job, a stats aggregate, a merge
write — not in work on its rows. Below ``CDCEngine.LOCAL_MAX_ROWS``
input rows the batch is collected once with ``toArrow()`` (or arrives
collected, as a :class:`Collected` fan-out route slice) and applied or
staged here on the driver (F1 Query's centralized execution for small
work) with the same plan, kernels and commit as the Spark path:

- validation runs the engine's per-version grouping plan
  (``CDCEngine._validation_groups``): a chain with a native form is
  evaluated by the collect with the Spark path's native expressions,
  any other chain through :func:`kernel_runner` — the body of the Spark
  path's pandas UDF — over its rows handed over with ``to_pandas()``.
  As on the Spark path (``compile_field``), the collect also evaluates
  such a chain's identity guard (``compile_identity_guard``), and the
  kernel runs only on the rows the guard rejects: a row it passes keeps
  its input, error-free. Each group's parts read its input only on the
  rows of its versions;
- ``_bucket`` (:func:`buckets_of`), ``_wm``, watermark survival and the
  batch stats follow the Spark expressions, NULLs included;
- all bookkeeping around the kernels — merging native and kernel
  results, watermarks, stats (``group_by``), the LWW heads and the file
  builds (``sort_indices`` + adjacent-key compare) — runs in Arrow
  compute and numpy on whole columns, which release the GIL, so the
  routes of a fan-out overlap; only the kernels (and one hashlib call
  per copy-on-write row for ``content_sha``) run Python per row;
- merge-on-read: the in-batch last-writer-wins dedupe keeps tombstones
  and the delta files are written with pyarrow into the usual
  ``_bucket=<b>/`` layout;
- copy-on-write: the touched buckets' base files are read with
  pyarrow and folded last-writer-wins with the batch (deletes drop
  rows, payload columns a newer registry adds read as NULL), then each
  touched bucket is written as one file in ``sort_cols`` order — only
  while the table has no deltas or delete vectors and its base files
  hold at most ``COW_CURRENT_FACTOR`` x ``LOCAL_MAX_ROWS`` rows
  (footer counts);
- the files are committed through the metadata-only
  ``LakeTable.commit_{delta,bucket}_files`` against the snapshot the
  batch was validated under, or staged through
  ``LakeTable.stage_{delta,bucket}_files`` for ``stage_batch``, whose
  dead letters wait in ``_staging/txn-<hex>/_dead=true/`` (the Spark
  stager's ``_dead=true/`` under ``_batch=0/``) until publish or abandon;
- dead letters are written in the staging schema, then the engine's
  shared post-commit tail (compaction check, lineage) runs.

Table state, watermarks, dead letters, lineage and metrics equal the
Spark path's; tests/test_local_apply.py applies every fixture through
both paths and compares them.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import uuid
from typing import NamedTuple
from urllib.parse import unquote

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from filters_spark.lake.fileio import _scheme, write_parquet_local
from filters_spark.lake.xxh import buckets_of
from filters_spark.operators.validate import FieldSpec, kernel_runner
from filters_spark.session import job_description

PASSTHROUGH = ["commit", "event_seq", "op", "schema_version"]
_INTEGRAL = ("tinyint", "smallint", "int", "bigint")
# source types whose Arrow string cast spells values as Spark's does
_CASTABLE = ("string", "boolean", *_INTEGRAL)
# (staged schema, native chain part columns) by (registry, input
# schema), shared by every engine: each costs a validate-plan analysis
# and a few thousand JVM calls (see local_batch_plan)
_PLANS: dict[str, tuple] = {}
_PLANS_MAX = 64
_PLANS_LOCK = threading.Lock()
# copy-on-write: the base rows a driver-side merge may read, in units
# of LOCAL_MAX_ROWS (README.md, "Small batches on the driver")
COW_CURRENT_FACTOR = 10


def _file_scan(df: DataFrame) -> bool:
    """True when every leaf of ``df``'s plan is a file-source relation,
    so a frame without input files holds no rows (a read of an empty
    directory)."""
    try:
        it = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
        while it.hasNext():
            leaf = it.next()
            if (
                leaf.getClass().getSimpleName() != "LogicalRelation"
                or leaf.relation().getClass().getSimpleName() != "HadoopFsRelation"
            ):
                return False
        return True
    except Exception:
        return False


def parquet_footers(df: DataFrame):
    """Iterator over the parquet footers of ``df``'s input files, each
    read on the driver when reached (no Spark job); empty for a file
    scan without files; None when the frame has no input files
    otherwise or one of them is not on the local filesystem. Reading a
    file that is not parquet raises."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return iter(()) if _file_scan(df) else None
    paths = []
    for uri in files:
        if uri.startswith("file:"):
            # percent-encoded: a dir "sp ace%41" reads "sp%20ace%2541"
            path = unquote(uri[len("file:"):])
            # file:///x and file:/x both mean /x
            while path.startswith("//"):
                path = path[1:]
        elif "://" not in uri:
            path = uri
        else:
            return None  # non-local FS
        paths.append(path)
    import pyarrow.parquet as pq

    return (pq.ParquetFile(p).metadata for p in paths)


def _rows_at_most(footers, limit: int) -> bool:
    """True when the parquet ``footers`` hold at most ``limit`` rows;
    stops reading footers as soon as the count passes it."""
    if footers is None:
        return False
    rows = 0
    try:
        for md in footers:
            rows += md.num_rows
            if rows > limit:
                return False
    except Exception:  # not parquet: the Spark path reads it
        return False
    return True


def _cow_fits(engine, snap: dict) -> bool:
    """A copy-on-write merge may run on the driver: no deltas or delete
    vectors to fold, and a metadata-only bound on the base rows."""
    if any(snap.get("deltas", {}).values()) or any(snap.get("delete_vectors", {}).values()):
        return False
    import pyarrow.parquet as pq

    footers = (pq.ParquetFile(f).metadata for fl in snap["buckets"].values() for f in fl)
    return _rows_at_most(footers, COW_CURRENT_FACTOR * engine.LOCAL_MAX_ROWS)


def _sources(engine, columns: list[str]) -> list[str]:
    """Input columns validation reads: each group's source column and
    the canonical-named fallback raw of unknown versions."""
    used = {src for groups in engine._validation_groups(columns).values()
            for _, _, src in groups if src is not None}
    used |= {c for c in engine.registry.canonical_columns if c in columns}
    return sorted(used)


class Collected(NamedTuple):
    """A batch its caller already collected to the driver (the fan-out
    front half): ``table`` holds the columns :func:`collect_batch`
    would, ``plan`` is :func:`local_batch_plan` of its input schema
    against ``snap``, the snapshot it applies over."""

    table: pa.Table
    snap: dict
    plan: tuple


def frame_plan(engine, events: DataFrame, snap: dict) -> tuple | None:
    """:func:`local_batch_plan` of ``events`` when its input files'
    parquet footers hold at most ``LOCAL_MAX_ROWS`` rows, else None.
    Runs no Spark job."""
    if not _rows_at_most(parquet_footers(events), engine.LOCAL_MAX_ROWS):
        return None
    return local_batch_plan(engine, events.schema, snap)


def local_batch_plan(engine, schema: StructType, snap: dict) -> tuple | None:
    """``(staged schema, native part columns)`` for a batch of input
    ``schema`` when it can be applied on the driver, else None. Runs no
    Spark job; the caller bounds the row count.

    Driver-eligible: an engine without ref checks or CHECK constraints,
    scheme-less table and dead-letter dirs, a string ``commit``,
    integral ``event_seq`` and ``schema_version``, source columns whose
    string cast Arrow spells like Spark, and string-typed validated
    fields (the kernels' output type). Copy-on-write also needs
    :func:`_cow_fits`. The parts are :func:`_native_parts`'s."""
    cow = engine.write_mode == "cow"
    if (
        engine.ref_checks
        or engine.check_constraints
        or _scheme(engine.table.root) is not None
        or _scheme(engine.dead_letter_dir) is not None
    ):
        return None
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    if (
        not set(PASSTHROUGH) <= types.keys()
        or types["commit"] != "string"
        or types["event_seq"] not in _INTEGRAL
        or types["schema_version"] not in _INTEGRAL
        or any(types[c] not in _CASTABLE for c in _sources(engine, list(types)))
    ):
        return None
    for spec in engine.registry.versions.values():
        for chain in spec.field_specs.values():
            if FieldSpec.of(chain).dtype.split("(")[0].lower() != "string":
                return None
    if cow and not _cow_fits(engine, snap):
        return None
    # the Spark path's staged schema, analyzed once per (registry,
    # input schema) in the process over an empty frame (no job): native
    # chains may change a field's type, and the driver writes exactly
    # the types the Spark path would
    reg = engine.registry
    key = json.dumps(
        [reg.canonical_columns,
         [[v, s.field_specs, s.renames] for v, s in sorted(reg.versions.items())],
         schema.json()],
        sort_keys=True, default=repr,
    )
    plan = _PLANS.get(key)
    if plan is None:
        empty = engine.spark.createDataFrame([], schema)
        plan = engine._staged_frame(empty, snap).schema, _native_parts(engine, schema)
        with _PLANS_LOCK:
            if len(_PLANS) >= _PLANS_MAX:
                _PLANS.pop(next(iter(_PLANS)))
            _PLANS[key] = plan
    staged = plan[0]
    for field, groups in engine._validation_groups(list(types)).items():
        if staged[field].dataType.simpleString() != "string":
            return None
        # Spark's CASE coercion types a raw column like its fallback
        # source; the driver casts its strings back only when every
        # source has that type, so the cast is a round trip
        raw = staged[f"_raw_{field}"].dataType.simpleString()
        if raw != "string" and any(
            src is not None and types[src] != raw for _, _, src in groups
        ):
            return None
    return plan


def _native_parts(engine, schema: StructType) -> list[tuple]:
    """The Spark path's per-row JVM work, per (field, group) with a
    chain: ``(versions, input, build, built)``, where ``build(col)``
    gives ``(name, Column)`` pairs named by :func:`_native_names` — a
    native chain's final transform and first-error struct, or a kernel
    chain's identity guard (``compile_identity_guard``, as
    ``compile_field`` applies it) — for the collect to evaluate
    (:func:`part_columns`, which memoizes them in ``built``). The
    driver then runs a kernel only over the rows its guard rejects."""
    from filters_spark.functions.native import compile_identity_guard, compile_native_chain

    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    out = []
    for field, groups in engine._validation_groups(list(types)).items():
        for gi, (versions, chain_spec, src) in enumerate(groups):
            if chain_spec is None:
                continue
            spec = FieldSpec.of(chain_spec)
            if src is None:
                in_col = F.lit(None).cast("string")
            else:
                in_col = F.col(src) if types[src] == "string" else F.col(src).cast("string")
            t_name, e_name, g_name = _native_names(field, gi)
            parts = None
            if spec.mode in ("auto", "native"):
                parts = compile_native_chain(
                    field, spec.chain_spec, input_type="string", parts=True
                )
            if parts is not None:
                out.append((versions, in_col,
                            lambda c, p=parts, n=(t_name, e_name): list(zip(n, p(c))), {}))
                continue
            guard = compile_identity_guard(spec.chain_spec)
            if guard is not None:
                out.append((versions, in_col, lambda c, g=guard, n=g_name: [(n, g(c))], {}))
    return out


def part_columns(group: tuple, mask: Column, prefix: str = "") -> list[Column]:
    """The part columns of one :func:`_native_parts` ``group``, named
    ``prefix`` + part name, reading its input only where ``mask`` holds
    and NULL elsewhere: :func:`_validate` reads a group's parts on its
    own rows only, and a NULL costs the JVM next to nothing."""
    _, in_col, build, built = group
    # building a chain's columns costs hundreds of JVM calls: once per
    # distinct mask in the process
    key = str(mask)
    if key not in built:
        built[key] = build(F.when(mask, in_col))
    return [c.alias(prefix + n) for n, c in built[key]]


def _native_names(field: str, gi: int) -> tuple[str, str, str]:
    return f"__nat_t_{field}_{gi}", f"__nat_e_{field}_{gi}", f"__nat_g_{field}_{gi}"


def _validate(engine, tbl: pa.Table, errors_type: pa.DataType) -> dict[str, pa.Array]:
    """The staged columns (``_validated`` + ``_null_clean_raws``) as
    Arrow arrays over the input rows. A group whose native parts the
    collect evaluated (:func:`_native_parts`) takes them as the Spark
    path does; the others run the kernel over their rows."""
    n = tbl.num_rows
    col = {c: tbl.column(c).combine_chunks() for c in tbl.column_names}
    src = {c: pc.cast(col[c], pa.string()) for c in _sources(engine, tbl.column_names)}
    out = {c: col[c] for c in PASSTHROUGH}
    sv = out["schema_version"]
    error_type = errors_type.value_type
    null = pa.nulls(n, pa.string())
    # every error found, as its row and its struct, in field order
    err_rows, err_items = [pa.array([], pa.int64())], [pa.array([], error_type)]
    for field, groups in engine._validation_groups(tbl.column_names).items():
        values = null
        # unknown versions keep the canonical-named column as raw
        raws = src.get(field, null)
        for gi, (versions, chain_spec, name) in enumerate(groups):
            rows = pc.is_in(sv, value_set=pa.array(versions, sv.type))
            if not pc.any(rows).as_py():
                continue
            inp = src[name] if name is not None else null
            raws = pc.if_else(rows, inp, raws)
            if chain_spec is None:  # field not validated in these versions
                values = pc.if_else(rows, inp, values)
                continue
            t_name, e_name, g_name = _native_names(field, gi)
            if e_name in col:
                err = col[e_name]
                failed = pc.and_(rows, pc.is_valid(err))
                values = pc.if_else(pc.and_(rows, pc.is_null(err)), col[t_name], values)
                err_rows.append(pc.indices_nonzero(failed))
                err_items.append(err.filter(failed).cast(error_type))
                continue
            # a row its identity guard passes keeps its input, error-free
            values = pc.if_else(rows, inp, values)
            run = rows if g_name not in col else pc.and_(rows, pc.invert(col[g_name]))
            if not pc.any(run).as_py():
                continue
            res = kernel_runner(field, FieldSpec.of(chain_spec))(inp.filter(run).to_pandas())
            values = pc.replace_with_mask(values, run, pa.array(res["value"], pa.string()))
            found = pa.array(res["errors"], errors_type)
            err_rows.append(pc.indices_nonzero(run).take(pc.list_parent_indices(found)))
            err_items.append(pc.list_flatten(found))
        out[field] = values
        out[f"_raw_{field}"] = raws
    at = pa.concat_arrays([pc.cast(r, pa.int64()) for r in err_rows])
    items = pa.concat_arrays(err_items)
    # an unknown version's one error replaces the others
    known = pa.array(sorted(engine.registry.versions), sv.type)
    unknown = pc.invert(pc.is_in(sv, value_set=known))
    kept = pc.invert(unknown.take(at))
    u = pc.indices_nonzero(unknown)
    v = pc.fill_null(pc.cast(sv.take(u), pa.string()), "null")
    at = pa.concat_arrays([at.filter(kept), pc.cast(u, pa.int64())])
    items = pa.concat_arrays([items.filter(kept), pa.StructArray.from_arrays(
        [pa.repeat("schema_version", len(u)), pa.repeat("unknown_schema_version", len(u)),
         pc.binary_join_element_wise("No spec registered for schema_version=", v, "")],
        names=["key", "code", "message"],
    ).cast(error_type)])
    counts = np.bincount(at.to_numpy(), minlength=n)
    offsets = pa.array(np.concatenate([[0], np.cumsum(counts)]), pa.int32())
    # a stable sort by row keeps each row's errors in field order
    out["_errors"] = pa.ListArray.from_arrays(offsets, items.take(pc.sort_indices(at))) \
        .cast(errors_type)
    dead = out["_dead"] = pa.array(counts > 0)
    for field in engine.registry.canonical_columns:  # keep_raw="on_error"
        out[f"_raw_{field}"] = pc.if_else(dead, out[f"_raw_{field}"], None)
    return out


def _wm(commit, seq):
    """``watermark_str``: NULL in, NULL out; lpad pads or truncates."""
    padded = pc.utf8_lpad(pc.cast(seq, pa.string()), 20, "0")
    return pc.binary_join_element_wise(commit, pc.utf8_slice_codeunits(padded, 0, 20), ":")


def _key_starts(tbl: pa.Table, keys: list[str]) -> pa.Array:
    """True at each row of the key-sorted ``tbl`` whose (non-NULL)
    ``keys`` differ from the previous row's."""
    n = tbl.num_rows
    if n == 0:
        return pa.array([], pa.bool_())
    new = pa.repeat(False, n - 1)
    for k in keys:
        c = tbl.column(k).combine_chunks()
        new = pc.or_(new, pc.not_equal(c.slice(1), c.slice(0, n - 1)))
    return pa.concat_arrays([pa.array([True]), new])


def collect_batch(engine, events: DataFrame, plan: tuple) -> pa.Table:
    """The columns :func:`apply_local` reads of ``events`` — passthrough,
    sources and the plan's part columns — as one Arrow table: a
    ``toArrow()`` job, or none for a frame without input files (a file
    scan of an empty directory)."""
    sv = F.col("schema_version")
    frame = events.select(*PASSTHROUGH, *_sources(engine, events.columns),
                          *[c for g in plan[1] for c in part_columns(g, sv.isin(g[0]))])
    if frame.inputFiles():
        with job_description(frame.sparkSession, "filters_spark: local collect "
                             f"{os.path.basename(engine.table.root)}"):
            return frame.toArrow()
    return to_arrow_schema(frame.schema).empty_table()


def apply_local(engine, tbl: pa.Table, snap: dict, plan: tuple, t0: float,
                wap_id: str | None = None):
    """Apply one driver-eligible batch, collected to ``tbl`` with the
    columns :func:`collect_batch` selects (``plan``:
    :func:`local_batch_plan` of its input schema); the metrics equal
    ``CDCEngine.apply_batch``'s on the Spark path. With ``wap_id`` the
    batch is staged instead and the :class:`StagedBatch` equals
    ``CDCEngine.stage_batch``'s."""
    schema = plan[0]
    if tbl.num_rows == 0:
        if wap_id is not None:
            return engine._empty_stage(snap, t0)
        return engine._untouched_metrics(engine._batch_stats([]), snap, t0)
    arrow = to_arrow_schema(schema)
    cols = _validate(engine, tbl, arrow.field("_errors").type)
    nb, wms = snap["num_buckets"], snap["watermarks"]
    bucket = cols["_bucket"] = buckets_of(cols["repo"], cols["path"], nb, snap["path_salt"])
    wm = cols["_wm"] = _wm(cols["commit"], cols["event_seq"])
    staged = pa.table([pc.cast(cols[f.name], f.type) for f in arrow], schema=arrow)
    dead = cols["_dead"]
    # _with_survives: NULL bucket watermark -> True; NULL _wm -> NULL
    bucket_wm = pa.array([wms.get(str(b)) for b in range(nb)], pa.string()).take(bucket)
    survives = pc.if_else(pc.is_null(bucket_wm), True, pc.greater(wm, bucket_wm))
    stats = pa.table({"_dead": dead, "_survives": survives, "_bucket": bucket, "wm": wm}) \
        .group_by(["_dead", "_survives", "_bucket"]).aggregate([("wm", "max"), ([], "count_all")])
    p = engine._batch_stats([
        {"_dead": d, "_survives": s, "_bucket": b, "wm": w, "n": c}
        for d, s, b, w, c in zip(*(stats.column(k).to_pylist() for k in
                                   ("_dead", "_survives", "_bucket", "wm_max", "count_all")))
    ])

    # dead letters: adopted after the commit, or kept in the stage's
    # scratch dir until publish or abandon
    if wap_id is None:
        scratch, adopt_name = None, f"batch-{uuid.uuid4().hex}"
        dead_dir = os.path.join(engine.dead_letter_dir, adopt_name)
    else:
        scratch = os.path.join(engine.table.root, "_staging", f"txn-{uuid.uuid4().hex}")
        adopt_name, dead_dir = os.path.basename(scratch), os.path.join(scratch, "_dead=true")

    def write_dead() -> None:
        if p["n_dead"]:
            write_parquet_local(staged.drop_columns(["_dead"]).filter(dead), dead_dir)

    try:
        if wap_id is not None:
            write_dead()
        if not p["touched"]:
            if wap_id is not None:
                return engine._staged_handle(
                    None, snap, None, dead_dir, adopt_name, p, t0, scratch=scratch
                )
            write_dead()
            return engine._untouched_metrics(p, snap, t0)

        # in-batch LWW per key, tombstones kept: _wm desc, NULLs last,
        # the first event of a tie; heads come out in key order
        live = pc.and_(pc.and_(pc.invert(dead), pc.fill_null(survives, False)),
                       pc.and_(pc.is_valid(cols["repo"]), pc.is_valid(cols["path"])))
        cand = staged.select(["_bucket", "repo", "path", "_wm"]).filter(live)
        order = pc.sort_indices(cand, sort_keys=[
            ("_bucket", "ascending"), ("repo", "ascending"), ("path", "ascending"),
            ("_wm", "descending"),
        ], null_placement="at_end")
        firsts = _key_starts(cand.take(order), ["_bucket", "repo", "path"])
        heads = staged.select(["_bucket", "repo", "path", "commit", "event_seq",
                               *engine._payload_cols(), "op"]) \
            .take(pc.indices_nonzero(live).take(order.filter(firsts)))
        table = engine.table
        tag = f"{snap['snapshot_id'] + 1:08d}-{uuid.uuid4().hex[:8]}"
        commit_kw = dict(
            stats={"rows_applied": p["applied"], "batch_dead_lettered": p["n_dead"]},
            schema_version=engine.registry.latest,
            columns=engine.registry.canonical_columns,
            basis_snapshot_id=snap["snapshot_id"],
        )
        if engine.write_mode == "mor":
            out_dir = (
                os.path.join(table.data_dir, f"delta-{tag}") if wap_id is None
                else table._fresh_stage_dir(f"wap-delta-{wap_id}")
            )
            new_files = _write_deltas(engine, heads, out_dir)
            commit, stage = table.commit_delta_files, table.stage_delta_files
        else:
            out_dir = (
                os.path.join(table.data_dir, f"snap-{tag}") if wap_id is None
                else table._fresh_stage_dir(f"wap-{wap_id}")
            )
            new_files = _write_cow(engine, snap, heads, p["touched"], out_dir)
            commit, stage = table.commit_bucket_files, table.stage_bucket_files
        if wap_id is not None:
            header = stage(new_files, p["new_wms"], wap_id, **commit_kw)
            return engine._staged_handle(
                wap_id, snap, header, dead_dir, adopt_name, p, t0, scratch=scratch
            )
        new_snap = commit(new_files, p["new_wms"], **commit_kw)
    except BaseException:
        if scratch is not None:
            engine.io.rmtree(scratch)
        raise
    return engine._after_commit(new_snap, p, write_dead, t0)


def _by_bucket(rows: pa.Table) -> dict[int, pa.Table]:
    """The bucket-sorted ``rows`` as one zero-copy slice per bucket."""
    counts = pc.value_counts(rows.column("_bucket"))  # in order of appearance
    out, at = {}, 0
    for b, k in zip(counts.field("values").to_pylist(), counts.field("counts").to_pylist()):
        out[b], at = rows.slice(at, k), at + k
    return out


def _write_deltas(engine, heads: pa.Table, out_dir: str) -> dict:
    """The batch's LWW heads (tombstones kept, key-ordered) as one
    delta file per bucket, rows in (repo, path) order."""
    cols = ["repo", "path", "commit", "event_seq", *engine._payload_cols(), "op"]
    return {
        str(b): [write_parquet_local(rows.select(cols), os.path.join(out_dir, f"_bucket={b}"))]
        for b, rows in _by_bucket(heads).items()
    }


def _sha256_hex(strings) -> pa.Array:
    """``sha2(coalesce(s, ''), 256)`` of each string. Arrow has no
    SHA-256 kernel: one hashlib call per value, over the UTF-8 buffer
    without building Python strings."""
    arr = pc.fill_null(strings, "").combine_chunks()
    off = np.frombuffer(arr.buffers()[1], np.int32, len(arr) + 1, arr.offset * 4).tolist()
    data = memoryview(arr.buffers()[2] or b"")
    sha = hashlib.sha256
    return pa.array([sha(data[i:j]).hexdigest() for i, j in zip(off, off[1:])], pa.string())


def _write_cow(engine, snap: dict, heads: pa.Table, touched: list[int], out_dir: str) -> dict:
    """``lww_merge`` of the touched buckets' base rows with the batch's
    LWW heads, one file per bucket (none for a bucket the batch
    emptied), ordered like ``LakeTable._write_bucket_data`` writes it:
    by ``sort_cols`` when the table has them, else (repo, path)."""
    import pyarrow.parquet as pq

    payload = engine._payload_cols()
    arrow = pa.schema(
        [pa.field(c, pa.string()) for c in ("repo", "path", "commit")]
        + [pa.field("event_seq", pa.int64())]
        + [pa.field(c, pa.string()) for c in (*payload, "content_sha")]
    )
    sort_cols = snap.get("sort_cols") or []
    heads_of = _by_bucket(heads)
    new_files: dict[str, list[str]] = {}
    for b in touched:
        batch = heads_of.get(b, heads.slice(0, 0))
        parts = [pa.table(
            [pc.cast(batch.column(c), t.type) for c, t in zip(arrow.names[:-1], arrow)]
            + [_sha256_hex(batch.column("content")), batch.column("op")],
            names=[*arrow.names, "op"],
        )]
        for f in snap["buckets"].get(str(b), []):
            cur = pq.ParquetFile(f).read()
            parts.append(pa.table(
                [
                    cur.column(c).cast(t.type) if c in cur.column_names
                    else pa.nulls(cur.num_rows, t.type)
                    for c, t in zip(arrow.names, arrow)
                ] + [pa.nulls(cur.num_rows, pa.string())],
                names=[*arrow.names, "op"],
            ))
        # the newest version of each key wins (_wm desc, NULLs last);
        # the batch rows come first, so a tie goes to the batch event.
        # Winners come out in (repo, path) order.
        merged = pa.concat_tables(parts)
        keys = merged.select(["repo", "path", "op"]).append_column(
            "_wm", _wm(merged.column("commit"), merged.column("event_seq")))
        order = pc.sort_indices(keys, sort_keys=[
            ("repo", "ascending"), ("path", "ascending"), ("_wm", "descending"),
        ], null_placement="at_end")
        keys = keys.take(order)
        win = pc.and_(_key_starts(keys, ["repo", "path"]),
                      pc.invert(pc.fill_null(pc.equal(keys.column("op").combine_chunks(), "D"),
                                             False)))
        merged = merged.select(arrow.names).take(order.filter(win))
        if sort_cols:
            merged = merged.take(pc.sort_indices(
                merged, sort_keys=[(c, "ascending") for c in (*sort_cols, "repo", "path")],
                null_placement="at_start",
            ))
        new_files[str(b)] = (
            [write_parquet_local(merged, os.path.join(out_dir, f"_bucket={b}"))]
            if merged.num_rows else []
        )
    return new_files
