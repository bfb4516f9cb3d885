"""Driver-side apply and staging of small batches.

A small batch spends most of its Spark apply in fixed cost — the
validate plan's analysis, a staging job, a stats aggregate, a merge
write — not in work on its rows. Below ``CDCEngine.LOCAL_MAX_ROWS``
input rows the batch is collected once with ``toArrow()`` and applied
or staged here on the driver (F1 Query's centralized execution for
small work) with the same plan, kernels and commit as the Spark path:

- validation runs the engine's per-version grouping plan
  (``CDCEngine._validation_groups``): a chain with a native form is
  evaluated by the collect with the Spark path's native expressions,
  any other chain through :func:`kernel_runner` — the body of the Spark
  path's pandas UDF;
- ``_bucket`` (:func:`bucket_of`), ``_wm``, watermark survival and the
  batch stats follow the Spark expressions, NULLs included;
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
  dead letters wait in ``_staging/txn-<hex>/_dead=true/`` exactly as
  the Spark stager leaves them;
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

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from filters_spark.lake.fileio import _scheme, write_parquet_local
from filters_spark.lake.xxh import bucket_of
from filters_spark.operators.validate import FieldSpec, kernel_runner

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
            path = uri[len("file:"):]
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


def local_batch_plan(engine, events: DataFrame, snap: dict) -> tuple | None:
    """``(staged schema, native part columns)`` of ``events`` when the
    batch can be applied on the driver, else None. Runs no Spark job:
    the row count comes from the input files' parquet footers.

    Driver-eligible: an engine without ref checks or CHECK constraints,
    scheme-less table and dead-letter dirs, parquet input of at most
    ``LOCAL_MAX_ROWS`` rows, a string ``commit``, integral
    ``schema_version``, integral or (merge-on-read only) string
    ``event_seq``, source columns whose string cast Arrow spells like
    Spark, and string-typed validated fields (the kernels' output
    type). Copy-on-write also needs :func:`_cow_fits`."""
    cow = engine.write_mode == "cow"
    if (
        engine.ref_checks
        or engine.check_constraints
        or _scheme(engine.table.root) is not None
        or _scheme(engine.dead_letter_dir) is not None
    ):
        return None
    types = {f.name: f.dataType.simpleString() for f in events.schema.fields}
    if (
        not set(PASSTHROUGH) <= types.keys()
        or types["commit"] != "string"
        or types["schema_version"] not in _INTEGRAL
        or types["event_seq"] not in (_INTEGRAL if cow else (*_INTEGRAL, "string"))
        or any(types[c] not in _CASTABLE for c in _sources(engine, list(types)))
    ):
        return None
    for spec in engine.registry.versions.values():
        for chain in spec.field_specs.values():
            if FieldSpec.of(chain).dtype.split("(")[0].lower() != "string":
                return None
    if not _rows_at_most(parquet_footers(events), engine.LOCAL_MAX_ROWS):
        return None
    if cow and not _cow_fits(engine, snap):
        return None
    # the Spark path's staged schema, analyzed once per (registry,
    # input schema) in the process: native chains may change a field's
    # type, and the driver writes exactly the types the Spark path would
    reg = engine.registry
    key = json.dumps(
        [reg.canonical_columns,
         [[v, s.field_specs, s.renames] for v, s in sorted(reg.versions.items())],
         events.schema.json()],
        sort_keys=True, default=repr,
    )
    plan = _PLANS.get(key)
    if plan is None:
        plan = engine._staged_frame(events, snap).schema, _native_parts(engine, events)
        with _PLANS_LOCK:
            if len(_PLANS) >= _PLANS_MAX:
                _PLANS.pop(next(iter(_PLANS)))
            _PLANS[key] = plan
    schema = plan[0]
    for field, groups in engine._validation_groups(list(types)).items():
        if schema[field].dataType.simpleString() != "string":
            return None
        # Spark's CASE coercion types a raw column like its fallback
        # source; the driver casts its strings back only when every
        # source has that type, so the cast is a round trip
        raw = schema[f"_raw_{field}"].dataType.simpleString()
        if raw != "string" and any(
            src is not None and types[src] != raw for _, _, src in groups
        ):
            return None
    return plan


def _native_parts(engine, events: DataFrame) -> list:
    """The Spark path's native chain parts — per (field, group), the
    final transform and the first-error struct — as columns named by
    :func:`_native_names`, for the collect to evaluate in the JVM: the
    driver then runs only the chains that need a kernel."""
    from filters_spark.functions.native import compile_native_chain

    types = dict(events.dtypes)
    out = []
    for field, groups in engine._validation_groups(events.columns).items():
        for gi, (_, chain_spec, src) in enumerate(groups):
            if chain_spec is None or FieldSpec.of(chain_spec).mode not in ("auto", "native"):
                continue
            parts = compile_native_chain(
                field, FieldSpec.of(chain_spec).chain_spec, input_type="string", parts=True
            )
            if parts is None:
                continue
            if src is None:
                in_col = F.lit(None).cast("string")
            else:
                in_col = F.col(src) if types[src] == "string" else F.col(src).cast("string")
            t_name, e_name = _native_names(field, gi)
            value, err = parts(in_col)
            out += [value.alias(t_name), err.alias(e_name)]
    return out


def _native_names(field: str, gi: int) -> tuple[str, str]:
    return f"__nat_t_{field}_{gi}", f"__nat_e_{field}_{gi}"


def _validate(engine, tbl: pa.Table) -> dict[str, list]:
    """The staged columns (``_validated`` + ``_null_clean_raws``) as
    Python lists, one entry per input row. A group whose native parts
    the collect evaluated (:func:`_native_parts`) takes them as the
    Spark path does; the others run the kernel."""
    n = tbl.num_rows
    src = {
        c: pc.cast(tbl.column(c), pa.string()).to_pylist()
        for c in _sources(engine, tbl.column_names)
    }
    out = {c: tbl.column(c).to_pylist() for c in PASSTHROUGH}
    sv = out["schema_version"]
    errors: list[list] = [[] for _ in range(n)]
    for field, groups in engine._validation_groups(tbl.column_names).items():
        values = [None] * n
        # unknown versions keep the canonical-named column as raw
        raws = list(src.get(field, values))
        for gi, (versions, chain_spec, col) in enumerate(groups):
            rows = [i for i, v in enumerate(sv) if v in versions]
            if not rows:
                continue
            inp = [src[col][i] for i in rows] if col is not None else [None] * len(rows)
            for i, x in zip(rows, inp):
                raws[i] = x
            if chain_spec is None:  # field not validated in these versions
                for i, x in zip(rows, inp):
                    values[i] = x
                continue
            t_name, e_name = _native_names(field, gi)
            if e_name in tbl.column_names:
                t, e = tbl.column(t_name).to_pylist(), tbl.column(e_name).to_pylist()
                for i in rows:
                    if e[i] is None:
                        values[i] = t[i]
                    else:
                        errors[i].append(e[i])
                continue
            res = kernel_runner(field, FieldSpec.of(chain_spec))(pd.Series(inp, dtype=object))
            for i, v, e in zip(rows, res["value"].tolist(), res["errors"].tolist()):
                values[i] = v
                errors[i].extend(e)
        out[field] = values
        out[f"_raw_{field}"] = raws
    known = set(engine.registry.versions)
    for i, v in enumerate(sv):
        if v not in known:
            errors[i] = [{
                "key": "schema_version", "code": "unknown_schema_version",
                "message": f"No spec registered for schema_version={'null' if v is None else v}",
            }]
    for field in engine.registry.canonical_columns:  # keep_raw="on_error"
        out[f"_raw_{field}"] = [r if e else None for r, e in zip(out[f"_raw_{field}"], errors)]
    out["_errors"] = errors
    return out


def _wm(commit, seq) -> str | None:
    """``watermark_str``: NULL in, NULL out; lpad pads or truncates."""
    if commit is None or seq is None:
        return None
    return f"{commit}:{str(seq).rjust(20, '0')[:20]}"


def _table(cols: dict[str, list], schema: StructType, rows: list[int]) -> pa.Table:
    arrow = to_arrow_schema(schema)
    arrays = []
    for f in arrow:
        vals = [cols[f.name][i] for i in rows]
        if f.name.startswith("_raw_") and not pa.types.is_string(f.type):
            arrays.append(pc.cast(pa.array(vals, pa.string()), f.type))
        else:
            arrays.append(pa.array(vals, type=f.type))
    return pa.table(arrays, schema=arrow)


def _collect(frame: DataFrame) -> pa.Table:
    """``frame`` as one Arrow table: a ``toArrow()`` job, or none for a
    frame without input files (a file scan of an empty directory)."""
    if frame.inputFiles():
        return frame.toArrow()
    return to_arrow_schema(frame.schema).empty_table()


def apply_local(engine, events: DataFrame, snap: dict, plan: tuple, t0: float,
                wap_id: str | None = None):
    """Apply one driver-eligible batch (``plan``: :func:`local_batch_plan`);
    the metrics equal ``CDCEngine.apply_batch``'s on the Spark path.
    With ``wap_id`` the batch is staged instead and the
    :class:`StagedBatch` equals ``CDCEngine.stage_batch``'s."""
    schema, native = plan
    tbl = _collect(events.select(*PASSTHROUGH, *_sources(engine, events.columns), *native))
    if tbl.num_rows == 0:
        if wap_id is not None:
            return engine._empty_stage(snap, t0)
        return engine._untouched_metrics(engine._batch_stats([]), snap, t0)
    cols = _validate(engine, tbl)
    n = tbl.num_rows
    nb, salt, wm_map = snap["num_buckets"], snap["path_salt"], snap["watermarks"]
    repo, path, errors = cols["repo"], cols["path"], cols["_errors"]
    bucket = cols["_bucket"] = [bucket_of(r, p, nb, salt) for r, p in zip(repo, path)]
    wm = cols["_wm"] = [_wm(c, s) for c, s in zip(cols["commit"], cols["event_seq"])]
    dead = [bool(e) for e in errors]
    # _with_survives: NULL bucket watermark -> True; NULL _wm -> NULL
    survives = []
    for b, w in zip(bucket, wm):
        bw = wm_map.get(str(b))
        survives.append(True if bw is None else (None if w is None else w > bw))

    agg: dict[tuple, list] = {}
    for key in zip(dead, survives, bucket, wm):
        cur = agg.setdefault(key[:3], [None, 0])
        cur[1] += 1
        if key[3] is not None and (cur[0] is None or key[3] > cur[0]):
            cur[0] = key[3]
    p = engine._batch_stats([
        {"_dead": d, "_survives": s, "_bucket": b, "wm": w, "n": c}
        for (d, s, b), (w, c) in agg.items()
    ])

    # dead letters: adopted after the commit, or kept in the stage's
    # scratch dir (the Spark stager's layout) until publish or abandon
    if wap_id is None:
        scratch, adopt_name = None, f"batch-{uuid.uuid4().hex}"
        dead_dir = os.path.join(engine.dead_letter_dir, adopt_name)
    else:
        scratch = os.path.join(engine.table.root, "_staging", f"txn-{uuid.uuid4().hex}")
        adopt_name, dead_dir = os.path.basename(scratch), os.path.join(scratch, "_dead=true")

    def write_dead() -> None:
        if p["n_dead"]:
            dl = StructType([f for f in schema.fields if f.name != "_dead"])
            write_parquet_local(_table(cols, dl, [i for i in range(n) if dead[i]]), dead_dir)

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

        # in-batch LWW per key, tombstones kept: _wm desc, NULLs last
        head: dict[tuple, int] = {}
        for i in range(n):
            if dead[i] or survives[i] is not True or repo[i] is None or path[i] is None:
                continue
            k = (bucket[i], repo[i], path[i])
            j = head.get(k)
            if j is None or (wm[i] is not None and (wm[j] is None or wm[i] > wm[j])):
                head[k] = i
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
            new_files = _write_deltas(engine, cols, schema, head, out_dir)
            commit, stage = table.commit_delta_files, table.stage_delta_files
        else:
            out_dir = (
                os.path.join(table.data_dir, f"snap-{tag}") if wap_id is None
                else table._fresh_stage_dir(f"wap-{wap_id}")
            )
            new_files = _write_cow(engine, snap, cols, head, p["touched"], out_dir)
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


def _write_deltas(engine, cols: dict, schema: StructType, head: dict, out_dir: str) -> dict:
    """The batch's LWW heads (tombstones kept) as one delta file per
    bucket, rows in (repo, path) order."""
    delta = StructType([
        schema[c] for c in
        ["repo", "path", "commit", "event_seq", *engine._payload_cols(), "op"]
    ])
    by_bucket: dict[int, list[int]] = {}
    for k, i in sorted(head.items()):  # (repo, path) order within a bucket
        by_bucket.setdefault(k[0], []).append(i)
    return {
        str(b): [
            write_parquet_local(_table(cols, delta, rows), os.path.join(out_dir, f"_bucket={b}"))
        ]
        for b, rows in by_bucket.items()
    }


def _write_cow(engine, snap: dict, cols: dict, head: dict, touched: list[int],
               out_dir: str) -> dict:
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
    sort_keys = [(c, "ascending") for c in (snap.get("sort_cols") or [])]
    sort_keys += [("repo", "ascending"), ("path", "ascending")]
    heads: dict[int, dict] = {}
    for (b, *key), i in head.items():
        heads.setdefault(b, {})[tuple(key)] = i
    new_files: dict[str, list[str]] = {}
    for b in touched:
        keep = heads.get(b, {})
        parts = []
        for f in snap["buckets"].get(str(b), []):
            cur = pq.ParquetFile(f).read()
            cur = pa.table(
                [
                    cur.column(c).cast(t.type) if c in cur.column_names
                    else pa.nulls(cur.num_rows, t.type)
                    for c, t in zip(arrow.names, arrow)
                ],
                schema=arrow,
            )
            rows = []
            for r, (k, c, s) in enumerate(zip(
                zip(cur.column("repo").to_pylist(), cur.column("path").to_pylist()),
                cur.column("commit").to_pylist(), cur.column("event_seq").to_pylist(),
            )):
                i = keep.get(k)
                if i is not None:
                    w, wi = _wm(c, s), cols["_wm"][i]
                    # _wm desc, NULLs last: the base row wins only over
                    # an older or NULL-positioned event
                    if w is None or (wi is not None and wi >= w):
                        continue
                    del keep[k]
                rows.append(r)
            parts.append(cur.take(pa.array(rows, pa.int64())))
        live = [i for i in keep.values() if cols["op"][i] != "D"]
        parts.append(pa.table(
            [pa.array([cols[c][i] for i in live], t.type) for c, t in zip(arrow.names[:-1], arrow)]
            + [pa.array(
                [hashlib.sha256((cols["content"][i] or "").encode()).hexdigest() for i in live],
                pa.string(),
            )],
            schema=arrow,
        ))
        merged = pa.concat_tables(parts)
        merged = merged.take(pc.sort_indices(merged, sort_keys=sort_keys, null_placement="at_start"))
        new_files[str(b)] = (
            [write_parquet_local(merged, os.path.join(out_dir, f"_bucket={b}"))]
            if merged.num_rows else []
        )
    return new_files
