"""Driver-side apply of small merge-on-read batches.

A small tail batch spends most of its Spark apply in fixed cost — the
validate plan's analysis, a staging job, a stats aggregate, a delta
write — not in work on its rows. Below ``CDCEngine.LOCAL_MAX_ROWS``
input rows the batch is collected once with ``toArrow()`` and applied
here on the driver (F1 Query's centralized execution for small work)
with the same plan, kernels and commit as the Spark path:

- validation runs the engine's per-version grouping plan
  (``CDCEngine._validation_groups``), each chain through
  :func:`kernel_runner` — the body of the Spark path's pandas UDF;
- ``_bucket`` (:func:`bucket_of`), ``_wm``, watermark survival and the
  batch stats follow the Spark expressions, NULLs included;
- the in-batch last-writer-wins dedupe keeps tombstones, and the delta
  files are written with pyarrow into the usual
  ``data/delta-<sid>-<tag>/_bucket=<b>/`` layout and committed through
  the metadata-only :meth:`LakeTable.commit_delta_files`, against the
  snapshot the batch was validated under;
- dead letters are written in the staging schema, then the engine's
  shared post-commit tail (compaction check, lineage) runs.

Table state, watermarks, dead letters, lineage and metrics equal the
Spark path's; tests/test_local_apply.py applies every fixture through
both paths and compares them.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
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
# staged schemas by (registry, input schema), shared by every engine:
# each costs a validate-plan analysis (see local_batch_schema)
_SCHEMAS: dict[str, StructType] = {}
_SCHEMAS_MAX = 64
_SCHEMAS_LOCK = threading.Lock()


def parquet_footers(df: DataFrame):
    """Iterator over the parquet footers of ``df``'s input files, each
    read on the driver when reached (no Spark job); None when the frame
    has no input files or one of them is not on the local filesystem.
    Reading a file that is not parquet raises."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
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


def _rows_at_most(df: DataFrame, limit: int) -> bool:
    """True when ``df``'s parquet input holds at most ``limit`` rows;
    stops reading footers as soon as the count passes it."""
    footers = parquet_footers(df)
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


def _sources(engine, columns: list[str]) -> list[str]:
    """Input columns validation reads: each group's source column and
    the canonical-named fallback raw of unknown versions."""
    used = {src for groups in engine._validation_groups(columns).values()
            for _, _, src in groups if src is not None}
    used |= {c for c in engine.registry.canonical_columns if c in columns}
    return sorted(used)


def local_batch_schema(engine, events: DataFrame, snap: dict) -> StructType | None:
    """The staged schema of ``events`` when the batch can be applied on
    the driver, else None. Runs no Spark job: the row count comes from
    the input files' parquet footers.

    Driver-eligible: a merge-on-read engine without ref checks or CHECK
    constraints, scheme-less table and dead-letter dirs, parquet input
    of at most ``LOCAL_MAX_ROWS`` rows, a string ``commit``, integral
    ``schema_version``, integral or string ``event_seq``, source columns
    whose string cast Arrow spells like Spark, and string-typed
    validated fields (the kernels' output type)."""
    if (
        engine.write_mode != "mor"
        or engine.ref_checks
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
        or types["event_seq"] not in (*_INTEGRAL, "string")
        or any(types[c] not in _CASTABLE for c in _sources(engine, list(types)))
    ):
        return None
    for spec in engine.registry.versions.values():
        for chain in spec.field_specs.values():
            if FieldSpec.of(chain).dtype.split("(")[0].lower() != "string":
                return None
    if not _rows_at_most(events, engine.LOCAL_MAX_ROWS):
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
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = engine._staged_frame(events, snap).schema
        with _SCHEMAS_LOCK:
            if len(_SCHEMAS) >= _SCHEMAS_MAX:
                _SCHEMAS.pop(next(iter(_SCHEMAS)))
            _SCHEMAS[key] = schema
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
    return schema


def _validate(engine, tbl: pa.Table) -> dict[str, list]:
    """The staged columns (``_validated`` + ``_null_clean_raws``) as
    Python lists, one entry per input row."""
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
        for versions, chain_spec, col in groups:
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


def apply_local(engine, events: DataFrame, snap: dict, schema: StructType, t0: float) -> dict:
    """Apply one driver-eligible batch (see :func:`local_batch_schema`);
    the metrics equal ``CDCEngine.apply_batch``'s on the Spark path."""
    tbl = events.select(*PASSTHROUGH, *_sources(engine, events.columns)).toArrow()
    if tbl.num_rows == 0:
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

    adopt_name = f"batch-{uuid.uuid4().hex}"

    def adopt_dead() -> None:
        if p["n_dead"]:  # the Spark path adopts its whole _dead=true dir
            dl = StructType([f for f in schema.fields if f.name != "_dead"])
            rows = [i for i in range(n) if dead[i]]
            write_parquet_local(
                _table(cols, dl, rows), os.path.join(engine.dead_letter_dir, adopt_name)
            )

    if not p["touched"]:
        adopt_dead()
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
    delta = StructType([
        schema[c] for c in
        ["repo", "path", "commit", "event_seq", *engine._payload_cols(), "op"]
    ])
    out_dir = os.path.join(
        engine.table.data_dir,
        f"delta-{snap['snapshot_id'] + 1:08d}-{uuid.uuid4().hex[:8]}",
    )
    by_bucket: dict[int, list[int]] = {}
    for k, i in sorted(head.items()):  # (repo, path) order within a bucket
        by_bucket.setdefault(k[0], []).append(i)
    new_files = {
        str(b): [
            write_parquet_local(_table(cols, delta, rows), os.path.join(out_dir, f"_bucket={b}"))
        ]
        for b, rows in by_bucket.items()
    }
    new_snap = engine.table.commit_delta_files(
        new_files, p["new_wms"],
        stats={"rows_applied": p["applied"], "batch_dead_lettered": p["n_dead"]},
        schema_version=engine.registry.latest,
        columns=engine.registry.canonical_columns,
        basis_snapshot_id=snap["snapshot_id"],
    )
    return engine._after_commit(new_snap, p, adopt_dead, t0)
