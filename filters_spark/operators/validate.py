"""DataFrame validation: per-field filter chains -> (clean, dead-letter).

This is the engine's hot path. Per field the operator picks the fastest
strategy:

1. **native**: every chain step has an exact JVM Column expression
   (functions/native.py) -> whole-stage codegen, zero Python.
2. **kernel**: Arrow-batched pandas UDF running the fused ChainKernel
   (functions/spec.py) — ONE Python boundary crossing per field per
   batch regardless of chain length.

Error model (reference filters/handlers.py:140-296 as a table): each
row gets an ``_errors ARRAY<STRUCT<key,code,message>>`` column with
dotted keys; rows with a non-empty error channel keep their per-field
None replacements AND are routed to the dead-letter DataFrame carrying
the RAW field values (so the payload can be replayed after a spec fix).

Scale notes:
- ``validate`` is a single narrow projection — no shuffle, fully
  pipelined with the scan; filters/column-prunes still push down past it
  for native fields.
- ``split_errors`` produces two branches of one projection; callers
  that consume both (the CDC engine does) should persist the validated
  frame per batch to avoid recomputing kernels twice.
"""

from __future__ import annotations

from typing import Any, Mapping

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf

from filters_spark.functions.native import (
    ERRORS_DDL,
    compile_identity_guard,
    compile_native_chain,
)
from filters_spark.functions.spec import compile_chain

ERRORS_COL = "_errors"


class FieldSpec:
    """Validation spec for one column: chain + output Spark type."""

    def __init__(self, chain: Any, dtype: str = "string", mode: str = "auto"):
        self.chain_spec = chain
        self.dtype = dtype
        if mode not in ("auto", "native", "kernel"):
            raise ValueError(f"bad mode {mode!r}")
        self.mode = mode

    @classmethod
    def of(cls, obj: Any) -> "FieldSpec":
        if isinstance(obj, FieldSpec):
            return obj
        if isinstance(obj, Mapping) and "chain" in obj:
            return cls(obj["chain"], obj.get("dtype", "string"), obj.get("mode", "auto"))
        return cls(obj)


def _coerce_for_arrow(v: Any, dtype: str) -> Any:
    if v is None:
        return None
    base = dtype.split("(")[0].lower()
    if base == "string" and not isinstance(v, str):
        return str(v)
    if base in ("long", "int", "bigint", "integer", "smallint"):
        return int(v)
    if base == "double" and not isinstance(v, float):
        return float(v)
    if base == "binary" and isinstance(v, bytearray):
        return bytes(v)
    return v


def kernel_runner(field: str, spec: FieldSpec):
    """The fused chain as a pandas function: raw values -> DataFrame of
    ``value`` (coerced to ``spec.dtype``) and ``errors`` (list of
    key/code/message dicts). The pandas UDF body, and the engine's
    driver-side batch path runs the same function on the same values."""
    chain = compile_chain(spec.chain_spec)
    dtype = spec.dtype

    def run(vals: pd.Series) -> pd.DataFrame:
        out, errs = chain.apply(vals)
        out = out.map(lambda v: _coerce_for_arrow(v, dtype))
        def fmt(e):
            if e is None:
                return []
            return [
                {"key": (f"{field}.{k}" if k else field), "code": c, "message": m}
                for (k, c, m) in e
            ]
        return pd.DataFrame({"value": out, "errors": errs.map(fmt)})

    return run


def _kernel_udf(field: str, spec: FieldSpec, with_skip: bool = False):
    """Build a scalar pandas UDF: raw col -> struct(value, errors).

    ``with_skip``: the UDF takes a second boolean column; rows where it
    is True are identity-guarded (see compile_field) — the chain never
    runs for them and they return (NULL, []) placeholders the JVM side
    discards. Their payload bytes were already masked to NULL before
    the Arrow boundary, so a guarded row costs one null bit each way."""
    run = kernel_runner(field, spec)
    ret_ddl = f"struct<value:{spec.dtype},errors:{ERRORS_DDL}>"

    if not with_skip:
        @pandas_udf(ret_ddl)
        def udf(vals: pd.Series) -> pd.DataFrame:
            return run(vals)

        return udf

    # the skip bit is ECHOED BACK in the result struct so the outer
    # projection can branch on it without re-evaluating the guard
    # expression (a second evaluation happens in a different codegen
    # stage, where common-subexpression elimination cannot reach)
    ret_skip_ddl = f"struct<value:{spec.dtype},errors:{ERRORS_DDL},skipped:boolean>"

    @pandas_udf(ret_skip_ddl)
    def udf_skip(vals: pd.Series, skip: pd.Series) -> pd.DataFrame:
        need = ~skip.astype(bool)
        if need.all():
            res = run(vals)
            res["skipped"] = skip
            return res
        sub = run(vals[need])
        value = pd.Series([None] * len(vals), index=vals.index, dtype=object)
        errors = pd.Series([[]] * len(vals), index=vals.index, dtype=object)
        value[need] = sub["value"]
        errors[need] = sub["errors"]
        return pd.DataFrame({"value": value, "errors": errors, "skipped": skip})

    return udf_skip


def compile_field(field: str, spec: FieldSpec, input_type: str | None = None):
    """Return (strategy, fn) where fn: Column -> (value_col, errors_col)."""
    if spec.mode in ("auto", "native"):
        native = compile_native_chain(field, spec.chain_spec, input_type=input_type)
        if native is not None:
            return "native", native
        if spec.mode == "native":
            raise ValueError(f"field {field!r}: chain has no full native path")

    # identity guard: rows the JVM can PROVE the chain leaves unchanged
    # (value identical, no error) skip the Python boundary — the kernel
    # receives an Arrow NULL in their place (a null bit, not the payload
    # bytes) and the original column is restored JVM-side. Guarded rows
    # are the common case on clean streams, so this cuts the dominant
    # cost of a kernel field: serializing payload bytes out and back.
    guard_b = None
    if input_type == "string" and spec.dtype.split("(")[0].lower() == "string":
        guard_b = compile_identity_guard(spec.chain_spec)
    if guard_b is not None:
        guard = guard_b
        udf_g = _kernel_udf(field, spec, with_skip=True)

        def apply(col: Column) -> tuple[Column, Column]:
            g = guard(col)
            res = udf_g(F.when(~g, col), g)
            skipped = res["skipped"]
            value = F.when(skipped, col).otherwise(res["value"])
            errors = F.when(skipped, F.array().cast(ERRORS_DDL)).otherwise(res["errors"])
            return value, errors

        return "kernel", apply

    udf = _kernel_udf(field, spec)

    def apply(col: Column) -> tuple[Column, Column]:
        res = udf(col)
        return res["value"], res["errors"]

    return "kernel", apply


def validate(
    df: DataFrame,
    specs: Mapping[str, Any],
    errors_col: str = ERRORS_COL,
    keep_raw: bool | str = True,
    raw_prefix: str = "_raw_",
) -> DataFrame:
    """Apply per-field chains; returns df with validated field columns,
    optional raw copies, and the flattened error channel.

    ``keep_raw``: True = raw copy for every row; ``"on_error"`` = raw
    copy only where the row has errors (NULL otherwise) — at scale the
    clean fraction dominates, so this keeps the validated frame's
    memory/cache footprint ~1x the payload instead of ~2x while the
    dead-letter path still sees full raw payloads."""
    field_specs = {f: FieldSpec.of(s) for f, s in specs.items()}
    value_cols: dict[str, Column] = {}
    error_cols: list[Column] = []
    # native chains compile to PARTS projected as named intermediates
    # (one evaluation of the chain even though both the gated value and
    # the error channel consume it — inlining both duplicates the whole
    # chain tree; see functions/native.py apply_parts)
    part_cols: list[Column] = []
    for field, spec in field_specs.items():
        if field not in df.columns:
            raise ValueError(f"validate: column {field!r} not in DataFrame {df.columns}")
        input_type = df.schema[field].dataType.simpleString()
        native_parts = None
        if spec.mode in ("auto", "native"):
            native_parts = compile_native_chain(
                field, spec.chain_spec, input_type=input_type, parts=True
            )
        if native_parts is not None:
            t_name, e_name = f"__nat_t_{field}", f"__nat_e_{field}"
            raw_val, err = native_parts(F.col(field))
            part_cols.append(raw_val.alias(t_name))
            part_cols.append(err.alias(e_name))
            e, t = F.col(e_name), F.col(t_name)
            val = F.when(e.isNull(), t).otherwise(F.lit(None))
            errs = F.when(e.isNotNull(), F.array(e)).otherwise(
                F.array().cast(ERRORS_DDL)
            )
        else:
            _, fn = compile_field(field, spec, input_type=input_type)
            val, errs = fn(F.col(field))
        value_cols[field] = val
        error_cols.append(errs)

    # concat, not array-of-arrays + flatten: one less allocation pass
    flat_errors = F.concat(*error_cols) if error_cols else F.array().cast(ERRORS_DDL)

    projection: list[Column] = []
    for c in df.columns:
        if c in value_cols:
            projection.append(value_cols[c].alias(c))
            if keep_raw:
                projection.append(F.col(c).alias(f"{raw_prefix}{c}"))
        else:
            projection.append(F.col(c))
    projection.append(flat_errors.alias(errors_col))
    base = df.select("*", *part_cols) if part_cols else df
    out = base.select(*projection)

    if keep_raw == "on_error":
        # second projection so the (non-cheap) error expression is
        # evaluated once and referenced as an attribute; CollapseProject
        # leaves multiply-referenced non-cheap expressions alone.
        has_errors = F.size(F.col(errors_col)) > 0
        out = out.select(
            *[
                F.when(has_errors, F.col(c)).alias(c) if c.startswith(raw_prefix) else F.col(c)
                for c in out.columns
            ]
        )
    return out


def split_errors(
    validated: DataFrame,
    errors_col: str = ERRORS_COL,
    raw_prefix: str = "_raw_",
) -> tuple[DataFrame, DataFrame]:
    """(clean, dead_letter): clean drops raw copies + error channel;
    dead-letter restores raw values and explodes nothing (errors kept as
    the array, one row per failed record)."""
    is_clean = F.size(F.col(errors_col)) == 0
    raw_cols = [c for c in validated.columns if c.startswith(raw_prefix)]
    clean = validated.filter(is_clean).drop(errors_col, *raw_cols)
    dead = validated.filter(~is_clean)
    # restore raw payloads under the original names
    for rc in raw_cols:
        orig = rc[len(raw_prefix):]
        dead = dead.drop(orig).withColumnRenamed(rc, orig)
    return clean, dead


def validation_strategies(specs: Mapping[str, Any]) -> dict[str, str]:
    """Report which strategy each field compiles to (for plan audits).
    Does not require an active SparkSession."""
    out = {}
    for field, s in specs.items():
        spec = FieldSpec.of(s)
        if spec.mode in ("auto", "native") and compile_native_chain(field, spec.chain_spec):
            out[field] = "native"
        else:
            # validates the chain compiles at all
            compile_chain(spec.chain_spec)
            out[field] = "kernel"
    return out
