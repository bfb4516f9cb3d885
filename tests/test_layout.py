"""Every module under ``filters_spark/`` is on the ingest engine's import
graph, or is named below with the tests that still keep it.

The walk starts from the benchmark driver (``ingestbench/run.py``), the
spark-submit script (``scripts/submit_replay.py``), the lake maintenance
modules and the Structured Streaming front-end, and follows every
``import`` with ``ast`` — imports inside functions included. A new module
that nothing on the path imports fails here until it is wired in or
listed in ``KEPT_OFF_PATH`` with a reason; a listed module that the path
starts to import must leave the list.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGES = ("filters_spark", "ingestbench")

ENTRY_POINTS = [
    "ingestbench.run",
    "scripts.submit_replay",
    "filters_spark.streaming",
    *(f"filters_spark.lake.{m}" for m in ("branch", "clone", "dml", "fsck", "sync")),
]

# Off the ingest path; each is exercised by the tests named (and most by
# the query/oracle pairs of __spark_entry__.py, which
# tests/test_oracle_parity.py checks).
KEPT_OFF_PATH = {
    "filters_spark.functions.handlers": "test_handlers (reference handler modes)",
    "filters_spark.functions.testing": "test_handlers (reference test harness)",
    "filters_spark.lake.merge": "test_merge_into, test_plans",
    "filters_spark.lake.mview": "test_mview",
    "filters_spark.operators.clustering": "test_clustering",
    "filters_spark.operators.dedupe": "test_operators",
    "filters_spark.operators.events": "test_operators, test_plans",
    "filters_spark.operators.graph": "test_graph",
    "filters_spark.operators.hashing": "test_property (sha64/mix31 twins)",
    "filters_spark.operators.multimodal": "test_operators",
    "filters_spark.operators.profile": "test_operators",
    "filters_spark.operators.sampling": "test_operators, test_sketches",
    "filters_spark.operators.search": "test_operators",
    "filters_spark.operators.similarity": "test_operators",
    "filters_spark.operators.sketches": "test_sketches, test_review_hardening",
    "filters_spark.operators.textstats": "test_operators, test_plans",
    "filters_spark.plans": "plan-audit helpers for test_plans, test_patch_merge",
    "filters_spark.plans.audit": "plan-audit helpers for test_plans, test_patch_merge",
    "filters_spark.streaming.joins": "test_streaming, test_plans",
    "filters_spark.streaming.stateful": "test_streaming",
    "filters_spark.streaming.windows": "test_streaming, test_operators",
}


def _source(module: str) -> str | None:
    base = os.path.join(ROOT, *module.split("."))
    for path in (os.path.join(base, "__init__.py"), base + ".py"):
        if os.path.isfile(path):
            return path
    return None


def _imports(path: str) -> set[str]:
    """Every module an ``import`` in ``path`` may name: ``from a import
    b`` yields ``a`` and ``a.b`` (``b`` may be a submodule)."""
    out = set()
    for node in ast.walk(ast.parse(open(path, encoding="utf-8").read())):
        if isinstance(node, ast.Import):
            out |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"relative import in {path}"
            out.add(node.module)
            out |= {f"{node.module}.{a.name}" for a in node.names}
    return {m for m in out if m.split(".")[0] in PACKAGES}


def _reached() -> set[str]:
    seen: set[str] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        module = todo.pop()
        path = _source(module)
        if module in seen or path is None:
            continue
        seen.add(module)
        parts = module.split(".")
        todo += [".".join(parts[:i]) for i in range(1, len(parts))]  # parent packages
        todo += _imports(path)
    return seen


def _all_modules() -> set[str]:
    out = set()
    for d, _, files in os.walk(os.path.join(ROOT, "filters_spark")):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(d, f), ROOT)[: -len(".py")]
                out.add(rel.replace(os.sep, ".").removesuffix(".__init__"))
    return out


def test_entry_points_exist():
    assert [m for m in ENTRY_POINTS if _source(m) is None] == []


def test_every_module_is_on_the_ingest_path_or_kept():
    unreached = _all_modules() - _reached() - KEPT_OFF_PATH.keys()
    assert sorted(unreached) == []


def test_kept_off_path_list_is_current():
    assert sorted(KEPT_OFF_PATH.keys() - _all_modules()) == []  # deleted: drop the entry
    assert sorted(KEPT_OFF_PATH.keys() & _reached()) == []  # now on the path
