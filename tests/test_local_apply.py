"""Driver-side applies and stages (engine/local.py) against the Spark
path they replace: every fixture is applied once through each path to
twin tables, and everything a caller can observe must be identical —
read(), changes(), watermarks, dead letters (errors included), lineage
rows, file metadata and the returned metrics; for the fan-out flavors
also the feed ledgers."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

import filters_spark.engine.cdc as cdc
import filters_spark.engine.fanout as fanout
import filters_spark.engine.local as local
from filters_spark.engine.cdc import CDCEngine
from filters_spark.engine.defaults import default_registry
from filters_spark.engine.evolution import VersionSpec
from filters_spark.engine.fanout import TableRoute, fan_out_debezium, feed_positions, route_key
from filters_spark.engine.txn import fan_out_atomic
from filters_spark.lake.table import LakeTable
from filters_spark.sources.datagen import gen_events

DDL = (
    "commit string, event_seq long, op string, schema_version int, "
    "repo string, path string, lang string, language string, content string"
)


def c(n: int) -> str:
    return f"{n:012x}"


def ev(n, seq, repo, path, lang="py", content="x = 1", op="U", v=1, language=None):
    return (c(n) if n is not None else None, seq, op, v, repo, path, lang, language, content)


@pytest.fixture
def counted(monkeypatch):
    """Counts the applies that took the driver path."""
    calls = []
    real = cdc.apply_local

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(cdc, "apply_local", spy)
    return calls


def parquet(spark, tmp, name, rows, ddl=DDL):
    """``rows`` as one parquet file of schema ``ddl``, read back by Spark
    (written with pyarrow: a Spark write job per fixture batch costs
    more than the apply under test)."""
    schema = to_arrow_schema(_parse_datatype_string(ddl))
    path = os.path.join(tmp, "in", name)
    os.makedirs(path)
    cols = list(zip(*rows))
    pq.write_table(
        pa.table([pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema),
        os.path.join(path, "part-0.parquet"),
    )
    return spark.read.parquet(path)


def twins(spark, tmp, registry=default_registry, num_buckets=4, mode="mor", **create):
    out = {}
    for path in ("spark", "local"):
        table = LakeTable.create(
            spark, os.path.join(tmp, path), key_cols=["repo", "path"],
            num_buckets=num_buckets, path_salt=4, **create,
        )
        out[path] = CDCEngine(spark, table, registry(), write_mode=mode, compact_after=3)
    out["spark"].LOCAL_MAX_ROWS = 0  # instance override: always stage through Spark
    return out


def observe(engine, metrics) -> dict:
    t = engine.table
    df = t.read()
    read = sorted(
        map(tuple, df.select(*[c for c in df.columns if c != "_bucket"]).collect())
    ) if df is not None else []
    # copy-on-write commits keep no row-level change log
    ch = t.changes(t.snapshots()[0]) if engine.write_mode == "mor" else None
    dl = engine.dead_letters(distinct=False)
    lin = engine.lineage()
    return {
        "read": read,
        "changes": sorted(map(tuple, ch.collect())) if ch is not None else [],
        "watermarks": t.watermarks(),
        "snapshot": t.current_snapshot_id(),
        "files": sorted(
            (f["bucket"], f["kind"], f["rows"], json.dumps(f["stats"], sort_keys=True))
            for f in t.files()
        ),
        "dead": sorted(
            json.dumps(r.asDict(recursive=True), sort_keys=True) for r in dl.collect()
        ) if dl is not None else [],
        "lineage": sorted(tuple(r)[:5] for r in lin.collect()) if lin is not None else [],
        "metrics": [{k: v for k, v in m.items() if k != "seconds"} for m in metrics],
    }


def assert_parity(spark, tmp, batches, counted, registry=default_registry, ddl=DDL,
                  num_buckets=4, mode="mor", **create):
    """Applies ``batches`` in order through both paths; a callable step
    runs on each engine between batches instead."""
    frames = [
        b if not isinstance(b, list) else parquet(spark, tmp, f"b{i}", b, ddl)
        for i, b in enumerate(batches)
    ]
    applied = [f for f in frames if not callable(f)]
    eng = twins(spark, tmp, registry, num_buckets, mode, **create)
    got = {}
    for path, e in eng.items():
        before = len(counted)
        metrics = [f(e) if callable(f) else e.apply_batch(f) for f in frames]
        metrics = [m for m, f in zip(metrics, frames) if not callable(f)]
        assert len(counted) - before == (len(applied) if path == "local" else 0)
        got[path] = observe(e, metrics)
    for k in got["spark"]:
        assert got["local"][k] == got["spark"][k], k
    return got["local"]


def test_all_registry_versions_and_rename(spark, tmp_path, counted):
    rows = [
        ev(1, 0, "r1", "a.py", lang="py"),
        ev(1, 1, "r1", "b.go", lang=" Python ", v=0),       # v0: no choice gate
        ev(1, 2, "r2", "c.go", lang=None, language="GO", v=2),
        ev(1, 3, "r2", "d.go", lang="go", language="cobol", v=2),  # rename wins
        ev(1, 4, "r3", "e.rs", lang="cobol"),                 # dead: choice
        ev(2, 0, "r1", "a.py", content="y = 2"),
    ]
    got = assert_parity(spark, str(tmp_path), [rows], counted)
    assert got["metrics"][0]["dead_lettered"] == 2


def test_unknown_and_null_schema_version(spark, tmp_path, counted):
    rows = [
        ev(1, 0, "r1", "a.py"),
        ev(1, 1, "r1", "b.py", v=9),
        ev(1, 2, "r2", "c.py", v=None),
    ]
    got = assert_parity(spark, str(tmp_path), [rows], counted)
    codes = [json.loads(d)["first_code"] for d in got["dead"]]
    assert codes == ["unknown_schema_version"] * 2


def test_non_string_source_columns(spark, tmp_path, counted):
    ddl = (
        "commit string, event_seq int, op string, schema_version bigint, "
        "repo string, path string, lang boolean, content bigint"
    )
    rows = [
        (c(1), 0, "I", 1, "r1", "a.py", None, 12345),
        (c(1), 1, "I", 1, "r1", "b.py", True, -7),
        (c(1), 2, "I", 1, "r2", "c.py", None, None),
    ]
    got = assert_parity(spark, str(tmp_path), [rows], counted, ddl=ddl)
    assert ("r1", "a.py") in {r[:2] for r in got["read"]}


def test_null_empty_and_whitespace_keys(spark, tmp_path, counted):
    rows = [
        ev(1, 0, None, "a.py"), ev(1, 1, "", "a.py"), ev(1, 2, "  ", "a.py"),
        ev(1, 3, "r1", None), ev(1, 4, "r1", ""), ev(1, 5, "r1", " \t "),
        ev(1, 6, None, None), ev(1, 7, "r1", "ok.py"),
    ]
    assert_parity(spark, str(tmp_path), [rows], counted)


def test_null_commit_and_seq_three_valued_survival(spark, tmp_path, counted):
    first = [ev(5, i, f"r{i}", f"p{i}.py") for i in range(3)]
    second = [
        ev(None, 0, "r0", "p0.py"),            # watermarked bucket: survives NULL
        ev(6, None, "r1", "p1.py", lang="cobol"),  # dead with NULL _wm
        ev(None, 1, "n1", "fresh1.py"),        # buckets without a watermark
        ev(None, 2, "n2", "fresh2.py"),
        ev(None, 3, "n3", "fresh3.py", op="D"),
        ev(7, 0, "r2", "p2.py", content="new"),
    ]
    got = assert_parity(spark, str(tmp_path), [first, second], counted, num_buckets=8)
    assert len(got["watermarks"]) < 8  # some NULL-_wm rows met no watermark


def test_deletes_and_in_batch_duplicates(spark, tmp_path, counted):
    b1 = [
        ev(1, 0, "r1", "k1.py", op="I", content="v0"),
        ev(1, 1, "r1", "k1.py", content="v1"),
        ev(1, 2, "r1", "k1.py", op="D"),
        ev(1, 3, "r1", "k2.py", op="I", content="dup"),
        ev(1, 3, "r1", "k2.py", op="I", content="dup"),
        ev(1, 4, "r1", "k3.py", op="D"),
        ev(1, 5, "r2", "k4.py", content="keep"),
    ]
    b2 = [ev(2, 0, "r1", "k1.py", op="I", content="back"), ev(2, 1, "r2", "k4.py", op="D")]
    got = assert_parity(spark, str(tmp_path), [b1, b2], counted)
    assert {r[:2] for r in got["read"]} == {("r1", "k1.py"), ("r1", "k2.py")}


def test_replayed_batch(spark, tmp_path, counted):
    rows = [ev(1, i, f"r{i % 3}", f"p{i}.py") for i in range(8)] + [
        ev(1, 9, "r1", "bad.py", lang="cobol"),
    ]
    got = assert_parity(spark, str(tmp_path), [rows, rows], counted)
    assert got["metrics"][1]["applied"] == 0
    assert got["metrics"][1]["skipped_replays"] > 0


def test_datagen_unicode_hazards(spark, tmp_path, counted):
    path = os.path.join(str(tmp_path), "in", "gen")
    gen_events(
        spark, n_events=900, n_repos=10, n_paths=60, events_per_commit=20,
        hot_frac=0.2, dirty_frac=0.2, unicode_hazards=True, seed=5,
    ).write.parquet(path)
    wal = spark.read.parquet(path)
    mids = [c(16), c(31)]
    batches = [
        wal.filter(wal.commit <= mids[0]),
        wal.filter((wal.commit > mids[0]) & (wal.commit <= mids[1])),
        wal.filter(wal.commit > mids[1]),
    ]
    got = assert_parity(spark, str(tmp_path), batches, counted)
    assert got["dead"] and got["read"]


def test_identity_guard_edges_reach_the_kernel(spark, tmp_path, monkeypatch, counted):
    """The content chain's identity guard (non-empty printable ASCII,
    tab and newline) decides which rows the driver hands the kernel,
    as it does on the Spark path: values on both sides of each guard
    edge land the same through both paths, and the kernel sees exactly
    the values the guard rejects."""
    edges = ["plain", "tab\there", "nl\nhere", "cr\rhere", "crlf\r\nhere", "vt\x0bhere",
             "del\x7fhere", "nel\u0085here", "nbsp\u00a0here", "e\u0301", "", None]
    guarded = {"plain", "tab\there", "nl\nhere"}
    seen = []
    real = local.kernel_runner

    def spy(field, spec):
        run = real(field, spec)

        def counted_run(vals):
            seen.extend(vals.tolist())
            return run(vals)

        return counted_run

    monkeypatch.setattr(local, "kernel_runner", spy)
    rows = [ev(1, i, "r1", f"p{i}.py", content=v) for i, v in enumerate(edges)]
    got = assert_parity(spark, str(tmp_path), [rows], counted)
    assert sorted(seen, key=repr) == sorted((v for v in edges if v not in guarded), key=repr)
    assert got["metrics"][0]["applied"] + got["metrics"][0]["dead_lettered"] == len(edges)


def test_mixed_dead_letters_read_and_retry_as_one_table(spark, tmp_path, counted):
    tmp = str(tmp_path)
    table = LakeTable.create(
        spark, os.path.join(tmp, "t"), key_cols=["repo", "path"], num_buckets=4,
    )
    eng = CDCEngine(spark, table, default_registry(), write_mode="mor", compact_after=3)
    eng.LOCAL_MAX_ROWS = 0
    eng.apply_batch(parquet(spark, tmp, "a", [ev(1, 0, "r1", "a.py", lang="cobol")]))
    del eng.LOCAL_MAX_ROWS
    eng.apply_batch(parquet(spark, tmp, "b", [ev(2, 0, "r2", "b.py", lang="fortran")]))
    assert len(counted) == 1
    dl = eng.dead_letters()
    assert sorted(r.lang for r in dl.collect()) == ["cobol", "fortran"]
    # widen the choice set: retry drains both batches' dead letters
    reg = eng.registry
    spec = dict(reg.get(reg.latest).field_specs)
    spec["lang"] = {"chain": ["strip", "ascii_lower"]}
    reg.register(VersionSpec(reg.latest + 1, spec))
    m = eng.retry_dead_letters()
    assert m["applied"] == 2 and m["dead_lettered"] == 0
    assert eng.dead_letters() is None
    got = {(r.repo, r.path, r.lang) for r in table.read().collect()}
    assert got == {("r1", "a.py", "cobol"), ("r2", "b.py", "fortran")}


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"local-apply-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_mor_batch_runs_at_most_one_job(spark, tmp_path, monkeypatch, counted):
    """~800 parquet rows, no compaction: the driver path collects the
    batch once and runs no other Spark job. The same batch through the
    Spark path (threshold 0) lands in the same state."""
    path = os.path.join(str(tmp_path), "in", "tail")
    gen_events(
        spark, n_events=800, n_repos=50, n_paths=400, events_per_commit=20,
        hot_frac=0.15, dirty_frac=0.05, unicode_hazards=True, seed=3,
    ).write.parquet(path)
    states = []
    for threshold in (CDCEngine.LOCAL_MAX_ROWS, 0):
        monkeypatch.setattr(CDCEngine, "LOCAL_MAX_ROWS", threshold)
        table = LakeTable.create(
            spark, os.path.join(str(tmp_path), f"t{threshold}"),
            key_cols=["repo", "path"], num_buckets=4,
        )
        eng = CDCEngine(spark, table, default_registry(), write_mode="mor", compact_after=8)
        batch = spark.read.parquet(path)
        m, jobs = _jobs(spark, lambda: eng.apply_batch(batch))
        assert m["events_in"] == 800
        if threshold:
            assert jobs <= 1, jobs
        else:
            assert jobs > 1
        states.append(sorted(map(tuple, table.read().collect())))
    assert len(counted) == 1
    assert states[0] == states[1]


def test_ineligible_batches_stay_on_spark(spark, tmp_path, monkeypatch, counted):
    """Each ineligible batch reaches Spark staging (stopped there: the
    Spark apply itself is covered by every other engine test)."""
    class Staged(Exception):
        pass

    def stage(*a, **kw):
        raise Staged

    monkeypatch.setattr(CDCEngine, "_stage", stage)
    tmp = str(tmp_path)
    rows = [ev(1, 0, "r1", "a.py")]
    # copy-on-write over more base rows than the driver merge may read
    table = LakeTable.create(spark, os.path.join(tmp, "cow"), key_cols=["repo", "path"])
    eng = CDCEngine(spark, table, default_registry())
    eng.apply_batch(parquet(spark, tmp, "a", rows))
    monkeypatch.setattr(local, "COW_CURRENT_FACTOR", 0)
    with pytest.raises(Staged):
        eng.apply_batch(parquet(spark, tmp, "a2", [ev(2, 0, "r1", "a.py")]))
    with pytest.raises(Staged):
        eng.stage_batch(parquet(spark, tmp, "a3", [ev(2, 0, "r1", "a.py")]), "w")
    table = LakeTable.create(spark, os.path.join(tmp, "mor"), key_cols=["repo", "path"])
    eng = CDCEngine(spark, table, default_registry(), write_mode="mor")
    with pytest.raises(Staged):
        eng.apply_batch(spark.createDataFrame(rows, DDL))            # no parquet files
    with pytest.raises(Staged):
        eng.apply_batch(parquet(spark, tmp, "b", rows), audit_fn=lambda t, w: True)
    assert len(counted) == 1  # the copy-on-write table's first batch


# --- copy-on-write -------------------------------------------------------


def test_cow_deletes_empty_buckets_duplicates_and_null_positions(spark, tmp_path, counted):
    b1 = [ev(1, i, "r1", f"k{i}.py", op="I", content=f"v{i}") for i in range(6)] + [
        ev(1, 6, "r2", "z.py"),
        ev(1, 7, "r2", "d.py", op="I", content="dup"),
        ev(1, 7, "r2", "d.py", op="I", content="dup"),
        ev(1, 8, "r3", "x.py", lang="cobol"),               # dead
        ev(None, 0, "n1", "fresh.py", content="unordered"),
    ]
    b2 = [ev(2, i, "r1", f"k{i}.py", op="D") for i in range(6)] + [
        ev(2, 6, "r2", "z.py", content="new"),
        ev(3, 0, "n1", "fresh.py", content="ordered"),      # beats a NULL position
        ev(None, 1, "n2", "other.py"),
        ev(1, 6, "r2", "z.py", content="replayed"),         # at the watermark
    ]
    got = assert_parity(spark, str(tmp_path), [b1, b2, b1], counted, num_buckets=8,
                        mode="cow")
    assert {r[:2] for r in got["read"]} == {
        ("r2", "z.py"), ("r2", "d.py"), ("n1", "fresh.py"), ("n2", "other.py"),
    }
    assert got["metrics"][2]["applied"] == 0


def _widen(engine):
    reg = engine.registry
    spec = dict(reg.get(1).field_specs)
    spec["license"] = {"chain": ["strip", "ascii_lower"]}
    reg.register(VersionSpec(3, spec))


def test_cow_column_added_by_newer_registry(spark, tmp_path, counted):
    ddl = DDL + ", license string"
    b1 = [(*ev(1, i, f"r{i}", "a.py"), None) for i in range(4)]
    b2 = [(*ev(2, 0, "r0", "a.py", v=3), " MIT "), (*ev(2, 1, "r9", "b.py", v=3), "GPL")]
    got = assert_parity(spark, str(tmp_path), [b1, _widen, b2], counted, ddl=ddl,
                        mode="cow")
    lic = {r[:2]: r[6] for r in got["read"]}
    assert lic[("r0", "a.py")] == "mit" and lic[("r1", "a.py")] is None


def test_cow_sort_cols_and_stats_cols(spark, tmp_path, counted):
    rows = [ev(1, i, f"r{i % 3}", f"p{(7 * i) % 40:02d}.py", lang=["py", "go", None][i % 3])
            for i in range(40)]
    more = [ev(2, i, f"r{i % 3}", f"p{i:02d}.py", content="later") for i in range(0, 40, 3)]
    got = assert_parity(spark, str(tmp_path), [rows, more], counted, mode="cow",
                        sort_cols=["path"], stats_cols=["path", "lang"])
    assert all(f[2] is not None and "path" in json.loads(f[3]) for f in got["files"])


def test_cow_datagen_unicode_hazards(spark, tmp_path, counted):
    path = os.path.join(str(tmp_path), "in", "gen")
    gen_events(
        spark, n_events=900, n_repos=10, n_paths=60, events_per_commit=20,
        hot_frac=0.2, dirty_frac=0.2, unicode_hazards=True, seed=9,
    ).write.parquet(path)
    wal = spark.read.parquet(path)
    mid = c(24)
    got = assert_parity(
        spark, str(tmp_path),
        [wal.filter(wal.commit <= mid), wal.filter(wal.commit > mid)], counted, mode="cow",
    )
    assert got["dead"] and got["read"]


def test_small_cow_batch_runs_at_most_one_job(spark, tmp_path, counted):
    tmp = str(tmp_path)
    table = LakeTable.create(spark, os.path.join(tmp, "t"), key_cols=["repo", "path"],
                             num_buckets=4)
    eng = CDCEngine(spark, table, default_registry())
    eng.apply_batch(parquet(spark, tmp, "a", [ev(1, i, f"r{i % 7}", f"{i}.py")
                                              for i in range(300)]))
    batch = parquet(spark, tmp, "b", [ev(2, i, f"r{i % 5}", f"{2 * i}.py", content="u")
                                      for i in range(200)])
    m, jobs = _jobs(spark, lambda: eng.apply_batch(batch))
    assert m["events_in"] == 200 and jobs <= 1, jobs
    assert len(counted) == 2


# --- stage_batch and fan-out ----------------------------------------------


def _entry(h) -> dict:
    e = {k: v for k, v in h.to_entry().items()
         if k not in ("scratch", "dead_src", "adopt_name")}
    e["bucket_stats"] = sorted(e["bucket_stats"])
    return e


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_stage_batch_publish_and_abandon(spark, tmp_path, mode, counted):
    tmp = str(tmp_path)
    b1 = parquet(spark, tmp, "b1", [ev(1, i, f"r{i}", "a.py") for i in range(5)]
                 + [ev(1, 5, "r1", "bad.py", lang="cobol")])
    b2 = parquet(spark, tmp, "b2", [ev(2, 0, "r1", "a.py", op="D"), ev(2, 1, "r7", "n.py"),
                                    ev(2, 2, "r2", "bad.py", lang="cobol")])
    got = {}
    for path, e in twins(spark, tmp, mode=mode).items():
        before = len(counted)
        h1 = e.stage_batch(b1, "w1")
        assert e.table.current_snapshot_id() == 0 and e.table.wap_ids() == ["w1"]
        m1 = h1.publish()
        h2 = e.stage_batch(b2, "w2")
        dropped = h2.abandon()
        h3 = e.stage_batch(b2, "w3")
        m3 = h3.publish()
        staging = os.path.join(e.table.root, "_staging")
        assert os.listdir(staging) == [] and e.table.wap_ids() == []
        assert len(counted) - before == (3 if path == "local" else 0)
        got[path] = observe(e, [m1, dropped, m3])
        got[path]["handles"] = [_entry(h) for h in (h1, h2, h3)]
    for k in got["spark"]:
        assert got["local"][k] == got["spark"][k], k
    assert got["local"]["metrics"][2]["dead_lettered"] == 1


def _fan_in(spark):
    from tests.test_cdc_engine import events_df
    from tests.test_fanout import envelopes

    ev_a = events_df(spark, n_events=200, seed=11, dirty_frac=0.05)
    ev_b = events_df(spark, n_events=150, seed=23, dirty_frac=0.05)
    ev_x = events_df(spark, n_events=30, seed=5, dirty_frac=0.0)
    return envelopes(ev_a, table="repos").unionAll(envelopes(ev_b, table="users")) \
        .unionAll(envelopes(ev_x, table="extra"))


@pytest.mark.parametrize("flavor", ["plain", "atomic"])
def test_fan_out_parity(spark, tmp_path, flavor, counted):
    from tests.test_fanout import SEQ

    tmp = str(tmp_path)
    mixed = _fan_in(spark)
    mors, cows = twins(spark, os.path.join(tmp, "a")), twins(spark, os.path.join(tmp, "b"), mode="cow")
    got = {}
    for path in ("spark", "local"):
        before = len(counted)
        mor, cow = mors[path], cows[path]
        routes = [TableRoute("repos", mor), TableRoute("users", cow)]
        if flavor == "plain":
            rep = fan_out_debezium(mixed, routes, seq_expr=SEQ)
        else:
            rep = fan_out_atomic(mixed, routes, os.path.join(tmp, f"txn-{path}"),
                                 seq_expr=SEQ, txn_id="t1")
        assert rep["unrouted"] == {"d.extra": 30}
        assert len(counted) - before == (2 if path == "local" else 0)
        tables = rep.pop("tables")
        got[path] = {
            "report": rep,
            "feeds": [feed_positions(e.table) for e in (mor, cow)],
            "tables": [observe(e, [tables[k]]) for e, k in ((mor, "repos"), (cow, "users"))],
        }
    assert got["local"] == got["spark"]


def test_fan_out_atomic_runs_at_most_three_jobs(spark, tmp_path, counted):
    """2 routes, ~400 envelopes: the parse write (which also observes
    the gate) plus one collect per route — no gate job."""
    from tests.test_cdc_engine import events_df, make_engine
    from tests.test_fanout import SEQ, envelopes

    ev_a = events_df(spark, n_events=250, seed=11, dirty_frac=0.05)
    ev_b = events_df(spark, n_events=150, seed=23, dirty_frac=0.05)
    mixed = envelopes(ev_a, table="repos").unionAll(envelopes(ev_b, table="users"))
    routes = [TableRoute("repos", make_engine(spark, os.path.join(str(tmp_path), "a"))),
              TableRoute("users", make_engine(spark, os.path.join(str(tmp_path), "b")))]
    rep, jobs = _jobs(
        spark, lambda: fan_out_atomic(mixed, routes, os.path.join(str(tmp_path), "txn"),
                                      seq_expr=SEQ),
    )
    assert rep["txn"] == "committed" and rep["feed_to"] is not None
    assert len(counted) == 2
    assert jobs <= 1 + len(routes), jobs


def _dbz(db, table, file_no, pos, repo, path, op="c", content="x = 1", lang="py") -> str:
    """One Debezium envelope (schemas disabled) as its JSON string."""
    image = {"repo": repo, "path": path, "lang": lang, "content": content}
    return json.dumps({
        "before": image if op == "d" else None,
        "after": None if op == "d" else image,
        "source": {"db": db, "table": table, "file": f"mysql-bin.{file_no:06d}",
                   "pos": pos, "row": 0},
        "op": op,
    })


def _feed(n, table, db="d", file_no=1) -> list[str]:
    """``n`` envelopes of one table: inserts, updates and deletes over
    a few keys, one dead letter (``cobol``) in nine."""
    return [
        _dbz(db, table, file_no, i, f"r{i % 5}", f"p{i % 11}.py",
             op="cud"[i % 3] if i > 2 else "c", content=f"{table} v{i}",
             lang="cobol" if i % 9 == 4 else "py")
        for i in range(n)
    ]


def _wire(spark, tmp, name, values):
    """``values`` as one parquet file of envelope strings (``value``)."""
    path = os.path.join(tmp, "wire", name)
    os.makedirs(path)
    pq.write_table(pa.table({"value": pa.array(values, pa.string())}),
                   os.path.join(path, "part-0.parquet"))
    return spark.read.parquet(path)


def _front_halves(spark, tmp, raw, spec, counted, monkeypatch, flavor="plain",
                  unrouted="count", local_caps=(), audits=()):
    """Applies the envelope batch ``raw`` (a frame, or one per path)
    through both fan-out front halves to twin tables — the one-collect
    front half with driver stages (``local``) and the scratch write with
    Spark stages (``LOCAL_MAX_ROWS = 0`` twins) — and asserts that
    everything a caller can observe is equal: the report or the error,
    the tables, dead letters, lineage and feed ledgers. ``spec``: one
    ``(table, db, write mode)`` per route; ``local_caps``: per route, a
    ``LOCAL_MAX_ROWS`` for the local twin (None keeps the default);
    ``audits``: per route, an ``audit_fn`` for both twins. Returns each twin's observations, with ``collects`` (front halves
    that collected) and ``driver_stages``."""
    collects = []
    real = fanout._collect_routes
    monkeypatch.setattr(fanout, "_collect_routes",
                        lambda *a: collects.append(1) or real(*a))
    eng = [twins(spark, os.path.join(tmp, f"{t}-{k}"), mode=mode)
           for k, (t, _, mode) in enumerate(spec)]
    got = {}
    for path in ("spark", "local"):
        engines = [e[path] for e in eng]
        for e, cap in zip(engines, local_caps):
            if path == "local" and cap is not None:
                e.LOCAL_MAX_ROWS = cap
        fns = list(audits) + [None] * (len(spec) - len(audits))
        routes = [TableRoute(t, e, db=db, audit_fn=a)
                  for (t, db, _), e, a in zip(spec, engines, fns)]
        frame = raw[path] if isinstance(raw, dict) else raw
        c0, s0 = len(collects), len(counted)
        try:
            if flavor == "plain":
                rep, err = fan_out_debezium(frame, routes, unrouted=unrouted), None
            else:
                rep, err = fan_out_atomic(frame, routes, os.path.join(tmp, f"txn-{path}"),
                                          unrouted=unrouted, txn_id="t1"), None
        except ValueError as exc:
            rep, err = {"tables": {}}, str(exc)
        tables = rep.pop("tables")
        got[path] = {
            "error": err,
            "report": rep,
            "feeds": [feed_positions(e.table) for e in engines],
            "tables": [observe(e, [tables[route_key(r)]] if tables else [])
                       for r, e in zip(routes, engines)],
            "collects": len(collects) - c0,
            "driver_stages": len(counted) - s0,
        }
    assert got["spark"]["collects"] == 0
    for k in ("error", "report", "feeds", "tables"):
        assert got["local"][k] == got["spark"][k], k
    return got


@pytest.mark.parametrize("flavor", ["plain", "atomic"])
def test_front_halves_route_dbs_unrouted_and_malformed(spark, tmp_path, monkeypatch,
                                                      counted, flavor):
    """db-qualified and db-less routes of one table name, an unrouted
    table (counted), NULL-op and malformed envelopes and NULL values:
    the collect front half lands what the scratch write does."""
    tmp = str(tmp_path)
    values = (
        _feed(20, "repos", db="d1") + _feed(15, "repos", db="d2", file_no=2)
        + _feed(12, "users") + _feed(4, "orders", file_no=3)
        + [_dbz("d", "users", 4, 1, "r1", "t.py", op="t"),   # truncate: NULL op
           _dbz("d", "users", 4, 2, "r1", "m.py", op="m"),   # message: NULL op
           "not json", '{"foo": 1}', '{"op": null}', None]
    )
    spec = [("repos", "d1", "mor"), ("repos", None, "cow"), ("users", None, "mor")]
    both = _front_halves(spark, tmp, _wire(spark, tmp, "mixed", values), spec, counted,
                         monkeypatch, flavor=flavor)
    got = both["local"]
    assert both["spark"]["driver_stages"] == 0
    assert got["collects"] == 1 and got["driver_stages"] == 3
    assert got["report"]["unrouted"] == {"d.orders": 4}
    assert all(t["read"] and t["dead"] for t in got["tables"])


def test_front_halves_refuse_the_same_batches(spark, tmp_path, monkeypatch, counted):
    """``unrouted="raise"`` and an envelope without a derivable
    ordering fail the same way on both front halves, before any table
    is touched."""
    tmp = str(tmp_path)
    spec = [("repos", None, "mor")]
    unrouted = _wire(spark, tmp, "unrouted", _feed(6, "repos") + _feed(2, "orders"))
    got = _front_halves(spark, tmp, unrouted, spec, counted, monkeypatch,
                        unrouted="raise")["local"]
    assert "unrouted source tables" in got["error"] and got["collects"] == 1
    unordered = json.loads(_dbz("d", "repos", 1, 9, "r9", "x.py"))
    del unordered["source"]["pos"]
    bad = _wire(spark, tmp, "unordered", _feed(6, "repos") + [json.dumps(unordered)])
    got = _front_halves(spark, os.path.join(tmp, "b"), bad, spec, counted, monkeypatch,
                        flavor="atomic")["local"]
    assert "1 of 7 envelopes have no derivable" in got["error"]
    assert got["tables"][0]["snapshot"] == 0 and got["driver_stages"] == 0


def test_front_halves_empty_batch_and_slice_over_local_max_rows(spark, tmp_path,
                                                                 monkeypatch, counted):
    """An empty batch commits trivially on both front halves. A route
    slice over its engine's LOCAL_MAX_ROWS is written to its scratch
    partition from the collected table and stages through Spark, while
    its sibling stages on the driver; unrouted="ignore" counts nothing."""
    tmp = str(tmp_path)
    spec = [("repos", None, "mor"), ("users", None, "cow")]
    empty = {"spark": spark.createDataFrame([], "value string"),
             "local": _wire(spark, tmp, "empty", [])}
    got = _front_halves(spark, tmp, empty, spec, counted, monkeypatch, flavor="atomic")["local"]
    assert got["report"]["txn"] == "committed" and got["report"]["feed_to"] is None
    assert got["collects"] == 1 and got["driver_stages"] == 2
    raw = _wire(spark, tmp, "mixed", _feed(20, "repos") + _feed(8, "users", file_no=2)
                + _feed(3, "orders", file_no=3))
    both = _front_halves(spark, os.path.join(tmp, "b"), raw, spec, counted, monkeypatch,
                         flavor="atomic", unrouted="ignore", local_caps=(5, None))
    got = both["local"]
    assert both["spark"]["driver_stages"] == 0
    assert got["collects"] == 1 and got["driver_stages"] == 1
    assert got["report"]["unrouted"] == {}
    assert got["tables"][0]["read"] and got["tables"][1]["read"]


def test_front_halves_audited_route_stages_through_spark(spark, tmp_path, monkeypatch,
                                                          counted):
    """Under fan_out_debezium a route's audit_fn runs inside its
    apply_batch, which the driver path does not audit: the collect
    front half writes that route's slice to its scratch partition and
    stages it through Spark, so a rejecting audit leaves its table and
    feed ledger untouched, while the unaudited sibling stages on the
    driver. A Collected batch handed to apply_batch with an audit_fn
    is refused."""
    tmp = str(tmp_path)
    audited = []

    def reject(table, wap_id):
        audited.append(table.read(wap_id=wap_id).count())
        return False

    spec = [("repos", None, "mor"), ("users", None, "cow")]
    raw = _wire(spark, tmp, "mixed", _feed(20, "repos") + _feed(8, "users", file_no=2))
    both = _front_halves(spark, tmp, raw, spec, counted, monkeypatch, audits=(reject,))
    got = both["local"]
    assert got["collects"] == 1 and got["driver_stages"] == 1
    assert len(audited) == 2 and audited[0] == audited[1] > 0
    rejected, kept = got["tables"]
    assert rejected["metrics"][0]["audit"] == "rejected"
    assert rejected["snapshot"] == 0 and rejected["read"] == [] and rejected["dead"] == []
    assert got["feeds"][0] == [] and kept["read"] and got["feeds"][1]
    eng = twins(spark, os.path.join(tmp, "direct"))["local"]
    with pytest.raises(ValueError, match="cannot be audited"):
        eng.apply_batch(local.Collected(pa.table({}), None, None), audit_fn=reject)


@pytest.mark.parametrize("flavor", ["plain", "atomic"])
def test_small_parquet_fan_out_runs_one_job_and_lexes_once(spark, tmp_path, monkeypatch,
                                                           counted, flavor):
    """A two-route parquet envelope input under the routes' summed
    LOCAL_MAX_ROWS: one named Spark job per call — the collect, which
    also observes the gate — whose plan decodes each envelope once."""
    tmp = str(tmp_path)
    raw = _wire(spark, tmp, "mixed", _feed(40, "repos") + _feed(30, "users", file_no=2))
    routes = [
        TableRoute(t, CDCEngine(spark, LakeTable.create(
            spark, os.path.join(tmp, t), key_cols=["repo", "path"], num_buckets=4,
        ), default_registry(), write_mode="mor"))
        for t in ("repos", "users")
    ]
    named, plans = [], []
    real_name, real_arrow = fanout.job_description, type(raw).toArrow

    def naming(spark, text):
        named.append(text)
        return real_name(spark, text)

    def to_arrow(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real_arrow(df)

    monkeypatch.setattr(fanout, "job_description", naming)
    monkeypatch.setattr(type(raw), "toArrow", to_arrow)
    if flavor == "plain":
        rep, jobs = _jobs(spark, lambda: fan_out_debezium(raw, routes))
    else:
        rep, jobs = _jobs(spark, lambda: fan_out_atomic(raw, routes, os.path.join(tmp, "txn")))
        assert rep["txn"] == "committed"
    assert jobs == 1, jobs
    assert named == ["filters_spark: fan-out collect repos"]
    assert len(plans) == 1
    assert plans[0].count("from_json") + plans[0].count("JsonToStructs") == 1
    assert len(counted) == 2 and rep["feed_to"] is not None


# --- paths, watermark edge cases, file layout, job names -------------------


def test_dirs_with_space_and_percent(spark, tmp_path, counted):
    """Spark percent-encodes ``inputFiles()`` URIs; the footer count
    must still read them, or the batch silently runs on Spark."""
    tmp = os.path.join(str(tmp_path), "sp ace%41")
    rows = [ev(1, i, f"r{i % 3}", f"p {i}%20.py") for i in range(6)]
    got = assert_parity(spark, tmp, [rows], counted)
    assert got["metrics"][0]["applied"] == 6


def test_string_event_seq_rejected_and_table_reads(spark, tmp_path, counted):
    """``event_seq`` is integral on both paths: apply_batch, stage_batch
    and replay refuse a string ``event_seq`` batch with ``ValueError``
    before staging, nothing is committed, and ``read()`` still returns
    the earlier rows (string delta files used to break the long read
    schema)."""
    tmp = str(tmp_path)
    rows = [ev(1, i, f"r{i}", "a.py") for i in range(3)]
    bad = parquet(spark, tmp, "bad", [ev(2, "7", "r1", "a.py", content="newer")],
                  ddl=DDL.replace("event_seq long", "event_seq string"))
    for path, e in twins(spark, tmp).items():
        e.apply_batch(parquet(spark, tmp, f"ok_{path}", rows))
        before = observe(e, [])
        assert [r[:2] for r in before["read"]] == [(f"r{i}", "a.py") for i in range(3)]
        for call in (e.apply_batch, lambda b: e.stage_batch(b, "wap-1"),
                     lambda b: e.replay(b, num_batches=2)):
            with pytest.raises(ValueError, match="event_seq"):
                call(bad)
        assert observe(e, []) == before, path
        staging = os.path.join(e.table.root, "_staging")
        assert not os.path.isdir(staging) or not os.listdir(staging), path
    assert len(counted) == 1  # the local twin's good batch took the driver path


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_integral_event_seq_extremes(spark, tmp_path, mode, counted):
    lo, hi = -(2**63), 2**63 - 1
    first = [
        ev(1, -5, "r1", "a.py"), ev(1, lo, "r2", "b.py"), ev(1, hi, "r3", "c.py"),
        ev(1, 0, "r4", "d.py"), ev(1, -1, "r5", "e.py"),
    ]
    second = [
        ev(1, -4, "r1", "a.py", content="x"), ev(1, lo + 1, "r2", "b.py", content="x"),
        ev(1, hi, "r3", "c.py", content="x"), ev(2, lo, "r4", "d.py", content="x"),
        ev(1, -10, "r5", "e.py", content="x"), ev(1, hi - 1, "r6", "f.py", content="x"),
    ]
    assert_parity(spark, str(tmp_path), [first, second], counted, num_buckets=8, mode=mode)


def _keys(path: str) -> list[tuple]:
    t = pq.read_table(path)
    return list(zip(*(t.column(c).to_pylist() for c in ("lang", "repo", "path"))))


def test_driver_written_file_layout(spark, tmp_path, counted):
    """``write_amp`` depends on the driver's file layout: one file per
    touched bucket, merge-on-read rows in (repo, path) order,
    copy-on-write rows in ``sort_cols`` then (repo, path) order, and no
    file for a bucket the batch emptied."""
    from filters_spark.lake.xxh import bucket_of

    tmp = str(tmp_path)
    keys = [(f"r{i % 5}", f"{(37 * i) % 50:02d}.py") for i in range(50)]
    rows = [ev(1, i, r, p, lang=["py", "go", "rs"][i % 3]) for i, (r, p) in enumerate(keys)]
    rows += [ev(1, 60 + i, r, p, lang="go") for i, (r, p) in enumerate(keys[:10])]  # dups

    mor = LakeTable.create(spark, os.path.join(tmp, "mor"), key_cols=["repo", "path"],
                           num_buckets=4)
    CDCEngine(spark, mor, default_registry(), write_mode="mor").apply_batch(
        parquet(spark, tmp, "m", rows))
    deltas = mor.current()["deltas"]
    assert sorted(int(b) for b, fl in deltas.items() if fl) == sorted(
        {bucket_of(r, p, 4, 16) for r, p in keys})
    for b, fl in deltas.items():
        assert len(fl) <= 1
        got = [k[1:] for f in fl for k in _keys(f)]
        assert got == sorted(got) and len(got) == len(set(got)), b

    cow = LakeTable.create(spark, os.path.join(tmp, "cow"), key_cols=["repo", "path"],
                           num_buckets=4, sort_cols=["lang"])
    eng = CDCEngine(spark, cow, default_registry())
    eng.apply_batch(parquet(spark, tmp, "c1", rows))
    before = cow.current()["buckets"]
    gone = bucket_of(*keys[0], 4, 16)
    deletes = [ev(2, i, r, p, op="D") for i, (r, p) in enumerate(keys)
               if bucket_of(r, p, 4, 16) == gone]
    other = next(k for k in keys if bucket_of(*k, 4, 16) != gone)
    eng.apply_batch(parquet(spark, tmp, "c2", deletes + [ev(2, 99, *other, lang="py")]))
    after = cow.current()["buckets"]
    assert after.get(str(gone), []) == []
    touched = str(bucket_of(*other, 4, 16))
    assert len(after[touched]) == 1 and after[touched] != before[touched]
    for b, fl in after.items():
        assert len(fl) <= 1
        got = [k for f in fl for k in _keys(f)]
        assert got == sorted(got, key=lambda k: (k[0] is not None, k)), b
    assert len(counted) == 3


def test_caller_job_group_and_description_survive(spark, tmp_path, monkeypatch, counted):
    """The engine names its jobs but restores the caller's job group
    and description (ingestbench attributes jobs by job group), on the
    driver path and on the Spark path (staging, stats and fold jobs)."""
    from tests.test_cdc_engine import events_df, make_engine
    from tests.test_fanout import SEQ, envelopes

    sc = spark.sparkContext
    tmp = str(tmp_path)
    table = LakeTable.create(spark, os.path.join(tmp, "t"), key_cols=["repo", "path"])
    eng = CDCEngine(spark, table, default_registry(), write_mode="mor")
    mixed = envelopes(events_df(spark, n_events=40, seed=3), table="repos").unionAll(
        envelopes(events_df(spark, n_events=30, seed=4), table="users"))
    routes = [TableRoute(r, make_engine(spark, os.path.join(tmp, r))) for r in ("repos", "users")]
    named = []
    real = cdc.job_description

    def naming(spark, text):
        named.append(text)
        return real(spark, text)

    monkeypatch.setattr(cdc, "job_description", naming)
    sc.setJobGroup("caller-group", "caller description")
    try:
        eng.apply_batch(parquet(spark, tmp, "a", [ev(1, 0, "r1", "a.py")]))
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        eng.LOCAL_MAX_ROWS = 0
        eng.apply_batch(parquet(spark, tmp, "b", [ev(2, 0, "r1", "b.py")]))
        del eng.LOCAL_MAX_ROWS
        assert named == [f"filters_spark: {job} t" for job in ("stage", "stats", "fold")]
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        rep = fan_out_atomic(mixed, routes, os.path.join(tmp, "txn"), seq_expr=SEQ)
        assert rep["txn"] == "committed"
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(counted) == 3
