"""End-to-end CDC engine tests: replay equality vs a pandas oracle,
exactly-once idempotency, kill-resume, batch-boundary invariance,
schema evolution (SURVEY.md §5.2.3-5.2.5)."""

import hashlib
import os
import re
import unicodedata

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window
import regex as rx

import filters_spark.engine.cdc as cdc
from filters_spark.engine.cdc import CDCEngine
from filters_spark.engine.defaults import default_registry
from filters_spark.lake.table import LakeTable
from filters_spark.sources.datagen import LANGS, gen_events

N_EVENTS = 4000


def make_engine(spark, tmp, num_buckets=8):
    table = LakeTable.create(
        spark, os.path.join(tmp, "lake"), key_cols=["repo", "path"],
        num_buckets=num_buckets, path_salt=4,
    )
    return CDCEngine(spark, table, default_registry())


_MATERIALIZED: dict[tuple, str] = {}


def events_df(spark, **kw):
    """Generated events, materialized once to parquet — the engine
    consumes a WAL from storage, not a live expression tree."""
    import tempfile

    params = dict(n_events=N_EVENTS, n_repos=20, n_paths=200, hot_frac=0.2,
                  dirty_frac=0.1, seed=7)
    params.update(kw)
    key = tuple(sorted(params.items()))
    if key not in _MATERIALIZED:
        path = tempfile.mkdtemp(prefix="fs_events_") + "/events.parquet"
        gen_events(spark, **params).write.parquet(path)
        _MATERIALIZED[key] = path
    return spark.read.parquet(_MATERIALIZED[key])


_NPR = rx.compile(r"[^\P{C}\s]+")


def oracle_normalize(content):
    if content is None:
        return None
    s = _NPR.sub("", content)
    s = unicodedata.normalize("NFC", s).replace("\r\n", "\n").replace("\r", "\n")
    return s


def oracle_replay(pdf: pd.DataFrame) -> dict:
    """Single-process reference replay: validate + LWW merge; returns
    {(repo,path): sha256(content)}."""
    state = {}
    pdf = pdf.sort_values(["commit", "event_seq"])
    for r in pdf.itertuples():
        # validation rules the default specs enforce
        path, lang, content = r.path, r.lang, r.content
        if path is None or len(path.strip()) == 0 or len(path.strip()) > 512:
            continue
        if r.repo is None:
            continue
        if lang is not None and lang.strip().lower() not in LANGS:
            continue
        if content is None or len(content) == 0:
            continue
        key = (r.repo, path.strip())
        if r.op == "D":
            state.pop(key, None)
        else:
            norm = oracle_normalize(content)
            state[key] = hashlib.sha256(norm.encode("utf-8")).hexdigest()
    return state


def final_state(engine) -> dict:
    df = engine.table.read()
    if df is None:
        return {}
    return {(r.repo, r.path): r.content_sha for r in df.collect()}


@pytest.fixture(scope="module")
def oracle(spark):
    pdf = events_df(spark).toPandas()
    return oracle_replay(pdf)


def test_replay_matches_oracle(spark, tmp_path, oracle):
    engine = make_engine(spark, str(tmp_path))
    metrics = engine.replay(events_df(spark), num_batches=3)
    assert sum(m["applied"] for m in metrics) > 0
    assert sum(m["dead_lettered"] for m in metrics) > 0
    state = final_state(engine)
    assert state == oracle
    # lineage recorded per bucket per commit
    lineage = engine.lineage()
    assert lineage is not None and lineage.count() > 0
    # dead letters carry raw payload + codes
    dl = engine.dead_letters()
    codes = {r.first_code for r in dl.select("first_code").distinct().collect()}
    assert codes & {"empty", "not_valid_choice", "too_long"}


def test_replay_sha_equality_under_unicode_hazards(spark, tmp_path):
    """End-to-end content-sha equality on the codepoints where the
    three regex dialects diverge (NBSP, ideographic space, ZWSP, NEL,
    VT, unassigned BMP + astral) — the class of bug the property suite
    caught in the vectorized normalize/strip paths. The oracle is the
    independent pandas replay (Python regex = reference semantics)."""
    ev = events_df(spark, n_events=1500, dirty_frac=0.05, unicode_hazards=True)
    engine = make_engine(spark, str(tmp_path))
    engine.replay(ev, num_batches=2)
    assert final_state(engine) == oracle_replay(ev.toPandas())


def test_batch_boundary_invariance(spark, tmp_path, oracle):
    e1 = make_engine(spark, str(tmp_path / "a"))
    e1.replay(events_df(spark), num_batches=1)
    e5 = make_engine(spark, str(tmp_path / "b"))
    e5.replay(events_df(spark), num_batches=5)
    assert final_state(e1) == final_state(e5) == oracle


def test_staged_replay_at_hex_commit_ceiling(spark, tmp_path):
    # regression (round-2 advice): group-staged replay bounded its last
    # group with format_string('%012x', hi+1); at commits near
    # 0xffffffffffff that is a 13-char string and the lexicographic
    # compare silently dropped the last group's events. The bound is now
    # numeric (same F.conv long as batch_id).
    ddl = (
        "commit string, event_seq long, op string, repo string, path string, "
        "lang string, content string, schema_version int"
    )
    top = (1 << 48) - 1
    ev = spark.createDataFrame(
        [
            ("%012x" % (top - 3), 0, "U", "r1", "a.py", "py", "va", 1),
            ("%012x" % (top - 1), 0, "U", "r1", "b.py", "py", "vb", 1),
            ("%012x" % top, 0, "U", "r1", "c.py", "py", "vc", 1),
        ],
        ddl,
    )
    engine = make_engine(spark, str(tmp_path), num_buckets=2)
    metrics = engine.replay(ev, num_batches=2, stage_batches=1)
    assert sum(m["applied"] for m in metrics) == 3
    assert {(r.repo, r.path) for r in engine.table.read().collect()} == {
        ("r1", "a.py"), ("r1", "b.py"), ("r1", "c.py")
    }


def test_idempotent_replay(spark, tmp_path, oracle):
    engine = make_engine(spark, str(tmp_path))
    ev = events_df(spark)
    engine.apply_batch(ev)
    sid = engine.table.current_snapshot_id()
    # full replay of the same batch: watermark filter drops everything
    m = engine.apply_batch(ev)
    assert m["applied"] == 0
    assert engine.table.current_snapshot_id() == sid
    assert final_state(engine) == oracle


def test_resume_from_checkpoint(spark, tmp_path, oracle):
    """Kill-and-resume: apply first half, then REPLAY FROM ZERO — the
    per-bucket watermarks skip the applied prefix; final state equals a
    clean full replay."""
    engine = make_engine(spark, str(tmp_path))
    ev = events_df(spark)
    mid = ev.select(F.max("commit")).first()[0]
    first_half = ev.filter(F.col("commit") <= F.lit(mid)).filter(
        F.col("commit") < F.format_string("%012x", F.lit(21))
    )
    engine.apply_batch(first_half)
    # crash... new engine object over same lake root (checkpoint = manifest)
    table2 = LakeTable.load(spark, engine.table.root)
    engine2 = CDCEngine(spark, table2, default_registry())
    engine2.apply_batch(ev)  # full stream from offset zero
    assert final_state(engine2) == oracle


def test_time_travel_snapshots(spark, tmp_path):
    engine = make_engine(spark, str(tmp_path))
    engine.replay(events_df(spark), num_batches=2)
    snaps = engine.table.snapshots()
    assert len(snaps) >= 3  # 0 (empty) + 2 commits
    early = engine.table.read(snapshot_id=snaps[1])
    late = engine.table.read(snapshot_id=snaps[-1])
    assert early.count() < late.count()


def test_schema_evolution_rename(spark, tmp_path):
    """v2 events arrive with 'language' instead of 'lang'; v0 events
    lack lang entirely. Both merge correctly."""
    engine = make_engine(spark, str(tmp_path))
    base = events_df(spark, n_events=200, dirty_frac=0.0)
    v2 = (
        events_df(spark, n_events=200, dirty_frac=0.0, start_commit=1000)
        .withColumnRenamed("lang", "language")
        .withColumn("schema_version", F.lit(2))
    )
    v0 = (
        events_df(spark, n_events=100, dirty_frac=0.0, start_commit=2000)
        .drop("lang")
        .withColumn("schema_version", F.lit(0))
    )
    engine.apply_batch(base)
    engine.apply_batch(v2)
    m = engine.apply_batch(v0)
    assert m["applied"] > 0
    state = engine.table.read()
    assert state.filter(F.col("lang").isNull()).count() > 0  # v0 rows
    assert state.filter(F.col("lang").isin(LANGS)).count() > 0


V1_DDL = (
    "commit string, event_seq long, op string, repo string, path string, "
    "lang string, content string, schema_version int"
)
V3_DDL = (
    "commit string, event_seq long, op string, repo string, path string, "
    "lang string, content string, license string, schema_version int"
)


def _schema_add_run(spark, tmp_path, write_mode):
    """Mid-stream column ADD (Iceberg schema evolution): batch 1 under
    v1 (no 'license'), registry widened, batch 2 under v3 carrying it —
    old rows read NULL, new rows validated, time travel keeps the old
    schema."""
    from filters_spark.engine.defaults import CANONICAL_COLUMNS, FIELD_SPECS_V1
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec

    reg = SpecRegistry(CANONICAL_COLUMNS)
    reg.register(VersionSpec(1, FIELD_SPECS_V1))
    table = LakeTable.create(
        spark, os.path.join(str(tmp_path), "lake"), key_cols=["repo", "path"], num_buckets=4
    )
    engine = CDCEngine(spark, table, reg, write_mode=write_mode, compact_after=99)

    ev1 = spark.createDataFrame(
        [("%012x" % 1, 0, "U", "r1", "a.py", "py", "v1-a", 1),
         ("%012x" % 1, 1, "U", "r1", "b.py", "py", "v1-b", 1)],
        V1_DDL,
    )
    engine.apply_batch(ev1)
    sid_narrow = table.current_snapshot_id()
    assert "license" not in table.read().columns  # pre-widening schema

    # WIDEN mid-stream: v3 adds 'license' to the canonical set
    reg.register(VersionSpec(3, {**FIELD_SPECS_V1, "license": {"chain": ["strip", "ascii_lower"]}}))
    ev3 = spark.createDataFrame(
        [("%012x" % 2, 0, "U", "r1", "a.py", "py", "v3-a", "  MIT ", 3),
         ("%012x" % 2, 1, "U", "r2", "c.py", "py", "v3-c", "Apache-2.0", 3)],
        V3_DDL,
    )
    engine.apply_batch(ev3)

    got = {(r.repo, r.path): r for r in table.read().collect()}
    assert set(got) == {("r1", "a.py"), ("r1", "b.py"), ("r2", "c.py")}
    assert got[("r1", "a.py")].license == "mit"          # validated via the v3 chain
    assert got[("r2", "c.py")].license == "apache-2.0"
    assert got[("r1", "b.py")].license is None           # pre-widening row -> NULL
    assert got[("r1", "a.py")].content == "v3-a"         # LWW still wins

    # time travel: the pre-widening snapshot keeps its own column set
    old = table.read(snapshot_id=sid_narrow)
    assert "license" not in old.columns
    assert {r.path for r in old.collect()} == {"a.py", "b.py"}
    return table


def test_schema_evolution_added_column_cow(spark, tmp_path):
    _schema_add_run(spark, tmp_path, "cow")


def test_schema_evolution_added_column_mor(spark, tmp_path):
    t = _schema_add_run(spark, tmp_path, "mor")
    # the incremental change log carries the added column too
    ch = {(r.repo, r.path): r for r in t.changes(0).collect()}
    assert ch[("r2", "c.py")].license == "apache-2.0"
    # and compaction folds the mixed-schema deltas losslessly
    before = sorted(tuple(r) for r in t.read().collect())
    t.compact()
    assert sorted(tuple(r) for r in t.read().collect()) == before


def test_register_rejects_reserved_field_names():
    from filters_spark.engine.defaults import CANONICAL_COLUMNS, FIELD_SPECS_V1
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec

    reg = SpecRegistry(CANONICAL_COLUMNS)
    for bad in ("commit", "event_seq", "op", "schema_version", "content_sha", "_bucket"):
        with pytest.raises(ValueError, match="reserved"):
            reg.register(VersionSpec(9, {**FIELD_SPECS_V1, bad: {"chain": ["strip"]}}))


def test_schema_add_composes_with_rescale_and_retry(spark, tmp_path):
    """Column ADD composed with the other lifecycle ops: dead letters
    staged BEFORE the widening retry cleanly after it (NULL license),
    and a post-widening rescale carries the added column through the
    re-bucketing."""
    from filters_spark.engine.defaults import CANONICAL_COLUMNS, FIELD_SPECS_V1
    from filters_spark.engine.evolution import SpecRegistry, VersionSpec

    reg = SpecRegistry(CANONICAL_COLUMNS)
    reg.register(VersionSpec(1, FIELD_SPECS_V1))
    table = LakeTable.create(
        spark, os.path.join(str(tmp_path), "lake"), key_cols=["repo", "path"], num_buckets=4
    )
    engine = CDCEngine(spark, table, reg)

    # batch 1 under v1: one clean row, one dead letter (bad lang)
    ev1 = spark.createDataFrame(
        [("%012x" % 1, 0, "U", "r1", "a.py", "py", "v1-a", 1),
         ("%012x" % 1, 1, "U", "r1", "bad.py", "klingon", "v1-bad", 1)],
        V1_DDL,
    )
    m1 = engine.apply_batch(ev1)
    assert m1["dead_lettered"] == 1

    # widen: v3 adds 'license' AND fixes the lang choice
    fixed = dict(FIELD_SPECS_V1)
    fixed["lang"] = {"chain": ["strip", "ascii_lower", ("choice", {"choices": [
        "py", "js", "go", "rs", "java", "c", "cpp", "rb", "klingon"]})]}
    reg.register(VersionSpec(3, {**fixed, "license": {"chain": ["strip", "ascii_lower"]}}))

    # pre-widening dead letters drain through the widened registry
    m = engine.retry_dead_letters()
    assert m["applied"] == 1
    got = {(r.repo, r.path): r for r in table.read().collect()}
    assert got[("r1", "bad.py")].lang == "klingon"
    assert got[("r1", "bad.py")].license is None

    # batch under v3 with the new column, then rescale the widened table
    ev3 = spark.createDataFrame(
        [("%012x" % 2, 0, "U", "r2", "c.py", "py", "v3-c", "MIT", 3)], V3_DDL
    )
    engine.apply_batch(ev3)
    before = sorted(tuple(r) for r in table.read().drop("_bucket").collect())
    table.rescale(num_buckets=8)
    after = sorted(tuple(r) for r in table.read().drop("_bucket").collect())
    assert after == before  # license column survives re-bucketing
    assert {r.license for r in table.read().collect()} == {None, "mit"}


def test_unknown_schema_version_dead_letters(spark, tmp_path):
    """An unregistered schema_version must not stall the stream: those
    events route to the dead-letter table with a dedicated code."""
    engine = make_engine(spark, str(tmp_path))
    ev = events_df(spark, n_events=10).withColumn("schema_version", F.lit(99))
    m = engine.apply_batch(ev)
    assert m["applied"] == 0
    assert m["dead_lettered"] == 10
    dl = engine.dead_letters()
    assert dl.count() == 10
    assert {r.first_code for r in dl.collect()} == {"unknown_schema_version"}


def driver_applies(spark, tmp, eng, ev, num_batches, monkeypatch) -> list[dict]:
    """The reference for ``replay(ev, num_batches)``: one ``apply_batch``
    per replay batch, on the commit range replay cuts (its lo/span/clamp
    formula over the commit bounds), each written as one parquet file
    small enough for the driver path (engine/local.py) — a separate
    Arrow implementation of the fold. Asserts the driver path ran."""
    tbl = ev.toArrow()
    commits = [int(c, 16) for c in tbl.column("commit").to_pylist()]
    lo, hi = min(commits), max(commits)
    span = (hi - lo + num_batches) // num_batches
    batch_of = pa.array([min((c - lo) // span, num_batches - 1) for c in commits])
    calls = []
    real = cdc.apply_local
    monkeypatch.setattr(
        cdc, "apply_local", lambda *a, **kw: calls.append(1) or real(*a, **kw)
    )
    metrics = []
    for i in range(num_batches):
        part = tbl.filter(pc.equal(batch_of, i))
        assert part.num_rows <= CDCEngine.LOCAL_MAX_ROWS
        path = os.path.join(tmp, f"slice-{i}")
        os.makedirs(path)
        pq.write_table(part, os.path.join(path, "part-0.parquet"))
        metrics.append(eng.apply_batch(spark.read.parquet(path)))
    assert len(calls) == num_batches
    return metrics


def _sha_rows(table: LakeTable, sid: int | None = None) -> list[tuple]:
    df = table.read(snapshot_id=sid)
    return sorted((r.repo, r.path, r.content_sha) for r in df.collect()) if df is not None else []


def _without(metrics: list[dict], *keys: str) -> list[dict]:
    return [{k: v for k, v in m.items() if k not in ("seconds", *keys)} for m in metrics]


def test_grouped_cow_applies_match_sequential_per_snapshot(spark, tmp_path, monkeypatch):
    """The grouped replay (one fold job for all batches +
    driver-finalized ordered commits) must be indistinguishable from
    applying the same batches one by one on the driver path at SNAPSHOT
    granularity: same metrics, same snapshots, same watermarks, and the
    same time-travel state at every intermediate snapshot."""
    ev = events_df(spark, n_events=4000, dirty_frac=0.1)
    tmp = str(tmp_path)
    seq, grp = (make_engine(spark, os.path.join(tmp, tag)) for tag in ("seq", "grp"))
    m_seq = driver_applies(spark, tmp, seq, ev, 3, monkeypatch)
    m_grp = grp.replay(ev, num_batches=3)
    t_seq, t_grp = seq.table, grp.table

    assert _without(m_seq) == _without(m_grp)
    assert t_seq.snapshots() == t_grp.snapshots()
    for sid in t_seq.snapshots():
        assert t_seq.snapshot(sid)["watermarks"] == t_grp.snapshot(sid)["watermarks"], sid
        assert _sha_rows(t_seq, sid) == _sha_rows(t_grp, sid), sid


def test_grouped_cow_delete_empties_bucket(spark, tmp_path, monkeypatch):
    """Grouped-fold edge: a later batch deletes every key in a bucket —
    the batch's partitioned write emits no directory for it, and the
    commit must REMOVE the bucket (as the driver path's one-by-one
    applies do), with the delete invisible at the earlier snapshot
    (time travel)."""
    ddl = ("commit string, event_seq long, op string, repo string, "
           "path string, lang string, content string, schema_version int")
    # one key => one bucket; batch 1 upserts, batch 2 deletes it
    ev = spark.createDataFrame(
        [("%012x" % 1, 0, "U", "r1", "a.py", "py", "v1", 1),
         ("%012x" % 9, 0, "D", "r1", "a.py", "py", "v1", 1)],
        ddl,
    )
    tables = {
        tag: LakeTable.create(
            spark, os.path.join(str(tmp_path), f"lake_del_{tag}"),
            key_cols=["repo", "path"], num_buckets=4,
        )
        for tag in ("seq", "grp")
    }
    m_seq = driver_applies(
        spark, str(tmp_path), CDCEngine(spark, tables["seq"], default_registry()), ev, 2,
        monkeypatch,
    )
    table = tables["grp"]
    metrics = CDCEngine(spark, table, default_registry()).replay(ev, num_batches=2)
    assert [m["applied"] for m in metrics] == [1, 1]
    assert _without(metrics) == _without(m_seq)
    sids = table.snapshots()
    assert sids == tables["seq"].snapshots()
    assert table.read() is None  # all rows deleted -> empty table
    assert table.current()["buckets"] == {}  # bucket removed, not empty-listed
    mid = table.read(snapshot_id=sids[-2])  # pre-delete snapshot still has it
    assert [(r.repo, r.path) for r in mid.collect()] == [("r1", "a.py")]
    assert _sha_rows(table, sids[-2]) == _sha_rows(tables["seq"], sids[-2])


def test_grouped_cow_across_staging_groups(spark, tmp_path, monkeypatch):
    """stage_batches chunks the replay into staged GROUPS; each group's
    fold must read the state the previous group committed (keys
    overwritten across the group boundary), and the result must equal
    the one-by-one driver applies snapshot-for-snapshot."""
    ev = events_df(spark, n_events=4000, dirty_frac=0.1)
    tmp = str(tmp_path)
    seq, grp = (make_engine(spark, os.path.join(tmp, tag)) for tag in ("seq", "grp"))
    m_seq = driver_applies(spark, tmp, seq, ev, 4, monkeypatch)
    m_grp = grp.replay(ev, num_batches=4, stage_batches=2)
    t_seq, t_grp = seq.table, grp.table
    assert _without(m_seq) == _without(m_grp)
    assert t_seq.snapshots() == t_grp.snapshots()
    for sid in t_seq.snapshots():
        assert (t_seq.snapshot(sid)["watermarks"]
                == t_grp.snapshot(sid)["watermarks"]), sid
        assert _sha_rows(t_seq, sid) == _sha_rows(t_grp, sid), sid


def test_grouped_mor_applies_match_sequential(spark, tmp_path, monkeypatch):
    """Merge-on-read fold: one dedupe job for all batches + per-batch
    delta commits must land the same read state as the one-by-one
    driver applies at EVERY snapshot, including when threshold
    compaction fires between batches."""
    ev = events_df(spark, n_events=4000, dirty_frac=0.1)

    def engine(tag):
        table = LakeTable.create(
            spark, os.path.join(str(tmp_path), f"lake_mor_{tag}"),
            key_cols=["repo", "path"], num_buckets=8, path_salt=4,
        )
        return CDCEngine(spark, table, default_registry(), write_mode="mor", compact_after=3)

    e_seq, e_grp = engine("seq"), engine("grp")
    m_seq = driver_applies(spark, str(tmp_path), e_seq, ev, 4, monkeypatch)
    m_grp = e_grp.replay(ev, num_batches=4)
    t_seq, t_grp = e_seq.table, e_grp.table

    assert _without(m_seq, "snapshot_id") == _without(m_grp, "snapshot_id")
    # compaction interleaves its own snapshots; compare the final READ
    # state and the watermarks (the sequence of commit ops may differ
    # in snapshot ids but not in content)
    assert _sha_rows(t_seq) == _sha_rows(t_grp)
    assert t_seq.current()["watermarks"] == t_grp.current()["watermarks"]
    # per-batch snapshots: walk the append-deltas snapshots in order
    # and compare read state at each
    def delta_sids(t):
        return [s for s in t.snapshots()
                if t.snapshot(s).get("operation") == "append-deltas"]
    sa, sb = delta_sids(t_seq), delta_sids(t_grp)
    assert len(sa) == len(sb) == 4
    for x, y in zip(sa, sb):
        assert _sha_rows(t_seq, x) == _sha_rows(t_grp, y), (x, y)


def test_grouped_cow_replay_writes_sort_cols_order(spark, tmp_path):
    """A grouped copy-on-write replay clusters every base file by the
    table's ``sort_cols``, as a single commit does."""
    table = LakeTable.create(
        spark, os.path.join(str(tmp_path), "lake"), key_cols=["repo", "path"],
        num_buckets=4, sort_cols=["event_seq"],
    )
    CDCEngine(spark, table, default_registry()).replay(events_df(spark), num_batches=2)
    files = [f for fl in table.current()["buckets"].values() for f in fl]
    assert files
    for f in files:
        seqs = pq.read_table(f, columns=["event_seq"]).column("event_seq").to_pylist()
        assert seqs == sorted(seqs), f


def test_seed_table_shares_event_key_space(spark, tmp_path):
    """gen_repos and gen_events with matching (n_repos, n_paths, seed)
    draw (repo, path) from the same formula, so a seed-then-replay run
    exercises merge against PRE-EXISTING keys: seeded rows get updated
    and deleted, not just accompanied by fresh inserts."""
    from filters_spark.sources.datagen import gen_repos

    seed_df = gen_repos(spark, 300, n_repos=20, n_paths=200, seed=7)
    assert seed_df.count() == seed_df.select("repo", "path").distinct().count()
    ev = events_df(spark)  # 4000 events, same n_repos/n_paths/seed
    seed_keys = {(r.repo, r.path) for r in seed_df.select("repo", "path").collect()}
    ev_keys = {
        (r.repo, r.path)
        for r in ev.filter(F.col("path").isNotNull()).select("repo", "path").collect()
    }
    overlap = len(seed_keys & ev_keys) / len(seed_keys)
    assert overlap > 0.3, f"seed/event key overlap only {overlap:.2%}"

    # full seed + replay: seed rows enter as commit-0 inserts, then the
    # real stream (commits >= 1) replays over them
    engine = make_engine(spark, str(tmp_path))
    seed_events = seed_df.select(
        "commit",
        F.row_number().over(
            Window.orderBy("repo", "path")
        ).cast("long").alias("event_seq"),
        F.lit("I").alias("op"),
        "repo", "path", "lang", "content",
        F.lit(1).alias("schema_version"),
    )
    engine.apply_batch(seed_events)
    seed_state = {
        (r.repo, r.path): r.content_sha for r in engine.table.read().collect()
    }
    engine.replay(ev, num_batches=2)
    final_state = {
        (r.repo, r.path): r.content_sha for r in engine.table.read().collect()
    }
    updated = sum(
        1 for k, sha in seed_state.items()
        if k in final_state and final_state[k] != sha
    )
    deleted = sum(1 for k in seed_state if k not in final_state)
    assert updated > 0, "no seeded row was updated by the stream"
    assert deleted > 0, "no seeded row was deleted by the stream"


def test_event_seq_crossing_ten_digits_orders_correctly(spark, tmp_path):
    """Watermark-width regression: Spark's lpad PREFIX-TRUNCATES a seq
    longer than the pad, so a 10-digit pad mis-sorts seq 10^10 BELOW
    10^10-1 (the Debezium default seq pos*65536+row crosses 10 digits
    at binlog pos ~152k). The 20-digit pad covers the full BIGINT range
    — both the in-batch LWW fold and the stored-watermark replay dedupe
    must order the wide seq above the narrow one."""
    import hashlib

    eng = make_engine(spark, str(tmp_path))
    schema = ("commit string, event_seq long, op string, repo string, "
              "path string, lang string, content string, schema_version int")
    lo = [("00000000000a", 9_999_999_999, "U", "r", "a.py", "py", "old", 1)]
    hi = [("00000000000a", 10_000_000_000, "U", "r", "a.py", "py", "new", 1)]
    want = {("r", "a.py"): hashlib.sha256(b"new").hexdigest()}

    eng.apply_batch(spark.createDataFrame(lo + hi, schema))
    assert final_state(eng) == want  # in-batch fold
    m = eng.apply_batch(spark.createDataFrame(lo, schema))
    assert m["applied"] == 0 and m["skipped_replays"] == 1  # stored-wm dedupe
    assert final_state(eng) == want
