"""Multi-table CDC fan-out (engine/fanout.py): one mixed Debezium
envelope stream routed to per-table engines in a single parse pass —
routing correctness, unrouted policies, per-table exactly-once under
crash-replay, and the Structured-Streaming front-end."""

import os

import pytest
import pyspark.sql.functions as F

from filters_spark.engine.fanout import (
    TableRoute,
    consistent_cut,
    fan_out_debezium,
    feed_positions,
    start_fanout_stream,
)

from tests.test_cdc_engine import events_df, final_state, make_engine

SEQ = lambda s: s["pos"].cast("long")  # noqa: E731 — envelope pos IS event_seq


def envelopes(ev, db="d", table="t"):
    """Wrap engine events as Debezium envelopes tagged with a source
    db/table — the mixed-stream shape one binlog connector emits.
    Mirrors tests.test_debezium.envelope_df plus the routing fields."""
    dbz_op = (
        F.when(F.col("op") == "I", F.lit("c"))
        .when(F.col("op") == "U", F.lit("u"))
        .otherwise(F.lit("d"))
    )
    image = F.create_map(
        F.lit("repo"), F.col("repo"), F.lit("path"), F.col("path"),
        F.lit("lang"), F.col("lang"), F.lit("content"), F.col("content"),
    )
    src = F.struct(
        F.lit(db).alias("db"),
        F.lit(table).alias("table"),
        F.concat(F.lit("mysql-bin."),
                 F.lpad(F.conv(F.col("commit"), 16, 10), 9, "0")).alias("file"),
        F.col("event_seq").alias("pos"),
        F.lit(0).alias("row"),
    )
    return ev.select(
        F.to_json(
            F.struct(
                F.when(F.col("op") == "D", image).alias("before"),
                F.when(F.col("op") != "D", image).alias("after"),
                src.alias("source"),
                dbz_op.alias("op"),
            )
        ).alias("value")
    )


def _two_streams(spark):
    """Two independent tables' change streams (different seeds so their
    contents differ) plus the interleaved mixed wire stream."""
    ev_a = events_df(spark, n_events=600, seed=11, dirty_frac=0.05)
    ev_b = events_df(spark, n_events=400, seed=23, dirty_frac=0.05)
    mixed = envelopes(ev_a, table="repos").unionAll(envelopes(ev_b, table="users"))
    return ev_a, ev_b, mixed


def _direct(spark, tmp_path, ev, name):
    eng = make_engine(spark, str(tmp_path / name))
    eng.apply_batch(ev)
    return final_state(eng)


def test_mixed_batch_routes_to_both_tables(spark, tmp_path):
    """One fan-out over the interleaved stream == two direct
    single-table applies, byte-identical final states."""
    ev_a, ev_b, mixed = _two_streams(spark)
    eng_a = make_engine(spark, str(tmp_path / "a"))
    eng_b = make_engine(spark, str(tmp_path / "b"))

    report = fan_out_debezium(
        mixed,
        [TableRoute("repos", eng_a), TableRoute("users", eng_b)],
        seq_expr=SEQ,
    )

    assert final_state(eng_a) == _direct(spark, tmp_path, ev_a, "da")
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")
    assert report["unrouted"] == {}
    assert report["tables"]["repos"]["events_in"] == 600
    assert report["tables"]["users"]["events_in"] == 400


def test_unrouted_policies(spark, tmp_path):
    """Default counts unrouted events per source table; 'raise' fails
    the batch BEFORE any table applies; 'ignore' skips the count job."""
    ev_a = events_df(spark, n_events=300, seed=11, dirty_frac=0.0)
    ev_x = events_df(spark, n_events=200, seed=5, dirty_frac=0.0)
    mixed = envelopes(ev_a, table="repos").unionAll(envelopes(ev_x, table="extra"))

    eng = make_engine(spark, str(tmp_path / "a"))
    report = fan_out_debezium(mixed, [TableRoute("repos", eng)], seq_expr=SEQ)
    assert report["unrouted"] == {"d.extra": 200}
    assert final_state(eng) == _direct(spark, tmp_path, ev_a, "direct")

    eng2 = make_engine(spark, str(tmp_path / "b"))
    with pytest.raises(ValueError, match="unrouted source tables"):
        fan_out_debezium(mixed, [TableRoute("repos", eng2)],
                         seq_expr=SEQ, unrouted="raise")
    assert final_state(eng2) == {}  # raise precedes every apply

    eng3 = make_engine(spark, str(tmp_path / "c"))
    report3 = fan_out_debezium(mixed, [TableRoute("repos", eng3)],
                               seq_expr=SEQ, unrouted="ignore")
    assert report3["unrouted"] == {}
    assert final_state(eng3) == final_state(eng)


def test_db_qualifier_disambiguates_same_table_name(spark, tmp_path):
    """Two databases carrying the same table name split cleanly when
    routes carry the db qualifier; a db-less route matches any db."""
    ev_a = events_df(spark, n_events=300, seed=11, dirty_frac=0.0)
    ev_b = events_df(spark, n_events=200, seed=23, dirty_frac=0.0)
    mixed = envelopes(ev_a, db="prod", table="t").unionAll(
        envelopes(ev_b, db="staging", table="t"))

    eng_p = make_engine(spark, str(tmp_path / "p"))
    eng_s = make_engine(spark, str(tmp_path / "s"))
    report = fan_out_debezium(
        mixed,
        [TableRoute("t", eng_p, db="prod"), TableRoute("t", eng_s, db="staging")],
        seq_expr=SEQ,
    )
    assert report["unrouted"] == {}
    assert final_state(eng_p) == _direct(spark, tmp_path, ev_a, "dp")
    assert final_state(eng_s) == _direct(spark, tmp_path, ev_b, "ds")

    # db-less route swallows both dbs into one table
    eng_any = make_engine(spark, str(tmp_path / "any"))
    fan_out_debezium(mixed, [TableRoute("t", eng_any)], seq_expr=SEQ)
    merged = _two_db_merge(spark, tmp_path, ev_a, ev_b)
    assert final_state(eng_any) == merged


def _two_db_merge(spark, tmp_path, ev_a, ev_b):
    eng = make_engine(spark, str(tmp_path / "merged"))
    eng.apply_batch(ev_a.unionAll(ev_b))
    return final_state(eng)


def test_route_validation(spark, tmp_path):
    eng = make_engine(spark, str(tmp_path / "a"))
    with pytest.raises(ValueError, match="missing \\['path'\\]"):
        TableRoute("t", eng, fields=("repo", "lang"))
    with pytest.raises(ValueError, match="duplicate route"):
        fan_out_debezium(
            envelopes(events_df(spark, n_events=10, seed=1)),
            [TableRoute("t", eng), TableRoute("t", eng)],
        )
    with pytest.raises(ValueError, match="unrouted must be"):
        fan_out_debezium(
            envelopes(events_df(spark, n_events=10, seed=1)),
            [TableRoute("t", eng)], unrouted="explode",
        )


def test_crash_between_table_commits_replays_only_the_loser(spark, tmp_path):
    """The claimed per-table exactly-once: a crash AFTER table A's
    commit but BEFORE table B's re-delivers the whole mixed batch —
    A's watermarks skip every replayed event, B applies normally, and
    a full second replay is a no-op on both."""
    ev_a, ev_b, mixed = _two_streams(spark)
    eng_a = make_engine(spark, str(tmp_path / "a"))
    eng_b = make_engine(spark, str(tmp_path / "b"))

    # simulate the pre-crash half: table A already committed this batch
    from filters_spark.sources.debezium import parse_debezium

    parsed_a = parse_debezium(
        envelopes(ev_a, table="repos"),
        ["repo", "path", "lang", "content"], seq_expr=SEQ,
    )
    eng_a.apply_batch(parsed_a)
    sid_a = eng_a.table.current_snapshot_id()

    routes = [TableRoute("repos", eng_a), TableRoute("users", eng_b)]
    report = fan_out_debezium(mixed, routes, seq_expr=SEQ)
    assert report["tables"]["repos"]["applied"] == 0
    assert report["tables"]["repos"]["skipped_replays"] > 0
    assert report["tables"]["users"]["applied"] > 0
    assert final_state(eng_a) == _direct(spark, tmp_path, ev_a, "da")
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")

    # replaying the WHOLE mixed batch again is a no-op everywhere
    sid_a2 = eng_a.table.current_snapshot_id()
    sid_b = eng_b.table.current_snapshot_id()
    report2 = fan_out_debezium(mixed, routes, seq_expr=SEQ)
    assert report2["tables"]["repos"]["applied"] == 0
    assert report2["tables"]["users"]["applied"] == 0
    assert eng_a.table.current_snapshot_id() == sid_a2
    assert eng_b.table.current_snapshot_id() == sid_b
    assert sid_a2 == sid_a  # a fully-replayed batch commits nothing


def _commit_split(ev):
    """A mid-stream commit boundary: (batch1, batch2) with every batch-1
    watermark strictly below every batch-2 watermark (commit-major)."""
    commits = sorted(r["commit"] for r in ev.select("commit").distinct().collect())
    assert len(commits) >= 2, "need at least two commits to split"
    mid = commits[(len(commits) - 1) // 2]
    return ev.filter(F.col("commit") <= mid), ev.filter(F.col("commit") > mid)


def test_consistent_cut_across_torn_batch(spark, tmp_path):
    """A crash after table A's batch-2 commit but before table B's
    leaves the topology torn; consistent_cut returns the last position
    BOTH tables hold, and time-travel reads there see the un-torn
    prefix. Recovery (full re-delivery) advances the cut."""
    ev_a, ev_b, _ = _two_streams(spark)
    a1, a2 = _commit_split(ev_a)
    b1, b2 = _commit_split(ev_b)
    eng_a = make_engine(spark, str(tmp_path / "a"))
    eng_b = make_engine(spark, str(tmp_path / "b"))
    routes = [TableRoute("repos", eng_a), TableRoute("users", eng_b)]

    mixed1 = envelopes(a1, table="repos").unionAll(envelopes(b1, table="users"))
    mixed2 = envelopes(a2, table="repos").unionAll(envelopes(b2, table="users"))
    rep1 = fan_out_debezium(mixed1, routes, seq_expr=SEQ)
    assert rep1["feed_to"] is not None
    # crash mid-batch-2: only table A's route runs
    fan_out_debezium(mixed2, [routes[0]], seq_expr=SEQ, unrouted="ignore")

    cut = consistent_cut({"repos": eng_a.table, "users": eng_b.table})
    assert cut["feed_to"] == rep1["feed_to"]
    state_a1 = _direct(spark, tmp_path, a1, "da1")
    cut_read = eng_a.table.read(snapshot_id=cut["snapshots"]["repos"])
    got = {(r.repo, r.path): r.content_sha for r in cut_read.collect()}
    assert got == state_a1
    # B's head IS the cut — no travel needed
    assert cut["snapshots"]["users"] == eng_b.table.current_snapshot_id()

    # recovery: the whole batch re-delivers; A skips replays, B applies
    rep2 = fan_out_debezium(mixed2, routes, seq_expr=SEQ)
    assert rep2["tables"]["repos"]["applied"] == 0
    cut2 = consistent_cut({"repos": eng_a.table, "users": eng_b.table})
    assert cut2["feed_to"] == rep2["feed_to"] > cut["feed_to"]
    assert cut2["snapshots"]["repos"] == eng_a.table.current_snapshot_id()
    assert cut2["snapshots"]["users"] == eng_b.table.current_snapshot_id()

    # ledger: one entry per batch, ascending, replay added nothing new
    led = feed_positions(eng_a.table)
    assert [e["feed_to"] for e in led] == sorted({e["feed_to"] for e in led})
    assert len(led) == 2


def test_consistent_cut_requires_full_ledgers(spark, tmp_path):
    ev_a = events_df(spark, n_events=200, seed=11, dirty_frac=0.0)
    a1, a2 = _commit_split(ev_a)
    eng_a = make_engine(spark, str(tmp_path / "a"))
    eng_b = make_engine(spark, str(tmp_path / "b"))

    # never-fed table
    fan_out_debezium(envelopes(a1, table="repos"),
                     [TableRoute("repos", eng_a)], seq_expr=SEQ)
    with pytest.raises(ValueError, match="no feed-position ledger"):
        consistent_cut({"repos": eng_a.table, "users": eng_b.table})

    # late joiner: B first appears at batch 2, so it has no entry at
    # the cut a slower A pins — its batch-1 state is unknowable
    fan_out_debezium(envelopes(a2, table="users"),
                     [TableRoute("users", eng_b)], seq_expr=SEQ,
                     unrouted="ignore")
    eng_c = make_engine(spark, str(tmp_path / "c"))
    fan_out_debezium(envelopes(a1, table="other"),
                     [TableRoute("other", eng_c)], seq_expr=SEQ,
                     unrouted="ignore")
    with pytest.raises(ValueError, match="no ledger entry at cut"):
        consistent_cut({"users": eng_b.table, "other": eng_c.table})


def test_route_slices_never_reparse_the_json(spark, tmp_path):
    """The module's scale claim: the raw JSON is decoded ONCE, by the
    route-partitioned scratch write, and each route's slice reads only
    its own ``_route=i`` partition — a per-route re-parse would
    multiply the most expensive stage by the route count. Pinned on
    the exact frames fan-out builds."""
    from filters_spark.engine.fanout import _gate, _route_partitioned

    ev_a = events_df(spark, n_events=50, seed=7, dirty_frac=0.0)
    ev_b = events_df(spark, n_events=30, seed=8, dirty_frac=0.0)
    wire = str(tmp_path / "wire")
    envelopes(ev_a, table="repos").unionAll(envelopes(ev_b, table="users")).write.parquet(wire)
    raw = spark.read.parquet(wire)
    routes = [
        TableRoute("repos", make_engine(spark, str(tmp_path / "a"))),
        TableRoute("users", make_engine(spark, str(tmp_path / "b"))),
    ]
    plan = _route_partitioned(raw, routes, "value", None, SEQ)
    written = plan._jdf.queryExecution().executedPlan().toString()
    assert written.count("from_json") + written.count("JsonToStructs") == 1
    scratch = str(tmp_path / "scratch")
    plan.write.partitionBy("_route").parquet(scratch)
    seen = {"n_unordered": 0, "n_unrouted": 0, "wm": None, "wm_min": None, "n": 80}
    slices, _ = _gate(raw, routes, scratch, plan, seen, "count", True)
    for i, (sliced, n) in enumerate(zip(slices, (50, 30))):
        scan = sliced._jdf.queryExecution().executedPlan().toString()
        assert "from_json" not in scan and "JsonToStructs" not in scan
        files = sliced.inputFiles()
        assert files and all(f"/_route={i}/" in f for f in files)
        assert sliced.count() == n


def test_streaming_fanout_end_to_end(spark, tmp_path):
    """WAL text segments -> readStream -> start_fanout_stream: both
    tables converge to the direct applies; a restart over the same
    checkpoint changes nothing."""
    ev_a, ev_b, mixed = _two_streams(spark)
    wal = str(tmp_path / "wal")
    os.makedirs(wal)
    mixed.coalesce(1).write.text(os.path.join(wal, "seg1"))

    eng_a = make_engine(spark, str(tmp_path / "a"))
    eng_b = make_engine(spark, str(tmp_path / "b"))
    routes = [TableRoute("repos", eng_a), TableRoute("users", eng_b)]

    raw = spark.readStream.text(wal + "/*/")
    q = start_fanout_stream(routes, raw, str(tmp_path / "ckpt"),
                            trigger_once=True, seq_expr=SEQ)
    q.awaitTermination(300)
    assert final_state(eng_a) == _direct(spark, tmp_path, ev_a, "da")
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")

    sids = (eng_a.table.current_snapshot_id(), eng_b.table.current_snapshot_id())
    q2 = start_fanout_stream(routes, spark.readStream.text(wal + "/*/"),
                             str(tmp_path / "ckpt"), trigger_once=True,
                             seq_expr=SEQ)
    q2.awaitTermination(300)
    assert (eng_a.table.current_snapshot_id(),
            eng_b.table.current_snapshot_id()) == sids


def test_two_routes_must_not_share_a_lake_table(spark, tmp_path):
    """Distinct source tables into ONE lake table would let the first
    route's watermarks swallow the second's slice as replays — refused
    up front, before any parse or apply."""
    ev = events_df(spark, n_events=20, seed=3, dirty_frac=0.0)
    mixed = envelopes(ev, table="a").unionAll(envelopes(ev, table="b"))
    eng = make_engine(spark, str(tmp_path / "one"))
    with pytest.raises(ValueError, match="share the lake table"):
        fan_out_debezium(
            mixed, [TableRoute("a", eng), TableRoute("b", eng)], seq_expr=SEQ
        )
    with pytest.raises(ValueError, match="at least one route"):
        fan_out_debezium(mixed, [], seq_expr=SEQ)


def test_dbless_route_excludes_qualified_sibling_dbs(spark, tmp_path):
    """Rest-of semantics: a db-less route alongside a db-qualified
    sibling of the SAME table name takes only the unclaimed dbs —
    without the exclusion prod's events would double-ingest."""
    ev_p = events_df(spark, n_events=300, seed=11, dirty_frac=0.0)
    ev_s = events_df(spark, n_events=200, seed=23, dirty_frac=0.0)
    ev_t = events_df(spark, n_events=100, seed=31, dirty_frac=0.0)
    mixed = (
        envelopes(ev_p, db="prod", table="t")
        .unionAll(envelopes(ev_s, db="staging", table="t"))
        .unionAll(envelopes(ev_t, db="test", table="t"))
    )
    eng_p = make_engine(spark, str(tmp_path / "p"))
    eng_rest = make_engine(spark, str(tmp_path / "rest"))
    report = fan_out_debezium(
        mixed,
        [TableRoute("t", eng_p, db="prod"), TableRoute("t", eng_rest)],
        seq_expr=SEQ,
    )
    assert report["unrouted"] == {}
    assert report["tables"]["prod.t"]["events_in"] == 300
    assert report["tables"]["t"]["events_in"] == 300  # staging + test only
    assert final_state(eng_p) == _direct(spark, tmp_path, ev_p, "dp")
    assert final_state(eng_rest) == _two_db_merge(spark, tmp_path, ev_s, ev_t)


def test_unorderable_envelopes_refused(spark, tmp_path):
    """Envelopes whose (commit, event_seq) can't be derived (NULL after
    the seq/commit exprs) are refused BEFORE any apply — silently
    applying them would corrupt the feed ledger and the engines'
    watermark dedupe (watermark_str propagates NULL, never a mis-
    sorting seq-only string)."""
    ev = events_df(spark, n_events=100, seed=3, dirty_frac=0.0)
    holed = ev.withColumn(
        "event_seq",
        F.when(F.col("event_seq") % 7 == 0, F.lit(None)).otherwise(
            F.col("event_seq")
        ),
    )
    eng = make_engine(spark, str(tmp_path / "a"))
    with pytest.raises(ValueError, match="no derivable"):
        fan_out_debezium(
            envelopes(holed, table="repos"),
            [TableRoute("repos", eng)], seq_expr=SEQ,
        )
    assert final_state(eng) == {}  # refusal precedes every apply
    # the un-holed stream applies fine through the same path
    fan_out_debezium(envelopes(ev, table="repos"),
                     [TableRoute("repos", eng)], seq_expr=SEQ)
    assert final_state(eng) == _direct(spark, tmp_path, ev, "da")


def test_audit_rejected_route_holds_table_and_ledger(spark, tmp_path):
    """A route's write-audit-publish gate rejecting the batch leaves
    BOTH the lake table and the feed-position ledger untouched, so the
    re-delivery after fixing the producer is not treated as a replay;
    sibling routes in the same batch publish and advance normally."""
    ev_a, ev_b, mixed = _two_streams(spark)
    eng_a = make_engine(spark, str(tmp_path / "a"))
    eng_b = make_engine(spark, str(tmp_path / "b"))

    report = fan_out_debezium(
        mixed,
        [TableRoute("repos", eng_a),
         TableRoute("users", eng_b, audit_fn=lambda t, wap_id: False)],
        seq_expr=SEQ,
    )
    assert report["tables"]["repos"].get("audit") is None
    assert report["tables"]["users"]["audit"] == "rejected"
    assert final_state(eng_b) == {}
    assert feed_positions(eng_b.table) == []
    assert [e["feed_to"] for e in feed_positions(eng_a.table)] == [report["feed_to"]]

    # re-delivery with a passing audit applies in full — no replay skips
    audited = []
    rep2 = fan_out_debezium(
        mixed,
        [TableRoute("repos", eng_a),
         TableRoute("users", eng_b,
                    audit_fn=lambda t, wap_id: audited.append(
                        t.read(wap_id=wap_id).count()) or True)],
        seq_expr=SEQ,
    )
    assert rep2["tables"]["users"]["audit"] == "published"
    assert rep2["tables"]["users"]["skipped_replays"] == 0
    assert audited and audited[0] > 0
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")
    assert feed_positions(eng_b.table)[-1]["feed_to"] == rep2["feed_to"]


def test_consistent_cut_refuses_expired_snapshots(spark, tmp_path):
    """The feed ledger outlives snapshot retention: when the leader has
    expired its snapshot at the laggard's position, the cut is
    unreadable and must raise rather than hand out a dangling id."""
    ev_a, ev_b, _ = _two_streams(spark)
    a1, a2 = _commit_split(ev_a)
    b1, _ = _commit_split(ev_b)
    eng_a = make_engine(spark, str(tmp_path / "a"))
    eng_b = make_engine(spark, str(tmp_path / "b"))

    mixed1 = envelopes(a1, table="repos").unionAll(envelopes(b1, table="users"))
    fan_out_debezium(
        mixed1,
        [TableRoute("repos", eng_a), TableRoute("users", eng_b)],
        seq_expr=SEQ,
    )
    # leader A advances alone, then expires history past the cut
    fan_out_debezium(envelopes(a2, table="repos"),
                     [TableRoute("repos", eng_a)], seq_expr=SEQ)
    assert eng_a.table.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="has been expired"):
        consistent_cut({"repos": eng_a.table, "users": eng_b.table})


def test_feed_hole_freezes_ledger_after_unhealed_gap(spark, tmp_path):
    """An audit rejection AFTER earlier batches leaves the table missing
    a log range while the feed moves on. The ledger must freeze at the
    pre-hole position — stamping any later batch would claim a prefix
    the table does not hold, and consistent_cut would hand out torn
    reads. Once a later batch applies over the gap, no clean prefix
    above the hole exists in any snapshot, so the freeze is permanent
    (even a covering redelivery can no longer heal it)."""
    from filters_spark.engine.fanout import feed_hole

    ev_a, ev_b, _ = _two_streams(spark)
    a1, a23 = _commit_split(ev_a)
    a2, a3 = _commit_split(a23)
    b1, b23 = _commit_split(ev_b)
    b2, b3 = _commit_split(b23)
    eng_a = make_engine(spark, str(tmp_path / "a"))
    eng_b = make_engine(spark, str(tmp_path / "b"))

    def routes(audit_b=None):
        return [TableRoute("repos", eng_a),
                TableRoute("users", eng_b, audit_fn=audit_b)]

    def mixed(a, b):
        return envelopes(a, table="repos").unionAll(envelopes(b, table="users"))

    rep1 = fan_out_debezium(mixed(a1, b1), routes(), seq_expr=SEQ)
    # batch 2: B's audit rejects — B is now missing [from2, to2]
    rep2 = fan_out_debezium(
        mixed(a2, b2), routes(lambda t, w: False), seq_expr=SEQ
    )
    hole = feed_hole(eng_b.table)
    assert hole is not None and hole["to"] == rep2["feed_to"]
    assert [e["feed_to"] for e in feed_positions(eng_b.table)] == [rep1["feed_to"]]

    # batch 3 applies cleanly to BOTH tables, but B's ledger must stay
    # frozen below the gap while A's advances normally
    rep3 = fan_out_debezium(mixed(a3, b3), routes(), seq_expr=SEQ)
    assert rep3["tables"]["users"]["applied"] > 0
    assert [e["feed_to"] for e in feed_positions(eng_b.table)] == [rep1["feed_to"]]
    assert feed_hole(eng_b.table) == hole
    assert [e["feed_to"] for e in feed_positions(eng_a.table)] == [
        rep1["feed_to"], rep2["feed_to"], rep3["feed_to"]
    ]
    cut = consistent_cut({"repos": eng_a.table, "users": eng_b.table})
    assert cut["feed_to"] == rep1["feed_to"]  # honest under-report

    # LATE redelivery of the rejected batch: covering range, but the
    # table already holds batch-3 rows above the gap — no heal, and the
    # gap's events dedupe away below batch 3's watermarks
    fan_out_debezium(mixed(a2, b2), routes(), seq_expr=SEQ)
    assert feed_hole(eng_b.table) is not None
    assert [e["feed_to"] for e in feed_positions(eng_b.table)] == [rep1["feed_to"]]
    cut2 = consistent_cut({"repos": eng_a.table, "users": eng_b.table})
    assert cut2["feed_to"] == rep1["feed_to"]


def test_feed_hole_heals_on_prompt_redelivery_then_advances(spark, tmp_path):
    """The recovery contract: redeliver the rejected batch BEFORE
    anything else lands and the hole heals — later batches then stamp
    normally and the cut catches up to the head."""
    from filters_spark.engine.fanout import feed_hole

    ev_a, ev_b, _ = _two_streams(spark)
    a1, a2 = _commit_split(ev_a)
    b1, b2 = _commit_split(ev_b)
    eng_a = make_engine(spark, str(tmp_path / "a"))
    eng_b = make_engine(spark, str(tmp_path / "b"))

    def mixed(a, b):
        return envelopes(a, table="repos").unionAll(envelopes(b, table="users"))

    rep1 = fan_out_debezium(
        mixed(a1, b1),
        [TableRoute("repos", eng_a),
         TableRoute("users", eng_b, audit_fn=lambda t, w: False)],
        seq_expr=SEQ,
    )
    assert feed_hole(eng_b.table) is not None
    assert feed_positions(eng_b.table) == []

    ok = [TableRoute("repos", eng_a), TableRoute("users", eng_b)]
    rep1b = fan_out_debezium(mixed(a1, b1), ok, seq_expr=SEQ)  # prompt redelivery
    assert feed_hole(eng_b.table) is None
    assert [e["feed_to"] for e in feed_positions(eng_b.table)] == [rep1b["feed_to"]]

    rep2 = fan_out_debezium(mixed(a2, b2), ok, seq_expr=SEQ)
    assert [e["feed_to"] for e in feed_positions(eng_b.table)] == [
        rep1["feed_to"], rep2["feed_to"]
    ]
    cut = consistent_cut({"repos": eng_a.table, "users": eng_b.table})
    assert cut["feed_to"] == rep2["feed_to"]
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")


def test_feed_state_reads_legacy_list_format(spark, tmp_path):
    """Pre-hole ledgers were a bare JSON list; the reader must migrate
    them transparently (entries preserved, no hole)."""
    from filters_spark.engine.fanout import feed_hole

    eng = make_engine(spark, str(tmp_path / "a"))
    p = os.path.join(eng.table.meta_dir, "feed-state.json")
    eng.io.write_text_atomic(p, '[{"feed_to": "0000x:1", "snapshot_id": 1}]')
    assert feed_positions(eng.table) == [{"feed_to": "0000x:1", "snapshot_id": 1}]
    assert feed_hole(eng.table) is None


def test_failed_route_keeps_sibling_stamps(spark, tmp_path):
    """Route 2 of 3 fails: the other two still commit, their ledgers are
    stamped at the batch's feed position, the failed route's ledger is
    not, and the route's error is raised after the stamping."""
    streams = [events_df(spark, n_events=300, seed=s, dirty_frac=0.05) for s in (11, 23, 37)]
    names = ["repos", "users", "orgs"]
    mixed = envelopes(streams[0], table=names[0])
    for ev, name in zip(streams[1:], names[1:]):
        mixed = mixed.unionAll(envelopes(ev, table=name))
    engines = [make_engine(spark, str(tmp_path / n)) for n in names]

    def fail(*a, **kw):
        raise RuntimeError("route 2 down")

    engines[1].apply_batch = fail
    routes = [TableRoute(n, e) for n, e in zip(names, engines)]
    with pytest.raises(RuntimeError, match="route 2 down"):
        fan_out_debezium(mixed, routes, seq_expr=SEQ)
    stamped = [feed_positions(e.table) for e in engines]
    assert stamped[1] == []
    assert len(stamped[0]) == len(stamped[2]) == 1
    assert stamped[0][0]["feed_to"] == stamped[2][0]["feed_to"]
    for i in (0, 2):
        assert final_state(engines[i]) == _direct(spark, tmp_path, streams[i], f"d{i}")
