"""Atomic multi-table fan-out (engine/txn.py): all-or-none publish
across routes via two-phase commit with presumed abort — happy path,
abort paths (staging failure, audit rejection, pre-decision crash) and
roll-forward recovery from every post-decision crash window."""

import os

import pytest

from filters_spark.engine.cdc import CDCEngine
from filters_spark.engine.defaults import default_registry
from filters_spark.engine.fanout import TableRoute, consistent_cut, feed_positions
from filters_spark.engine.txn import (
    SimulatedCrash,
    fan_out_atomic,
    pending_txns,
    recover_fanout,
)
from filters_spark.lake.table import LakeTable

from tests.test_cdc_engine import events_df, final_state, make_engine
from tests.test_fanout import SEQ, _direct, _two_streams, envelopes


def _mor_engine(spark, tmp):
    table = LakeTable.create(
        spark, os.path.join(tmp, "lake"), key_cols=["repo", "path"],
        num_buckets=8, path_salt=4,
    )
    return CDCEngine(spark, table, default_registry(), write_mode="mor")


def _topology(spark, tmp_path, mor_b=False):
    ev_a, ev_b, mixed = _two_streams(spark)
    eng_a = make_engine(spark, str(tmp_path / "a"))
    eng_b = (_mor_engine if mor_b else make_engine)(spark, str(tmp_path / "b"))
    routes = [TableRoute("repos", eng_a), TableRoute("users", eng_b)]
    txn_dir = str(tmp_path / "txn")
    return ev_a, ev_b, mixed, eng_a, eng_b, routes, txn_dir


def _clean(engines, txn_dir):
    """No protocol residue: no pending records, no staged commits, no
    retained validate scratch."""
    io = engines[0].io
    assert pending_txns(io, txn_dir) == []
    for eng in engines:
        assert eng.table.wap_ids() == []
        staging = os.path.join(eng.table.root, "_staging")
        assert [n for n in io.listdir(staging) if io.isdir(os.path.join(staging, n))] == []


def test_atomic_fanout_matches_direct_applies(spark, tmp_path):
    """Committed path == two direct single-table applies, including
    dead letters; both feed ledgers stamped at the batch watermark; no
    protocol residue. Table B is merge-on-read — both write modes flow
    through the same stage/publish seam."""
    ev_a, ev_b, mixed, eng_a, eng_b, routes, txn_dir = _topology(
        spark, tmp_path, mor_b=True
    )
    report = fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ)

    assert report["txn"] == "committed"
    assert report["tables"]["repos"]["txn"] == "published"
    assert report["tables"]["repos"]["events_in"] == 600
    assert report["tables"]["users"]["events_in"] == 400
    assert report["tables"]["repos"]["dead_lettered"] > 0
    assert final_state(eng_a) == _direct(spark, tmp_path, ev_a, "da")
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")
    for eng in (eng_a, eng_b):
        assert [e["feed_to"] for e in feed_positions(eng.table)] == [report["feed_to"]]
    cut = consistent_cut({"repos": eng_a.table, "users": eng_b.table})
    assert cut["feed_to"] == report["feed_to"]
    _clean([eng_a, eng_b], txn_dir)


def test_staging_failure_abandons_everything(spark, tmp_path):
    """An exception while staging route B (after A staged) leaves BOTH
    tables untouched and nothing pending; the re-run applies in full —
    no replay skips, because no watermark ever advanced."""
    ev_a, ev_b, mixed, eng_a, eng_b, routes, txn_dir = _topology(spark, tmp_path)
    real = eng_b.stage_batch
    eng_b.stage_batch = lambda *a, **k: (_ for _ in ()).throw(RuntimeError("boom"))
    with pytest.raises(RuntimeError, match="boom"):
        fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ)
    eng_b.stage_batch = real

    assert final_state(eng_a) == {} and final_state(eng_b) == {}
    assert feed_positions(eng_a.table) == []
    _clean([eng_a, eng_b], txn_dir)

    report = fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ)
    assert report["txn"] == "committed"
    assert report["tables"]["repos"]["skipped_replays"] == 0
    assert final_state(eng_a) == _direct(spark, tmp_path, ev_a, "da")
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")


def test_audit_rejection_aborts_all_routes(spark, tmp_path):
    """In atomic mode one route's audit gates the WHOLE transaction:
    route B rejecting rolls A back too (the non-atomic fan-out would
    have published A). Re-delivery after fixing the producer applies
    both in full."""
    ev_a, ev_b, mixed, eng_a, eng_b, routes, txn_dir = _topology(spark, tmp_path)
    audited = []
    routes = [
        TableRoute("repos", eng_a),
        TableRoute("users", eng_b,
                   audit_fn=lambda t, wap_id: audited.append(
                       t.read(wap_id=wap_id).count()) or False),
    ]
    report = fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ)

    assert report["txn"] == "aborted" and report["aborted_by"] == "users"
    assert audited and audited[0] > 0  # the auditor really saw staged rows
    assert report["tables"]["repos"]["txn"] == "abandoned"
    assert final_state(eng_a) == {} and final_state(eng_b) == {}
    assert feed_positions(eng_a.table) == []
    _clean([eng_a, eng_b], txn_dir)

    ok = [TableRoute("repos", eng_a),
          TableRoute("users", eng_b, audit_fn=lambda t, w: True)]
    rep2 = fan_out_atomic(mixed, ok, txn_dir, seq_expr=SEQ)
    assert rep2["txn"] == "committed"
    assert rep2["tables"]["users"]["skipped_replays"] == 0
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")


def test_crash_before_decision_presumed_abort(spark, tmp_path):
    """A crash after staging but BEFORE the decision record leaves
    orphan stages and scratch; recovery presumes abort — tables stay
    untouched, the residue is swept, the re-run applies in full."""
    ev_a, ev_b, mixed, eng_a, eng_b, routes, txn_dir = _topology(spark, tmp_path)
    with pytest.raises(SimulatedCrash):
        fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ, _crash="staged")

    assert len(eng_a.table.wap_ids()) == 1  # the crash left real residue
    out = recover_fanout(routes, txn_dir, min_age_seconds=0)
    assert out["rolled_forward"] == []
    assert out["orphan_stages_dropped"] == 2
    assert out["scratch_dirs_dropped"] == 2
    assert final_state(eng_a) == {} and final_state(eng_b) == {}
    _clean([eng_a, eng_b], txn_dir)

    report = fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ)
    assert report["txn"] == "committed"
    assert report["tables"]["repos"]["skipped_replays"] == 0
    assert final_state(eng_a) == _direct(spark, tmp_path, ev_a, "da")


def test_crash_after_decision_rolls_forward(spark, tmp_path):
    """Once the decision record is durable, recovery publishes EVERY
    route from its staged state — no re-validation, no re-merge, and
    the feed ledgers end up exactly as an uncrashed run's."""
    ev_a, ev_b, mixed, eng_a, eng_b, routes, txn_dir = _topology(
        spark, tmp_path, mor_b=True
    )
    with pytest.raises(SimulatedCrash):
        fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ, _crash="recorded")
    assert final_state(eng_a) == {} and final_state(eng_b) == {}  # torn? no: nothing published

    out = recover_fanout(routes, txn_dir, min_age_seconds=0)
    assert len(out["rolled_forward"]) == 1
    assert final_state(eng_a) == _direct(spark, tmp_path, ev_a, "da")
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")
    wm = feed_positions(eng_a.table)[-1]["feed_to"]
    assert feed_positions(eng_b.table)[-1]["feed_to"] == wm
    cut = consistent_cut({"repos": eng_a.table, "users": eng_b.table})
    assert cut["feed_to"] == wm
    _clean([eng_a, eng_b], txn_dir)

    # recovery is idempotent
    again = recover_fanout(routes, txn_dir, min_age_seconds=0)
    assert again == {"rolled_forward": [], "orphan_stages_dropped": 0,
                     "scratch_dirs_dropped": 0}


def test_crash_mid_publish_completes_remaining(spark, tmp_path):
    """Crash between route publishes: A committed, B still staged —
    exactly the torn batch the protocol exists to prevent readers from
    ever seeing as final. Recovery publishes B from its stage and does
    NOT touch A again."""
    ev_a, ev_b, mixed, eng_a, eng_b, routes, txn_dir = _topology(spark, tmp_path)
    with pytest.raises(SimulatedCrash):
        fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ, _crash="published:0")
    sid_a = eng_a.table.current_snapshot_id()
    assert final_state(eng_a) != {} and final_state(eng_b) == {}

    out = recover_fanout(routes, txn_dir, min_age_seconds=0)
    assert len(out["rolled_forward"]) == 1
    assert eng_a.table.current_snapshot_id() == sid_a  # not re-published
    assert final_state(eng_a) == _direct(spark, tmp_path, ev_a, "da")
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")
    assert (feed_positions(eng_a.table)[-1]["feed_to"]
            == feed_positions(eng_b.table)[-1]["feed_to"])
    _clean([eng_a, eng_b], txn_dir)


def test_recovery_of_published_but_unrecorded_route(spark, tmp_path):
    """The narrowest window: route A's head moved (publish_wap
    completed) but the crash hit before the side effects and the record
    update. Recovery re-identifies the published snapshot as the staged
    parent's child, re-runs only the deferred side effects (dead-letter
    adoption, lineage — deduped), and publishes B normally."""
    ev_a, ev_b, mixed, eng_a, eng_b, routes, txn_dir = _topology(spark, tmp_path)
    with pytest.raises(SimulatedCrash):
        fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ,
                       txn_id="fixed", _crash="recorded")
    # simulate the partial publish: head moves, wap header consumed,
    # side effects (dead letters, lineage, scratch) never ran
    eng_a.table.publish_wap("txn-fixed")
    assert not eng_a.io.isdir(eng_a.dead_letter_dir)

    out = recover_fanout(routes, txn_dir, min_age_seconds=0)
    assert out["rolled_forward"] == ["fixed"]
    assert final_state(eng_a) == _direct(spark, tmp_path, ev_a, "da")
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")
    # deferred side effects landed exactly once
    assert eng_a.io.isdir(eng_a.dead_letter_dir)
    lineage = spark.read.parquet(eng_a.lineage_dir)
    sids = [r["snapshot_id"] for r in lineage.select("snapshot_id").distinct().collect()]
    assert sids == [eng_a.table.current_snapshot_id()]
    per_bucket = lineage.groupBy("bucket").count().collect()
    assert all(r["count"] == 1 for r in per_bucket)  # no duplicate rows
    _clean([eng_a, eng_b], txn_dir)


def test_concurrent_writer_detected_before_decision(spark, tmp_path):
    """A table whose head moved between stage and decision can never
    fast-forward — the coordinator aborts BEFORE the decision record,
    so nothing publishes and nothing is torn."""
    ev_a, ev_b, mixed, eng_a, eng_b, routes, txn_dir = _topology(spark, tmp_path)
    sneak = events_df(spark, n_events=50, seed=99, dirty_frac=0.0)

    real = eng_b.stage_batch

    def stage_and_sneak(events, wap_id):
        h = real(events, wap_id)
        eng_a.apply_batch(sneak)  # concurrent writer lands on table A
        return h

    eng_b.stage_batch = stage_and_sneak
    with pytest.raises(RuntimeError, match="advanced past the staged parent"):
        fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ)
    eng_b.stage_batch = real

    assert final_state(eng_a) == _direct(spark, tmp_path, sneak, "ds")
    assert final_state(eng_b) == {}
    _clean([eng_a, eng_b], txn_dir)


def test_empty_batch_commits_trivially(spark, tmp_path):
    """An empty envelope frame commits as a no-op: heads unmoved, no
    feed stamp (no watermark to stamp), no residue."""
    _, _, mixed, eng_a, eng_b, routes, txn_dir = _topology(spark, tmp_path)
    report = fan_out_atomic(mixed.limit(0), routes, txn_dir, seq_expr=SEQ)
    assert report["txn"] == "committed"
    assert report["feed_to"] is None
    assert final_state(eng_a) == {} and final_state(eng_b) == {}
    assert feed_positions(eng_a.table) == []
    _clean([eng_a, eng_b], txn_dir)


def test_txn_id_collision_aborts_the_new_transaction(spark, tmp_path):
    """A create-exclusive loss on the decision write is a DEFINITIVE
    abort for the new transaction: its stages are abandoned eagerly and
    the tables stay untouched (the surviving record belongs to an older
    transaction awaiting recovery, not to this batch)."""
    _, _, mixed, eng_a, eng_b, routes, txn_dir = _topology(spark, tmp_path)
    io = eng_a.io
    io.makedirs(txn_dir)
    io.write_text_atomic(os.path.join(txn_dir, "txn-dup.json"),
                         '{"decision": "commit", "routes": []}')
    with pytest.raises(FileExistsError):
        fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ, txn_id="dup")
    assert final_state(eng_a) == {} and final_state(eng_b) == {}
    for eng in (eng_a, eng_b):
        assert eng.table.wap_ids() == []  # stages abandoned eagerly
    io.remove(os.path.join(txn_dir, "txn-dup.json"))


def test_indoubt_decision_write_preserves_stages_for_rollforward(spark, tmp_path):
    """An exception AFTER the decision record durably landed (interrupt
    or RPC error racing the rename) must NOT abandon the stages — the
    decision is a commit, and recovery rolls it forward to exactly the
    uncrashed outcome."""
    ev_a, ev_b, mixed, eng_a, eng_b, routes, txn_dir = _topology(spark, tmp_path)
    io = eng_a.io
    real_write = io.write_text_atomic

    def write_then_die(path, data, fail_if_exists=False):
        real_write(path, data, fail_if_exists=fail_if_exists)
        if os.path.dirname(path) == txn_dir:
            raise KeyboardInterrupt("interrupt after the rename applied")

    io.write_text_atomic = write_then_die
    try:
        with pytest.raises(KeyboardInterrupt):
            fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ)
    finally:
        io.write_text_atomic = real_write

    # the stages survived the in-doubt failure...
    assert len(eng_a.table.wap_ids()) == 1
    # ...and the durable decision rolls forward, not aborts
    out = recover_fanout(routes, txn_dir, min_age_seconds=0)
    assert len(out["rolled_forward"]) == 1
    assert final_state(eng_a) == _direct(spark, tmp_path, ev_a, "da")
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")
    _clean([eng_a, eng_b], txn_dir)


def test_streaming_atomic_fanout_recovers_then_applies(spark, tmp_path):
    """start_fanout_stream(txn_dir=...): each micro-batch is an atomic
    all-or-none publish. A decided-but-unpublished transaction left by
    a crash rolls forward when the stream's first batch runs, BEFORE
    the new batch applies — the stream is self-healing on restart."""
    from filters_spark.engine.fanout import start_fanout_stream

    ev_a, ev_b, mixed, eng_a, eng_b, routes, txn_dir = _topology(spark, tmp_path)
    # a previous coordinator crashed after its decision for batch 1...
    from tests.test_fanout import _commit_split

    a1, a2 = _commit_split(ev_a)
    b1, b2 = _commit_split(ev_b)
    mixed1 = envelopes(a1, table="repos").unionAll(envelopes(b1, table="users"))
    with pytest.raises(SimulatedCrash):
        fan_out_atomic(mixed1, routes, txn_dir, seq_expr=SEQ, _crash="recorded")
    assert final_state(eng_a) == {}

    # ...and the stream restarts over the REST of the WAL
    wal = str(tmp_path / "wal")
    os.makedirs(wal)
    mixed2 = envelopes(a2, table="repos").unionAll(envelopes(b2, table="users"))
    mixed2.coalesce(1).write.text(os.path.join(wal, "seg2"))
    q = start_fanout_stream(
        routes, spark.readStream.text(wal + "/*/"), str(tmp_path / "ckpt"),
        trigger_once=True, seq_expr=SEQ, txn_dir=txn_dir,
    )
    q.awaitTermination(300)

    assert final_state(eng_a) == _direct(spark, tmp_path, ev_a, "da")
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")
    # ledgers advanced monotonically through both the recovered and the
    # streamed batch, ending at the same position on both tables
    fa = [e["feed_to"] for e in feed_positions(eng_a.table)]
    fb = [e["feed_to"] for e in feed_positions(eng_b.table)]
    assert len(fa) == 2 and fa == sorted(fa) and fa == fb
    _clean([eng_a, eng_b], txn_dir)

    # restart over the same checkpoint: offsets committed, no-op
    sids = (eng_a.table.current_snapshot_id(), eng_b.table.current_snapshot_id())
    q2 = start_fanout_stream(
        routes, spark.readStream.text(wal + "/*/"), str(tmp_path / "ckpt"),
        trigger_once=True, seq_expr=SEQ, txn_dir=txn_dir,
    )
    q2.awaitTermination(300)
    assert (eng_a.table.current_snapshot_id(),
            eng_b.table.current_snapshot_id()) == sids
    _clean([eng_a, eng_b], txn_dir)


@pytest.mark.parametrize("stager", ["driver", "spark"])
def test_crash_point_fuzz_converges_to_uncrashed_state(spark, tmp_path, stager):
    """Torture sweep: a 4-batch feed where every batch's FIRST delivery
    crashes at a different protocol point (pre-decision, post-decision,
    after route 0's publish, after route 1's publish), recovery runs,
    and the batch re-delivers (at-least-once source semantics). The
    topology must converge to the uncrashed run's byte state, with both
    feed ledgers identical and strictly monotonic — regardless of
    whether recovery aborted (re-delivery applies) or rolled forward
    (re-delivery dedupes as replays). Small batches stage on the
    driver; the ``spark`` stager forces the Spark staging path."""
    import pyspark.sql.functions as F

    crash_points = ["staged", "recorded", "published:0", "published:1"]
    k = len(crash_points)
    ev_a, ev_b, _ = _two_streams(spark)
    eng_a = make_engine(spark, str(tmp_path / "a"))
    eng_b = make_engine(spark, str(tmp_path / "b"))
    if stager == "spark":
        eng_a.LOCAL_MAX_ROWS = eng_b.LOCAL_MAX_ROWS = 0
    routes = [TableRoute("repos", eng_a), TableRoute("users", eng_b)]
    txn_dir = str(tmp_path / "txn")

    def ranges(ev):
        commits = sorted(r["commit"] for r in ev.select("commit").distinct().collect())
        assert len(commits) >= k, "need one commit range per crash point"
        bounds = [commits[(i + 1) * len(commits) // k - 1] for i in range(k)]
        out, prev = [], None
        for hi in bounds:
            cond = F.col("commit") <= hi
            if prev is not None:
                cond = cond & (F.col("commit") > prev)
            out.append(ev.filter(cond))
            prev = hi
        return out

    # interleave strictly ascending commit ranges across both tables
    batches_a, batches_b = ranges(ev_a), ranges(ev_b)
    for i, crash in enumerate(crash_points):
        mixed_i = envelopes(batches_a[i], table="repos").unionAll(
            envelopes(batches_b[i], table="users")
        )
        with pytest.raises(SimulatedCrash):
            fan_out_atomic(mixed_i, routes, txn_dir, seq_expr=SEQ, _crash=crash)
        recover_fanout(routes, txn_dir, min_age_seconds=0)
        rep = fan_out_atomic(mixed_i, routes, txn_dir, seq_expr=SEQ)  # redelivery
        assert rep["txn"] == "committed"
        if crash != "staged":  # recovery rolled forward -> pure replay
            assert rep["tables"]["repos"]["applied"] == 0
            assert rep["tables"]["users"]["applied"] == 0

    assert final_state(eng_a) == _direct(spark, tmp_path, ev_a, "da")
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")
    fa = [e["feed_to"] for e in feed_positions(eng_a.table)]
    fb = [e["feed_to"] for e in feed_positions(eng_b.table)]
    assert fa == fb and fa == sorted(set(fa))  # identical, strictly monotonic
    _clean([eng_a, eng_b], txn_dir)


def test_recovery_refuses_partial_topology(spark, tmp_path):
    """A pending record touching a route the recovery call doesn't know
    about is unrecoverable with the given topology — raise, don't
    half-roll-forward."""
    _, _, mixed, eng_a, eng_b, routes, txn_dir = _topology(spark, tmp_path)
    with pytest.raises(SimulatedCrash):
        fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ, _crash="recorded")
    with pytest.raises(ValueError, match="not in the recovery topology"):
        recover_fanout(routes[:1], txn_dir, min_age_seconds=0)
    # full topology recovers fine afterwards
    out = recover_fanout(routes, txn_dir, min_age_seconds=0)
    assert len(out["rolled_forward"]) == 1
    _clean([eng_a, eng_b], txn_dir)


def test_recovery_sweep_spares_plain_batch_scratch(spark, tmp_path):
    """recover_fanout's orphan sweep targets fan-out (txn-*) scratch
    only: a concurrent plain stager's batch-* scratch on a routed table
    must survive even a zero-min-age sweep — the streaming recovery
    path runs with min_age=0 on every restart."""
    ev_a, ev_b, mixed, eng_a, eng_b, routes, txn_dir = _topology(spark, tmp_path)
    with pytest.raises(SimulatedCrash):
        fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ, _crash="staged")
    staging = os.path.join(eng_b.table.root, "_staging")
    bystander = os.path.join(staging, "batch-bystander")
    eng_b.io.makedirs(bystander)

    out = recover_fanout(routes, txn_dir, min_age_seconds=0)
    assert out["scratch_dirs_dropped"] == 2  # both routes' txn- scratch
    assert eng_b.io.isdir(bystander)  # the plain stager's dir survived
    eng_b.io.rmtree(bystander)
    _clean([eng_a, eng_b], txn_dir)


def test_create_exclusive_race_with_own_durable_decision_commits(spark, tmp_path):
    """A backend whose create-exclusive is check-then-rename can report
    FileExistsError for OUR OWN first attempt (a retried rename finding
    the source gone). The coordinator reads the record back: identical
    content means the decision IS durable — the transaction proceeds to
    publish instead of abandoning stages the durable decision
    references (which would wedge recovery permanently)."""
    ev_a, ev_b, mixed, eng_a, eng_b, routes, txn_dir = _topology(spark, tmp_path)
    io = eng_a.io
    real = io.write_text_atomic

    def landed_but_reported_race(path, data, fail_if_exists=False):
        real(path, data, fail_if_exists=False)
        if os.path.dirname(path) == txn_dir and fail_if_exists:
            raise FileExistsError(path)

    io.write_text_atomic = landed_but_reported_race
    try:
        report = fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ)
    finally:
        io.write_text_atomic = real

    assert report["txn"] == "committed"
    assert final_state(eng_a) == _direct(spark, tmp_path, ev_a, "da")
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")
    _clean([eng_a, eng_b], txn_dir)


def test_crash_inside_publish_wap_recovery_resumes(spark, tmp_path):
    """The narrowest publish window of all: the crash lands INSIDE
    route 0's publish_wap — snapshot header written, version hint not.
    The decision is durable, the wap header still exists, and the head
    never moved; recovery must roll forward by RESUMING the
    half-finished publish (content-matched create-exclusive loss), then
    publish route 1 normally — converging to the uncrashed outcome."""
    ev_a, ev_b, mixed, eng_a, eng_b, routes, txn_dir = _topology(spark, tmp_path)
    io_a = eng_a.table.io
    real = io_a.write_text_atomic

    def die_on_hint(path, data, fail_if_exists=False):
        if path.endswith("version-hint.text"):
            raise RuntimeError("crash inside publish_wap")
        real(path, data, fail_if_exists=fail_if_exists)

    io_a.write_text_atomic = die_on_hint
    try:
        with pytest.raises(RuntimeError, match="crash inside publish_wap"):
            fan_out_atomic(mixed, routes, txn_dir, seq_expr=SEQ)
    finally:
        io_a.write_text_atomic = real

    # hint never moved: readers saw nothing; the stage survived
    assert final_state(eng_a) == {} and final_state(eng_b) == {}
    assert len(eng_a.table.wap_ids()) == 1
    assert len(pending_txns(eng_a.io, txn_dir)) == 1

    out = recover_fanout(routes, txn_dir, min_age_seconds=0)
    assert len(out["rolled_forward"]) == 1
    assert final_state(eng_a) == _direct(spark, tmp_path, ev_a, "da")
    assert final_state(eng_b) == _direct(spark, tmp_path, ev_b, "db")
    assert (feed_positions(eng_a.table)[-1]["feed_to"]
            == feed_positions(eng_b.table)[-1]["feed_to"])
    _clean([eng_a, eng_b], txn_dir)
