"""The three ingest workloads.

Each workload generates its inputs from the seed during set-up
(``gen_events`` with 15% hot-repo skew, 5% dirty events and messy
Unicode, materialized to parquet), computes the oracle's expected final
state, and warms the session by running its ingest call once. A
measured phase then drives the engine through its public API only:

- ``bulk_replay_cow``: ``CDCEngine.replay`` of one WAL in commit-ordered
  batches into a fresh copy-on-write table, repeated for the phase.
- ``tail_mor_serve``: an open loop of fixed-size WAL segments, each due
  at a fixed interval, applied to a pre-seeded merge-on-read table by a
  consumer that, on a processing-time trigger, folds every arrived
  segment into one ``apply_batch``; one closed-loop reader thread issues
  lookups and hot-repo reads beside it.
- ``fanout_debezium_2pc``: one mixed two-table Debezium envelope stream
  applied with ``fan_out_atomic`` to two fresh tables, repeated.

After the last phase every workload serves reads from its final
table(s), scans them, and compares their content with the oracle.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from filters_spark.engine.cdc import CDCEngine
from filters_spark.engine.defaults import FIELD_SPECS_V1, default_registry
from filters_spark.engine.fanout import TableRoute, fan_out_debezium
from filters_spark.engine.txn import fan_out_atomic
from filters_spark.functions import compile_chain
from filters_spark.lake.table import LakeTable
from filters_spark.operators.validate import ERRORS_COL, validate
from filters_spark.sources.datagen import LANGS, gen_events
from filters_spark.sources.debezium import parse_debezium, to_debezium

from ingestbench import oracle
from ingestbench.trace import median

FIELDS = ["repo", "path", "lang", "content"]
# the event mix every workload draws from
MIX = dict(n_repos=200, n_paths=2000, hot_frac=0.15, dirty_frac=0.05, unicode_hazards=True)
HOT_REPO = "repo-00000"
ABSENT_KEY = ("repo-99999", "src/absent/0.py")
BUCKETS = 16
SERVE_CLIENTS = 4
SERVE_READS_PER_CLIENT = 10
SCANS = 5

BULK_EVENTS = 40_000
BULK_BATCHES = 4

TAIL_SEED_EVENTS = 10_000
TAIL_WARM_EVENTS = 400
TAIL_SEGMENT_EVENTS = 40
TAIL_EVENTS_PER_COMMIT = 20
TAIL_INTERVAL_S = 0.25         # one segment due every interval: 160 events/s
TAIL_TRIGGER_S = 5.0           # the consumer's processing-time trigger
TAIL_BUCKETS = 4
TAIL_COMPACT_AFTER = 3
READER_THINK_S = 0.25

FANOUT_EVENTS = 40_000

# the envelope's binlog position is the event's in-commit sequence
SEQ = lambda s: s["pos"].cast("long")  # noqa: E731


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    cores: int

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)


@dataclass
class Phase:
    """What one measured phase observed. Reader threads record into it
    beside the ingest loop, so attempts and samples go through
    ``record``."""

    events: int = 0                 # events handed to the engine
    ingest_s: float = 0.0           # wall time inside ingest calls
    calls_s: list = field(default_factory=list)
    rates: list = field(default_factory=list)     # events/s of each ingest call
    freshness_s: list = field(default_factory=list)
    lookup_ms: list = field(default_factory=list)
    repo_read_ms: list = field(default_factory=list)
    batches: list = field(default_factory=list)   # engine metric dicts
    window_s: float = 0.0
    backlog_max: int = 0
    attempted: int = 0
    failed: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(self, samples: list | None = None, value: float = 0.0, ok: bool = True) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
            elif samples is not None:
                samples.append(value)


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _write(ctx: Ctx, name: str, df, partition_by: str | None = None) -> str:
    """Materialize ``df`` as parquet, one directory per ``partition_by``
    value when given; one file per task and directory."""
    path = ctx.path(name)
    w = df.write
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    w.parquet(path)
    return path


def _part(path: str, col: str, value) -> str:
    return os.path.join(path, f"{col}={value}")


def _gen(ctx: Ctx, n: int, seed: int, **kw):
    return gen_events(ctx.spark, n_events=n, seed=seed, **{**MIX, **kw})


def _pandas(path: str):
    """Read materialized events for the oracle without Spark."""
    return pq.read_table(path).to_pandas()


def _commit_no():
    return F.conv(F.col("commit"), 16, 10).cast("long")


def _new_table(ctx: Ctx, root: str, buckets: int = BUCKETS) -> LakeTable:
    with ctx.span("lake.create"):
        return LakeTable.create(ctx.spark, root, key_cols=["repo", "path"], num_buckets=buckets)


def _lookup_keys(expected: dict, seed: int) -> list[tuple[str, str]]:
    """Rotating key mix: a hot-repo key, a uniform key, an absent key."""
    rng = random.Random(seed)
    keys = sorted(expected)
    hot = [k for k in keys if k[0] == HOT_REPO] or keys
    return [rng.choice(hot), rng.choice(keys), ABSENT_KEY]


def _timed_read(ctx: Ctx, table: LakeTable, op: int, keys, ph: Phase) -> None:
    """One serving read: ops 0..2 look up ``keys[op]``, op 3 reads the
    hot repo. A failed read is counted, never raised."""
    t0 = time.perf_counter()
    try:
        if op < 3:
            with ctx.span("lake.lookup"):
                df = table.lookup(*keys[op])
                if df is not None:
                    df.collect()
            samples = ph.lookup_ms
        else:
            with ctx.span("lake.read_repo"):
                df = table.read_repo(HOT_REPO)
                if df is not None:
                    df.count()
            samples = ph.repo_read_ms
    except Exception:  # the run reports failed reads in its error rate
        ph.record(ok=False)
        return
    ph.record(samples, (time.perf_counter() - t0) * 1e3)


def _warm_reads(ctx: Ctx, table: LakeTable, keys) -> None:
    for op in range(4):
        _timed_read(ctx, table, op, keys, Phase())


def _background(fn) -> Future:
    """Run ``fn`` on a driver thread (the oracle, while Spark warms up)."""
    pool = ThreadPoolExecutor(1, thread_name_prefix="oracle")
    try:
        return pool.submit(fn)
    finally:
        pool.shutdown(wait=False)


class Workload:
    name = ""

    def __init__(self, ctx: Ctx, seconds: float):
        self.ctx = ctx
        self.seconds = seconds
        self.tables: list[LakeTable] = []   # final tables, checked at the end
        self.expected: list[dict] = []      # oracle state per final table
        self.wal_bytes = 0
        self.wal_pdf = None                 # pandas events, for the kernel probe
        self.wal_df = None                  # Spark events, for the validate probe
        self.keys: list = []

    def setup(self) -> None:
        """Generate inputs, compute the oracle, warm the session."""
        raise NotImplementedError

    def phase(self, seconds: float) -> Phase:
        """One measured ingest phase of about ``seconds``."""
        raise NotImplementedError

    def serve(self, ph: Phase) -> None:
        """Post-ingest reads on the final table(s) from concurrent
        closed-loop clients."""
        def client(c: int) -> None:
            for i in range(SERVE_READS_PER_CLIENT):
                table = self.tables[(c + i) % len(self.tables)]
                _timed_read(self.ctx, table, (c + i) % 4, self.keys, ph)

        with ThreadPoolExecutor(SERVE_CLIENTS, thread_name_prefix="client") as pool:
            for f in [pool.submit(client, c) for c in range(SERVE_CLIENTS)]:
                f.result()

    def scan_s(self) -> list[float]:
        out = []
        for _ in range(SCANS):
            t0 = time.perf_counter()
            with self.ctx.span("lake.scan"):
                for t in self.tables:
                    t.read().count()
            out.append(time.perf_counter() - t0)
        return out

    def check(self) -> float:
        """Share of final (repo, path) -> content_sha entries equal to
        the oracle, over all final tables."""
        good = total = 0
        for table, want in zip(self.tables, self.expected):
            got = oracle.table_state(table)
            keys = got.keys() | want.keys()
            total += len(keys)
            good += sum(got.get(k) == want.get(k) for k in keys)
        return good / total if total else 1.0

    def write_amp(self) -> float:
        return sum(du(t.root) for t in self.tables) / self.wal_bytes

    def extra_probes(self, traced: Phase) -> dict:
        """Workload-specific layer probes for the traced run."""
        return {}

    def _reps(self, seconds: float, rep) -> Phase:
        """Run ``rep`` (one ingest call into fresh tables) at least once,
        and again while another call of the mean length still fits in
        ``seconds``."""
        ph = Phase()
        t0 = time.perf_counter()
        while True:
            rep(ph)
            elapsed = time.perf_counter() - t0
            if elapsed + elapsed / len(ph.calls_s) > seconds:
                break
        ph.window_s = time.perf_counter() - t0
        return ph

    def _ingested(self, ph: Phase, events: int, dt: float, batches) -> None:
        """Book one ingest call that consumed a whole pre-generated log:
        every event in it was due when the call started."""
        ph.record()
        ph.events += events
        ph.ingest_s += dt
        ph.calls_s.append(dt)
        ph.rates.append(events / dt)
        ph.freshness_s.append(dt)
        ph.backlog_max = max(ph.backlog_max, events)
        ph.batches.extend(batches)


class BulkReplayCow(Workload):
    name = "bulk_replay_cow"

    def setup(self) -> None:
        ctx = self.ctx
        with ctx.span("sources.gen_events", events=BULK_EVENTS):
            self.wal_path = _write(ctx, "wal", _gen(ctx, BULK_EVENTS, ctx.seed).repartition(ctx.cores))
        self.wal_df = ctx.spark.read.parquet(self.wal_path)
        self.wal_bytes = du(self.wal_path)
        self.wal_pdf = _pandas(self.wal_path)
        fut = _background(lambda: oracle.replay(self.wal_pdf, LANGS))
        # the first replays of a session pay JIT and Python worker start
        self._n = 0
        self._rep(Phase())
        self.expected = [fut.result()]
        self.keys = _lookup_keys(self.expected[0], ctx.seed)
        _warm_reads(ctx, self.tables[0], self.keys)

    def _rep(self, ph: Phase) -> None:
        ctx = self.ctx
        self._n += 1
        table = _new_table(ctx, ctx.path(f"cow-{self._n}"))
        engine = CDCEngine(ctx.spark, table, default_registry())
        t0 = time.perf_counter()
        with ctx.span("engine.replay"):
            metrics = engine.replay(self.wal_df, num_batches=BULK_BATCHES)
        self._ingested(ph, BULK_EVENTS, time.perf_counter() - t0, metrics)
        for old in self.tables:
            shutil.rmtree(old.root, ignore_errors=True)
        self.tables = [table]

    def phase(self, seconds: float) -> Phase:
        return self._reps(seconds, self._rep)

    def scaling(self, spark_1core, t_n: float, cores: int) -> float:
        """Replay the WAL on a one-core session after a warm-up:
        ``(T1 / TN) / N``."""
        ctx = self.ctx
        ctx.spark = spark_1core
        wal = spark_1core.read.parquet(self.wal_path)
        # warm the new session's Python workers on the first tenth of
        # the log (100 events per commit)
        t = _new_table(ctx, ctx.path("scale-warm"))
        CDCEngine(spark_1core, t, default_registry()).replay(
            wal.filter(_commit_no() <= BULK_EVENTS // 1000), num_batches=2)
        t = _new_table(ctx, ctx.path("scale-1"))
        t0 = time.perf_counter()
        with ctx.span("engine.replay", cores=1):
            CDCEngine(spark_1core, t, default_registry()).replay(wal, num_batches=BULK_BATCHES)
        return ((time.perf_counter() - t0) / t_n) / cores


class TailMorServe(Workload):
    name = "tail_mor_serve"

    def setup(self) -> None:
        ctx = self.ctx
        n_segments = int(round(self.seconds / TAIL_INTERVAL_S))
        per_commit = TAIL_EVENTS_PER_COMMIT
        seed_commits = TAIL_SEED_EVENTS // per_commit
        warm_commits = TAIL_WARM_EVENTS // per_commit
        c = _commit_no()
        # one log: the seed, then a warm-up batch (seg=-1) and the
        # segments the open loop releases (seg=0, 1, ...)
        seg = F.when(c <= seed_commits + warm_commits, F.lit(-1)).otherwise(
            F.floor((c - seed_commits - warm_commits - 1) / (TAIL_SEGMENT_EVENTS // per_commit))
        ).cast("int")
        n = TAIL_SEED_EVENTS + TAIL_WARM_EVENTS + n_segments * TAIL_SEGMENT_EVENTS
        with ctx.span("sources.gen_events", events=n):
            ev = _gen(ctx, n, ctx.seed, events_per_commit=per_commit)
            self.seed_path = _write(ctx, "seed", ev.filter(c <= seed_commits).repartition(ctx.cores))
            tail = ev.filter(c > seed_commits).withColumn("seg", seg)
            self.log_path = _write(ctx, "log", tail.repartition("seg"), "seg")
        self.wal_bytes = du(self.seed_path) + du(self.log_path)
        seed_df = ctx.spark.read.parquet(self.seed_path)
        self.wal_df = seed_df.unionByName(ctx.spark.read.parquet(self.log_path).drop("seg"))
        self.wal_pdf = _pandas(self.seed_path)
        seeded = oracle.replay(self.wal_pdf, LANGS)
        self.keys = _lookup_keys(seeded, ctx.seed)
        fut = _background(lambda: oracle.replay(_pandas(self.log_path), LANGS, dict(seeded)))
        # seeding, then a small apply, warm the merge-on-read write path
        table = _new_table(ctx, ctx.path("mor"), TAIL_BUCKETS)
        self.engine = CDCEngine(
            ctx.spark, table, default_registry(), write_mode="mor",
            compact_after=TAIL_COMPACT_AFTER,
        )
        for df in (seed_df, ctx.spark.read.parquet(_part(self.log_path, "seg", -1))):
            with ctx.span("engine.apply_batch"):
                self.engine.apply_batch(df)
        self.tables = [table]
        # the reader holds its own handle, as a separate serving process would
        self.reader_table = LakeTable.load(ctx.spark, table.root)
        _warm_reads(ctx, self.reader_table, self.keys)
        self.expected = [fut.result()]
        self.next_segment = 0

    def _segments(self, lo: int, hi: int):
        return self.ctx.spark.read.parquet(
            *[_part(self.log_path, "seg", i) for i in range(lo, hi)]
        )

    def _reader(self, stop: threading.Event, ph: Phase) -> None:
        op = 0
        while not stop.is_set():
            _timed_read(self.ctx, self.reader_table, op, self.keys, ph)
            op = (op + 1) % 4
            stop.wait(READER_THINK_S)

    def phase(self, seconds: float) -> Phase:
        """Segments fall due on a fixed schedule whatever the consumer
        does (open loop). On each trigger the consumer applies every
        segment that has arrived in one ``apply_batch``; a trigger that
        comes due while an apply runs fires as soon as it ends."""
        ctx = self.ctx
        first = self.next_segment
        last = first + int(round(seconds / TAIL_INTERVAL_S))
        self.next_segment = last
        ph = Phase()
        stop = threading.Event()
        reader = threading.Thread(target=self._reader, args=(stop, ph), name="reader")
        t0 = time.perf_counter()

        def due(i: int) -> float:
            return t0 + (i - first + 1) * TAIL_INTERVAL_S

        reader.start()
        try:
            i, trigger = first, 1
            while i < last:
                time.sleep(max(0.0, t0 + trigger * TAIL_TRIGGER_S - time.perf_counter()))
                trigger += 1
                arrived = min(last, first + int((time.perf_counter() - t0) / TAIL_INTERVAL_S))
                if arrived <= i:
                    continue
                n = (arrived - i) * TAIL_SEGMENT_EVENTS
                ph.backlog_max = max(ph.backlog_max, n)
                batch = self._segments(i, arrived)
                ta = time.perf_counter()
                with ctx.span("engine.apply_batch"):
                    metrics = self.engine.apply_batch(batch)
                tb = time.perf_counter()
                ph.record()
                ph.events += n
                ph.ingest_s += tb - ta
                ph.calls_s.append(tb - ta)
                ph.rates.append(n / (tb - ta))
                ph.batches.append(metrics)
                ph.freshness_s.extend(tb - due(j) for j in range(i, arrived))
                i = arrived
        finally:
            stop.set()
            reader.join()
        ph.window_s = time.perf_counter() - t0
        return ph

    def serve(self, ph: Phase) -> None:
        """The reader ran beside the writes; nothing to add."""


class FanoutDebezium2pc(Workload):
    name = "fanout_debezium_2pc"
    ROUTES = ("repos", "users")

    def setup(self) -> None:
        ctx = self.ctx
        half = FANOUT_EVENTS // 2
        # one change stream per route table, interleaved into one feed
        with ctx.span("sources.to_debezium", events=FANOUT_EVENTS):
            env = None
            for k, route in enumerate(self.ROUTES):
                e = to_debezium(_gen(ctx, half, ctx.seed + 100 * k), FIELDS, db="d", table=route)
                env = e if env is None else env.unionByName(e)
            env_path = _write(ctx, "envelopes", env.repartition(ctx.cores))
        self.env = ctx.spark.read.parquet(env_path)
        self.wal_bytes = du(env_path)
        self.wal_df = parse_debezium(self.env, FIELDS, seq_expr=SEQ)
        values = pq.read_table(env_path).column("value").to_pylist()
        fut = _background(lambda: oracle.from_debezium(values))
        # the first fan-outs of a session pay JIT and Python worker start
        self._n = 0
        self._atomic(self.env, Phase(), FANOUT_EVENTS)
        events = fut.result()
        self.wal_pdf = events[self.ROUTES[0]]
        self.expected = [oracle.replay(events[r], LANGS) for r in self.ROUTES]
        self.keys = _lookup_keys(self.expected[0], ctx.seed)
        _warm_reads(ctx, self.tables[0], self.keys)

    def _routes(self, tag: str) -> list[TableRoute]:
        return [
            TableRoute(r, CDCEngine(
                self.ctx.spark, _new_table(self.ctx, self.ctx.path(f"{tag}-{r}")),
                default_registry(),
            ))
            for r in self.ROUTES
        ]

    def _atomic(self, env, ph: Phase, events: int) -> None:
        ctx = self.ctx
        self._n += 1
        routes = self._routes(f"fan-{self._n}")
        t0 = time.perf_counter()
        with ctx.span("engine.fan_out_atomic"):
            report = fan_out_atomic(env, routes, ctx.path(f"txn-{self._n}"), seq_expr=SEQ)
        dt = time.perf_counter() - t0
        if report["txn"] != "committed":
            raise RuntimeError(f"fan-out transaction {report['txn']}")
        self._ingested(ph, events, dt, report["tables"].values())
        for old in self.tables:
            shutil.rmtree(old.root, ignore_errors=True)
        self.tables = [r.engine.table for r in routes]

    def phase(self, seconds: float) -> Phase:
        return self._reps(seconds, lambda ph: self._atomic(self.env, ph, FANOUT_EVENTS))

    def extra_probes(self, traced: Phase) -> dict:
        ctx = self.ctx
        t0 = time.perf_counter()
        with ctx.span("sources.parse_debezium"):
            parse_debezium(self.env, FIELDS, seq_expr=SEQ, include_source=True) \
                .write.format("noop").mode("overwrite").save()
        parse_s = time.perf_counter() - t0
        routes = self._routes("plain")
        t0 = time.perf_counter()
        with ctx.span("engine.fan_out_debezium"):
            fan_out_debezium(self.env, routes, seq_expr=SEQ)
        fanout_s = time.perf_counter() - t0
        return {
            "sources.parse_debezium_s": parse_s,
            "engine.fanout_s": fanout_s,
            "engine.txn_overhead_s": median(traced.calls_s) - fanout_s,
        }


WORKLOADS = {w.name: w for w in (BulkReplayCow, TailMorServe, FanoutDebezium2pc)}


def kernel_rows_per_s(ctx: Ctx, pdf, rows: int = 5000, reps: int = 3) -> float:
    """``compile_chain(content spec).apply`` on a pandas sample."""
    chain = compile_chain(FIELD_SPECS_V1["content"]["chain"])
    sample = pdf["content"].head(rows).reset_index(drop=True)
    rates = []
    for _ in range(reps):
        t0 = time.perf_counter()
        with ctx.span("functions.content_chain", rows=len(sample)):
            chain.apply(sample)
        rates.append(len(sample) / (time.perf_counter() - t0))
    return median(rates)


def validate_probe(ctx: Ctx, wal) -> tuple[float, float]:
    """(seconds for validate -> noop sink, share of rows with errors)."""
    t0 = time.perf_counter()
    with ctx.span("operators.validate"):
        validate(wal, FIELD_SPECS_V1, keep_raw="on_error") \
            .write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    with ctx.span("operators.validate", action="count_errors"):
        row = validate(wal.select(*FIELDS), FIELD_SPECS_V1, keep_raw="on_error").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.size(ERRORS_COL) > 0).cast("int")).alias("bad"),
        ).first()
    return dt, row["bad"] / row["n"]


def lake_probe(ctx: Ctx, tables: list[LakeTable], calls: int = 20) -> dict:
    """Metadata state of the final tables plus ``current()`` cost."""
    out = {"lake.snapshots": 0, "lake.files_live": 0, "lake.delta_files": 0,
           "lake.compactions": 0, "lake.bytes_on_disk": 0, "lake.live_bytes": 0}
    times = []
    with ctx.span("lake.current", calls=calls * len(tables)):
        for t in tables:
            for _ in range(calls):
                t0 = time.perf_counter()
                t.current()
                times.append((time.perf_counter() - t0) * 1e3)
    with ctx.span("lake.metadata"):
        for t in tables:
            files = t.files()
            out["lake.snapshots"] += len(t.snapshots())
            out["lake.files_live"] += len(files)
            out["lake.delta_files"] += sum(f["kind"] == "delta" for f in files)
            out["lake.compactions"] += sum(h["operation"] == "compact" for h in t.history())
            out["lake.bytes_on_disk"] += du(t.root)
            out["lake.live_bytes"] += sum(f["size_bytes"] or 0 for f in files)
    out["lake.current_ms"] = median(times)
    return out
