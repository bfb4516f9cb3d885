"""Ingest benchmark entry point.

    python3 ingestbench/run.py --workload tail_mor_serve --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds a host-fit Spark session, sets up
the workload from ``--seed``, measures its ingest for about
``--seconds``, checks every final table against the oracle and prints
one line per metric, then one JSON object as the last line of standard
output: ``{"correct", "attempted", "failed", "metrics"}`` with the
metrics ``BENCHMARK.json`` registers. ``--trace 0`` reports the
end-to-end metrics. ``--trace 1`` splits the time into an untraced and a
traced half, reports the per-layer metrics and writes the spans to
``.ingestbench/traces/``. Exits 1 when the oracle check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

INGEST_SPANS = ("engine.replay", "engine.apply_batch", "engine.fan_out_atomic")


def declared() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) registered metric name -> unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def end_to_end(r) -> dict[str, tuple[float, str, str]]:
    """name -> (value, unit, note) for every end-to-end metric."""
    from ingestbench.trace import median, tail

    ph = r.ph
    lookup_pct, lookup_tail = tail(ph.lookup_ms)
    fresh_pct, fresh_tail = tail(ph.freshness_s)
    attempted = ph.attempted + len(r.scans)
    return {
        "setup_s": (r.setup_s, "s", ""),
        "ingest_events_per_s": (median(ph.rates), "1/s", f"n={len(ph.rates)} calls"),
        "freshness_p50_s": (median(ph.freshness_s), "s", f"n={len(ph.freshness_s)}"),
        "freshness_tail_s": (fresh_tail, "s", f"p{fresh_pct:.1f} n={len(ph.freshness_s)}"),
        "lookup_p50_ms": (median(ph.lookup_ms), "ms", f"n={len(ph.lookup_ms)}"),
        "lookup_tail_ms": (lookup_tail, "ms", f"p{lookup_pct:.1f} n={len(ph.lookup_ms)}"),
        "repo_read_p50_ms": (median(ph.repo_read_ms), "ms", f"n={len(ph.repo_read_ms)}"),
        "scan_s": (median(r.scans), "s", f"n={len(r.scans)}"),
        "write_amp": (r.write_amp, "ratio", f"wal_bytes={r.wl.wal_bytes}"),
        "peak_rss_mb": (r.peak_mb, "MB", "PSS of driver, JVM and Python workers"),
        "correct_frac": (r.correct, "frac", ""),
        "error_rate": (ph.failed / attempted, "frac", f"failed={ph.failed} attempted={attempted}"),
    }


def per_layer(tracer, base, ph, phase_span: int) -> dict[str, float]:
    """Layer metrics of the traced phase, from its spans and the
    engine's own metrics records."""
    from ingestbench.trace import median

    ingest = [s for s in tracer.spans if s["name"] in INGEST_SPANS and s["parent"] == phase_span]
    jobs = sum(s["jobs"] for s in ingest)
    b = ph.batches
    events_in = sum(m["events_in"] for m in b)
    applied = sum(m["applied"] for m in b)
    lookups = tracer.named("lake.lookup")
    return {
        "engine.replay_s": ph.ingest_s,
        "engine.jobs": jobs,
        "engine.tasks": sum(s["tasks"] for s in ingest),
        "engine.applied": applied,
        "engine.dead_lettered": sum(m["dead_lettered"] for m in b),
        "engine.skipped_replays": sum(m["skipped_replays"] for m in b),
        "engine.applied_frac": applied / events_in,
        "engine.apply_batch_p50_s": median([m["seconds"] for m in b]),
        "engine.jobs_per_batch": jobs / len(b),
        "engine.events_per_batch": events_in / len(b),
        "tail.consumer_busy_frac": ph.ingest_s / ph.window_s,
        "tail.backlog_max_events": ph.backlog_max,
        "lake.lookup_jobs": sum(s["jobs"] for s in lookups) / len(lookups),
        "trace.ingest_time_ratio": (ph.ingest_s / ph.events) / (base.ingest_s / base.events),
        "trace.engine_self_s": tracer.layer_self_s("engine"),
        "trace.lake_self_s": tracer.layer_self_s("lake"),
        "trace.sources_self_s": tracer.layer_self_s("sources"),
    }


def measure(args, run_id: str, work: str, tmp: str, cores: int):
    """One session's life: set-up, measured phase(s), reads, oracle
    check and, traced, the layer probes."""
    from ingestbench import host
    from ingestbench import workloads as W
    from ingestbench.trace import Tracer, median

    r = SimpleNamespace(layer={})
    with host.PeakMemorySampler() as mem:
        t0 = time.perf_counter()
        spark = host.start_session(cores, tmp)
        session_s = time.perf_counter() - t0
        try:
            r.tracer = tracer = Tracer(spark, run_id, enabled=bool(args.trace))
            ctx = W.Ctx(spark, tracer, work, args.seed, cores)
            r.wl = wl = W.WORKLOADS[args.workload](ctx, args.seconds)
            t0 = time.perf_counter()
            with ctx.span("bench.setup"):
                wl.setup()
            r.setup_s = session_s + time.perf_counter() - t0
            if args.trace:
                tracer.enabled = False
                r.base = wl.phase(args.seconds / 2)
                tracer.enabled = True
                with ctx.span("bench.phase") as phase_span:
                    r.ph = wl.phase(args.seconds / 2)
            else:
                r.ph = wl.phase(args.seconds)
            with ctx.span("bench.serve"):
                wl.serve(r.ph)
            r.scans = wl.scan_s()
            r.correct = wl.check()
            r.write_amp = wl.write_amp()
            if args.trace:
                validate_s, err_frac = W.validate_probe(ctx, wl.wal_df)
                r.layer = {
                    "functions.content_chain_rows_per_s": W.kernel_rows_per_s(ctx, wl.wal_pdf),
                    "operators.validate_s": validate_s,
                    "operators.error_rows_frac": err_frac,
                    **W.lake_probe(ctx, wl.tables),
                    **wl.extra_probes(r.ph),
                }
                tracer.attribute_jobs()
                r.layer.update(per_layer(tracer, r.base, r.ph, phase_span["id"]))
                if isinstance(wl, W.BulkReplayCow) and cores > 1:
                    spark.stop()
                    spark = host.start_session(1, tmp)
                    tracer.rebind(spark)
                    r.layer["engine.scaling_eff_1to4"] = wl.scaling(
                        spark, median(r.base.calls_s), cores)
                    tracer.attribute_jobs()
        finally:
            host.stop_jvm(spark)
        host.wait_children_gone()
    r.peak_mb = mem.peak_mb
    return r


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import filters_spark  # noqa: F401 — fail fast outside a repository checkout

    from ingestbench import host
    from ingestbench.trace import median
    from ingestbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    e2e_units, layer_units = declared()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    base_dir = os.path.join(ROOT, ".ingestbench")
    work = os.path.join(base_dir, f"work-{run_id}")
    tmp = os.path.join(work, "tmp")
    host.prepare_env(ROOT, tmp)
    facts = host.host_facts()
    try:
        r = measure(args, run_id, work, tmp, facts["nproc"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(r)
    prefix = "traced " if args.trace else ""
    lines = [f"# host {json.dumps(facts)}", f"# run {run_id}",
             f"# ingest call seconds {[round(x, 3) for x in r.ph.calls_s]}"]
    lines += [f"{prefix}{k} {v:.6g} {unit} {note}".rstrip() for k, (v, unit, note) in e2e.items()]
    if args.trace:
        traces = os.path.join(base_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{run_id}.jsonl")
        r.tracer.write(path)
        lines.append(f"# untraced ingest_events_per_s {median(r.base.rates):.6g} 1/s "
                     "(tracing overhead: traced vs untraced half)")
        lines.append(f"# spans -> {os.path.relpath(path, ROOT)}")
        lines.append(f"# {'span':28s} {'count':>5s} {'total_s':>9s} {'self_s':>9s} "
                     f"{'jobs':>5s} {'tasks':>6s}")
        for name, s in sorted(r.tracer.summary().items()):
            lines.append(f"# {name:28s} {s['count']:5d} {s['total_s']:9.3f} "
                         f"{s['self_s']:9.3f} {s['jobs']:5d} {s['tasks']:6d}")
        lines += [f"{k} {v:.6g}" for k, v in r.layer.items()]
        values, units = r.layer, layer_units
    else:
        values, units = {k: v for k, (v, _, _) in e2e.items()}, e2e_units
    missing = sorted(units.keys() - values.keys())
    if missing:
        raise RuntimeError(f"registered metrics not measured: {missing}")
    ok = r.correct == 1.0
    print("\n".join(lines))
    print(json.dumps({
        "correct": ok,
        "attempted": r.ph.attempted + len(r.scans),
        "failed": r.ph.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
