"""Host-health sentinel for wall-clock measurements on a shared VM.

``host_sentinel`` probes how much CPU the host delivers (sha256 ops/sec
at 1, 4 and 8 threads plus a /proc/stat steal sample);
``sentinel_degraded``, ``implausible_queries`` and ``StealMonitor`` turn
those readings into reasons a timing cannot be trusted. The benchmark
itself is ``ingestbench/run.py``.
"""

from __future__ import annotations

import hashlib
import threading
import time

# Benchmarks here run on a hypervisor-shared VM whose CPU delivery varies
# wildly: a round-3 artifact showed a uniform 6.4x "regression" that an
# idle-host A/B proved was pure throttling (OS view during the event: 1%
# user time, 76% idle with 9 runnable processes, 5-6% steal). A wall-clock
# number is only meaningful relative to how much CPU the host actually
# delivered, so a timing is refused when a probe before or after it
# reads >1.5x below the reference recorded with the BASELINE numbers.
#
# Gate metrics (chosen for stability, measured +-8% run-to-run on an idle
# host): single-thread sha256 ops/sec and 4-thread aggregate (hashlib
# releases the GIL, so threads scale). The 8/16-thread aggregates are
# recorded as observables but NOT gated: this hypervisor burst-caps wide
# bursts (16 threads measure LESS total than 1), with 2x run-to-run noise.

SENTINEL_REF = {"st_ops": 17000.0, "mt4_ops": 58000.0}  # idle-host, 2026-08-17
SENTINEL_FACTOR = 1.5

_SENTINEL_BUF = b"\xa5" * 65536


def _hash_loop(dur: float) -> float:
    n = 0
    h = hashlib.sha256
    end = time.perf_counter() + dur
    while time.perf_counter() < end:
        h(_SENTINEL_BUF).digest()
        n += 1
    return n / dur


def _steal_pct(gap: float = 0.3) -> float:
    def read():
        try:
            with open("/proc/stat") as f:
                return list(map(int, f.readline().split()[1:]))
        except OSError:
            return None

    a = read()
    if a is None:
        return 0.0
    time.sleep(gap)
    b = read()
    if b is None:  # /proc/stat went away mid-sample (procfs restriction,
        # fd exhaustion) — report "no steal observed", don't TypeError:
        # inside StealMonitor a crash here kills the sampler thread
        # silently and an empty sample set reads as a healthy run
        return 0.0
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d)
    return round(d[7] / tot * 100, 2) if tot and len(d) > 7 else 0.0


def host_sentinel(dur: float = 0.4) -> dict:
    """CPU-delivery probe: sha256 ops/sec at 1 and 4 threads (gated) and
    8 threads (observable), plus a /proc/stat steal sample."""
    st = _hash_loop(dur)
    out = {"st_ops": round(st)}
    for threads in (4, 8):
        counts = [0.0] * threads

        def worker(i):
            counts[i] = _hash_loop(dur)

        ts = [threading.Thread(target=worker, args=(i,)) for i in range(threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        out[f"mt{threads}_ops"] = round(sum(counts))
    out["steal_pct"] = _steal_pct()
    return out


def sentinel_degraded(sent: dict) -> list[str]:
    """Reasons this host is delivering materially less CPU than the
    reference state the BASELINE numbers were recorded in."""
    reasons = []
    for key in ("st_ops", "mt4_ops"):
        if sent[key] < SENTINEL_REF[key] / SENTINEL_FACTOR:
            reasons.append(
                f"{key} {sent[key]:,} < ref {SENTINEL_REF[key]:,.0f}/{SENTINEL_FACTOR}"
            )
    if sent.get("steal_pct", 0) > 10:
        reasons.append(f"steal {sent['steal_pct']}% > 10%")
    return reasons


# Per-query plausibility ceilings: 8x the best recorded idle-host run
# (a round-4 artifact at sf0.1). The endpoint sentinels have a
# blind spot — a hypervisor throttle that starts after the "before"
# probe and drains before the "after" one brackets a poisoned run with
# two healthy sentinels (observed live: minhash 5.9s -> 574s with clean
# sentinels on both sides). A query exceeding its ceiling cannot be a
# valid measurement of this code on a healthy host — mid-run throttle
# or a real regression, either must flag loudly, never publish quietly.
QUERY_CEILING_FACTOR = 8
REF_QUERY_SECONDS = {
    "warmup": 35, "cdc_replay": 30, "cdc_replay_mor": 25,
    # calibrated from the first clean idle-host run at r5 HEAD
    # (2026-08-20: 20.9s / 24.3s, sentinel mt8 47k, steal 0.06%)
    "fanout_replay": 21, "fanout_replay_2pc": 25,
    "cdc_lww_merge": 1.5, "cdc_checkpoint_offsets": 1.2,
    "agg_pricing_summary": 1.3, "join_revenue_by_nation": 2.2,
    "window_topk_per_user": 1.5, "filter_unicode_normalize": 0.9,
    "dedup_exact_stats": 0.8, "dedup_minhash_lsh": 8,
    "text_token_stats": 1.3, "ann_cosine_topk": 3.5,
}


def implausible_queries(queries: dict, sf: float) -> list[str]:
    """Headline timings beyond any healthy-host explanation. Ceilings
    are calibrated at sf0.1; at other SFs only the relative shape is
    meaningful, so the check is skipped."""
    if abs(sf - 0.1) > 1e-9:
        return []
    return [
        f"{k}={v:.1f}s > {REF_QUERY_SECONDS[k] * QUERY_CEILING_FACTOR:.0f}s ceiling"
        for k, v in queries.items()
        if k in REF_QUERY_SECONDS
        and v > REF_QUERY_SECONDS[k] * QUERY_CEILING_FACTOR
    ]


class StealMonitor:
    """Passive mid-run /proc/stat sampler (no CPU probes — an active
    probe can't distinguish the bench's own load from hypervisor
    withholding while the bench runs). Steal IS attributable: it is
    cycles the hypervisor refused while a vCPU was runnable."""

    def __init__(self, interval: float = 15.0):
        self.interval = interval
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self.interval):
            self.samples.append(_steal_pct(0.5))

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=2)

    def summary(self) -> dict:
        return {
            "n_samples": len(self.samples),
            "max_steal_pct": max(self.samples, default=0.0),
        }

    def degraded(self) -> list[str]:
        mx = max(self.samples, default=0.0)
        return [f"mid-run steal {mx}% > 10%"] if mx > 10 else []
