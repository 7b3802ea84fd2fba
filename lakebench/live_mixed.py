"""live_mixed: dashboard reads beside streaming writes and maintenance.

Load, from one process with four load threads:
  - an open-loop tick generator: RATE slots a second, one tick file per
    coin per slot, each stamped with its creation time; P_LATE of the
    ticks arrive 2-20 s late (inside the watermark) and P_BEYOND far
    beyond it (the bronze aggregate must drop them);
  - two closed-loop dashboard clients (chart slices and a star join
    over seeded day windows);
  - one maintenance thread that, every CADENCE_S, refreshes dimcoin
    with SCD-2 and then compacts today's partition of the fact table (the
    one the stream appends to, which by then holds the cycle's new
    appends); a cycle that overruns its slot delays the next, no cycle
    starts after the window, and a started cycle runs to its end. One
    unmeasured cycle runs before the window.
The pipeline runs all the while on a processing-time trigger. Before the
window every dashboard read also runs once, unmeasured.
"""

from __future__ import annotations

import math
import random
import sys
import threading
import time

from lakehouse_for_data_streaming_and_analysis_spark.delta import ConcurrentCommitError
from lakehouse_for_data_streaming_and_analysis_spark.dims.scd2 import scd2_apply_delta

import tickrun
from deltalog import LogReader
from pipeline import COINS, Tick, compare_rows
from star import AS_OF, TODAY_ID, candidates, refreshed
from tracing import TracedTable, quantile

# Where each value comes from is in README.md ("Parameters").
RATE = 2.0  # slots a second: 6x the reference producer, for enough ticks per window
P_LATE, P_BEYOND = 0.10, 0.05
TRIGGER = "1 second"  # the reference's trigger
CADENCE_S = 6.0  # a cycle takes 5-9 s under this load, so three run in a 20 s window
HISTORY_PER_DAY = 240
CLIENTS = 2
DRAIN_TIMEOUT_S = 45  # the whole run must end within 180 s


def setup(ctx, root: str) -> tickrun.State:
    return tickrun.setup(ctx, root, HISTORY_PER_DAY, TRIGGER, files_per_trigger=1000)


class DimModel:
    """The SCD-2 dimension the refreshes should leave: every changed
    coin's current row expired and a new current row added."""

    def __init__(self, rows: list[tuple]):
        self.rows = [(*r, "Y") for r in rows]

    def apply(self, snapshot: list[tuple]) -> None:
        current = {r[0]: i for i, r in enumerate(self.rows) if r[-1] == "Y"}
        for s in snapshot:
            i = current[s[0]]
            if self.rows[i][:-1] != s:
                self.rows[i] = (*self.rows[i][:-1], "N")
                self.rows.append((*s, "Y"))


class _FailOnce:
    """Self-test: the first ``read_pruned`` raises, as an engine error would."""

    def __init__(self, table):
        self._table = table
        self._armed = True

    def __getattr__(self, name):
        attr = getattr(self._table, name)
        if name == "read_pruned" and self._armed:
            self._armed = False

            def fail(*args, **kwargs):
                raise RuntimeError("injected dashboard error")

            return fail
        return attr


def run(ctx, st: tickrun.State) -> None:
    tracer, pipe = ctx.tracer, st.pipe
    seq = iter(range(10**9))
    dash = tickrun.start(ctx, st, seq)
    if ctx.inject == "dash_error":
        dash.fact = _FailOnce(dash.fact)
    dim_t, fact_t = dash.dim, TracedTable(st.fact, tracer)

    stop = threading.Event()
    refresh = {"scd2_ms": [], "optimize_ms": [], "optimized": [], "refused": 0, "attempted": 0,
               "errors": 0}
    model = DimModel(st.snapshot)
    maint_rng = random.Random(ctx.seed * 13 + 3)

    def refresh_dim(record: bool) -> None:
        t0 = time.perf_counter()
        rows = refreshed(maint_rng, st.snapshot)
        try:
            with tracer.span("dims", "scd2"):
                scd2_apply_delta(dim_t, candidates(ctx.spark, rows), "coin_id", AS_OF)
            st.snapshot = rows
            model.apply(rows)
            if record:
                refresh["scd2_ms"].append((time.perf_counter() - t0) * 1000)
            ctx.op()
        except Exception as e:  # noqa: BLE001 - an engine error is a failed op
            print(f"# scd2 refresh failed: {type(e).__name__}: {e}", file=sys.stderr)
            refresh["errors"] += 1
            ctx.op(failed=True)

    def compact(record: bool) -> None:
        t0 = time.perf_counter()
        try:
            v = fact_t.optimize(where=f"date_id = {TODAY_ID}")
            if record:
                refresh["optimized"].append(v)
            ctx.op()
        except ConcurrentCommitError:
            if record:
                refresh["refused"] += 1  # background work: retried next tick
            ctx.op()
        except Exception as e:  # noqa: BLE001
            print(f"# compaction failed: {type(e).__name__}: {e}", file=sys.stderr)
            refresh["errors"] += 1
            ctx.op(failed=True)
        if record:
            refresh["attempted"] += 1
            refresh["optimize_ms"].append((time.perf_counter() - t0) * 1000)

    # one unmeasured cycle first, so the window's cycles run warm
    t0 = time.time()
    refresh_dim(record=False)
    compact(record=False)
    print(f"# maintenance warm-up cycle: {time.time() - t0:.2f}s", file=sys.stderr)
    warm_rows, warm_expired = len(model.rows), sum(1 for r in model.rows if r[-1] == "N")
    t_start = ctx.begin_window()
    t_end = t_start + ctx.seconds

    def generate():
        rng = random.Random(ctx.seed * 7 + 1)
        price = dict(st.last_price)
        i = 0
        while True:
            offset = i / RATE
            sched = t_start + offset
            if sched >= t_end or stop.wait(max(0.0, sched - time.time())):
                return
            tracer.sample("gen.late", max(0.0, time.time() - sched))
            for coin, _, _ in COINS:
                price[coin] = round(price[coin] * math.exp(rng.gauss(0, 3e-4)), 2)
                u = rng.random()
                if u < P_BEYOND:
                    kind, ts = "beyond", st.event_base_us - int(rng.uniform(300, 900) * 1e6)
                elif u < P_BEYOND + P_LATE:
                    kind, ts = "late", st.event_base_us + int((offset - rng.uniform(2, 20)) * 1e6)
                else:
                    kind, ts = "on_time", st.event_base_us + int(offset * 1e6)
                pipe.source.write(Tick(next(seq), coin, price[coin], ts, kind))
            i += 1

    def client(k: int):
        reads = dash.schedule(random.Random(ctx.seed * 100 + k), start=k * len(dash.names) // CLIENTS)
        while not stop.is_set() and time.time() < t_end:
            st.reads.append(dash.run(next(reads)))

    def maintain():
        k = 0
        while True:
            sched = t_start + k * CADENCE_S
            if sched >= t_end or stop.wait(max(0.0, sched - time.time())) or time.time() >= t_end:
                return
            k += 1
            t0 = time.time()
            refresh_dim(record=True)
            t1 = time.time()
            compact(record=True)
            print(f"# maintenance cycle {k} at +{t0 - t_start:.1f}s: scd2 {t1 - t0:.2f}s, "
                  f"compaction {time.time() - t1:.2f}s", file=sys.stderr)

    threads = [threading.Thread(target=generate, name="ticks"),
               threading.Thread(target=maintain, name="maintenance"),
               *[threading.Thread(target=client, args=(k,), name=f"client{k}") for k in range(CLIENTS)]]
    for t in threads:
        t.start()
    try:
        while time.time() < t_end:
            pipe.supervise()
            if ctx.probe is not None:
                ctx.probe.poll()
            time.sleep(0.2)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
    if any(t.is_alive() for t in threads):
        raise RuntimeError("a load thread did not stop")
    drained = pipe.wait_drained(pipe.source.ticks, DRAIN_TIMEOUT_S)
    ctx.end_window()
    pipe.stop()
    if not drained:
        # too slow to measure, not a wrong answer: the run ends without a result
        raise RuntimeError(f"the pipeline did not take in every tick within {DRAIN_TIMEOUT_S} s "
                           "of the window")

    chain, kept, reflected = tickrun.finish(ctx, st, dash, t_start, extra_read_errors=refresh["errors"])
    ok = [r for r in st.reads if r.error is None]
    ctx.e2e.update({
        "queries_per_s": len(ok) / (max((r.finished for r in ok), default=t_end) - t_start),
        "ingest_ticks_per_s": len(kept) / (max(reflected) - min(t.landed for t in kept)),
    })

    d = LogReader(st.dim.path).read().to_pydict()
    got = list(zip(d["coin_id"], d["symbol"], d["name"], d["supply"], d["maxsupply"], d["volume24h"],
                   d["is_current"]))
    for p in compare_rows("dimcoin", model.rows, got, exact=7):
        ctx.problem(p)
    if len(set(d["surrogate_key"])) != len(d["surrogate_key"]):
        ctx.problem("dimcoin: surrogate keys repeat")
    fact_log = LogReader(st.fact.path)
    committed = sum(1 for v in set(refresh["optimized"]) if fact_log.operation.get(v) == "OPTIMIZE")
    print(f"# maintenance: {len(refresh['optimize_ms'])} cycles, compaction refused "
          f"{refresh['refused']}/{refresh['attempted']}, {refresh['errors']} failed", file=sys.stderr)
    ctx.layer.update({
        "delta.optimize_ms": quantile(refresh["optimize_ms"], 0.5),
        "delta.optimize_refused": float(refresh["refused"]),
        "delta.optimize_committed_share": committed / max(1, refresh["attempted"]),
        "dims.scd2_ms": quantile(refresh["scd2_ms"], 0.5),
        "dims.rows_expired": float(sum(1 for x in d["is_current"] if x == "N") - warm_expired),
        "dims.rows_inserted": float(len(d["is_current"]) - warm_rows),
    })
