"""The tick side of ``live_mixed`` outside its load threads: its tables
and pipeline, the warm-up, and the checks and metrics after the measured
window."""

from __future__ import annotations

import random
import statistics
import sys
from dataclasses import dataclass, field
from datetime import datetime, timezone

import layers
from dashboard import Dashboard, DuckOracle, Read
from deltalog import LogReader
from pipeline import COINS, Chain, Pipeline, Tick, read_lags, verify_pipeline
from star import DATES, TODAY, TODAY_ID, coin_snapshot, create_dim, create_fact, history, tables_root
from tracing import TracedTable, quantile


@dataclass
class State:
    fact: object
    dim: object
    pipe: Pipeline
    snapshot: list[tuple]
    history: list[tuple]
    last_price: dict[str, float]
    event_base_us: int
    reads: list[Read] = field(default_factory=list)  # measured
    warm_reads: list[Read] = field(default_factory=list)  # checked, not timed


def setup(ctx, root: str, history_per_day: int, trigger: str, files_per_trigger: int) -> State:
    """Seeded dimcoin and fact history, the bronze tables, and a
    pipeline that is built but not started."""
    rng = random.Random(ctx.seed)
    snapshot = coin_snapshot(rng)
    supply = {coin: snapshot[cid - 1][3] for coin, cid, _ in COINS}
    last_price = {"bitcoin": round(rng.uniform(60000, 70000), 2),
                  "ethereum": round(rng.uniform(3000, 4000), 2)}
    hist = history(rng, supply, last_price, max(4, int(history_per_day * ctx.scale)))
    dim = create_dim(ctx.spark, tables_root(root, "dimcoin"), snapshot)
    fact = create_fact(ctx.spark, tables_root(root, "fact"), hist)
    pipe = Pipeline(ctx.spark, root, ctx.tracer, fact,
                    {coin: (cid, supply[coin]) for coin, cid, _ in COINS}, last_price,
                    trigger, files_per_trigger, probe=ctx.probe,
                    inject_dup=ctx.inject == "dup_fact")
    pipe.create_bronze()
    base = datetime(TODAY.year, TODAY.month, TODAY.day, 10, tzinfo=timezone.utc)
    event_base_us = (int(base.timestamp()) + rng.randrange(60)) * 1_000_000
    return State(fact, dim, pipe, snapshot, hist, last_price, event_base_us)


def start(ctx, st: State, seq) -> Dashboard:
    """Start the pipeline and push one tick per coin through both hops
    (which also sets the bronze watermark); meanwhile every dashboard
    read runs once over today, unmeasured, so that the window's reads
    do not pay Spark's first-run cost of each query shape. Returns the
    dashboard."""
    st.pipe.start()
    ctx.roles = st.pipe.query_ids()
    for coin, _, _ in COINS:
        st.pipe.source.write(Tick(next(seq), coin, st.last_price[coin],
                                  st.event_base_us - 5_000_000, "warmup"))
    dash = Dashboard(TracedTable(st.fact, ctx.tracer), TracedTable(st.dim, ctx.tracer), ctx.tracer, DATES)
    st.warm_reads = [dash.run(Read(name, TODAY_ID, TODAY_ID)) for name in dash.names]
    if not st.pipe.wait_drained(st.pipe.source.ticks, 45):
        raise RuntimeError("the pipeline did not finish its warm-up ticks")
    return dash


def corrupt_one_answer(reads: list[Read]) -> None:
    """Self-test: move the first double of one chart answer by 1 % plus 1,
    beyond the comparison tolerance at any magnitude."""
    victim = next(r for r in reads if r.error is None and r.rows
                  and any(isinstance(x, float) for x in r.rows[0]))
    row = list(victim.rows[0])
    j = next(i for i, x in enumerate(row) if isinstance(x, float))
    row[j] = row[j] * 1.01 + 1.0
    victim.rows[0] = tuple(row)


def finish(ctx, st: State, dash: Dashboard, t_start: float, extra_read_errors: int = 0):
    """Verify the tables and every dashboard read, account operations,
    and fill the tick and read metrics. Returns the chain, the kept
    measured ticks and the commit time that reflects each."""
    pipe, reads = st.pipe, st.reads
    if ctx.inject == "wrong_chart":
        corrupt_one_answer(reads)
    fact_log = LogReader(st.fact.path)
    problems, kept = verify_pipeline(pipe, fact_log, st.history)
    for p in problems:
        ctx.problem(p)
    oracle = DuckOracle(st.fact.path, st.dim.path, dash.slices)
    every = st.warm_reads + reads
    for r in every:
        if r.error is None and not oracle.check(r):
            ctx.problem(f"dashboard read {r.name} [{r.lo}, {r.hi}] at fact v{r.fact_v} dimcoin "
                        f"v{r.dim_v} matches no snapshot in between: {r.rows[:3]}")
    failed_reads = sum(1 for r in every if r.error is not None)
    ctx.op(n=len(every) - failed_reads)
    ctx.op(failed=True, n=failed_reads)
    ctx.op(n=len(pipe.sink_calls))
    ctx.op(failed=True, n=pipe.restarts)
    ok = [r for r in reads if r.error is None]

    chain = Chain(pipe, fact_log)
    measured = [t for t in pipe.source.ticks if t.kind != "warmup"]
    # a tick not reflected yet was already reported as not drained
    pairs = [(t, chain.reflected_at(t)) for t in measured if t.seq in kept]
    kept_ticks = [t for t, a in pairs if a is not None]
    reflected = [a for _, a in pairs if a is not None]
    fresh = [a - t.created for a, t in zip(reflected, kept_ticks)]
    lat = [r.seconds for r in ok]
    committing = chain.committing_calls(t_start)
    ctx.e2e.update({
        "freshness_p50_s": quantile(fresh, 0.5),
        "freshness_p90_s": quantile(fresh, 0.9),
        "query_p50_s": quantile(lat, 0.5),
        "query_p90_s": quantile(lat, 0.9),
        "job_p50_s": quantile([c[3] for c in committing], 0.5),
    })
    print(f"# {ctx.workload}: {len(kept_ticks)} of {len(measured)} ticks kept, {len(ok)} measured and "
          f"{len(st.warm_reads)} warm-up reads ({failed_reads} failed), {pipe.restarts} streaming restarts",
          file=sys.stderr)

    scanned = [oracle.files_in_window(r) for r in ok if dash.reads_fact(r.name)]
    ctx.layer.update(layers.delta_write_metrics(
        [st.fact.path, st.dim.path, *[b.path for b in pipe.bronze.values()]], st.fact.path, t_start))
    ctx.layer.update({
        "sources.files_read": float(sum(1 for t in measured if chain.bronze_batch(t) is not None)),
        "streaming.restarts": float(pipe.restarts),
        "delta.files_live": statistics.fmean(n for _, n in scanned) if scanned else 0.0,
        "delta.files_scanned_per_query": statistics.fmean(s for s, _ in scanned) if scanned else 0.0,
        "delta.skip_share": 1 - sum(s for s, _ in scanned) / max(1, sum(n for _, n in scanned)),
        "delta.read_errors": float(failed_reads + extra_read_errors),
    })
    # time inside the fact hop's append, and inside the bronze sink
    commits = ctx.tracer.durations_ms("delta", "append") + [
        c[3] * 1000 for c in committing if c[0] == "bronze"]
    ctx.layer["delta.commit_ms_p50"] = quantile(commits, 0.5)
    ctx.layer["delta.commit_ms_p90"] = quantile(commits, 0.9)
    if ctx.listener is not None:
        ctx.layer["sources.read_lag_p90_s"] = quantile(
            read_lags(ctx.listener.snapshot(), ctx.roles, chain, measured), 0.9)
    return chain, kept_ticks, reflected
