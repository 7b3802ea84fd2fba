"""volatility_batch: the offline model fits, bound by Python workers and
Arrow. No Delta writes and no streaming: the control workload where a
``streaming`` or ``delta`` change should show no change.

Input: a seeded daily OHLCV history with GARCH(1,1)-shaped returns for
N_COINS coins. One job: ``sources.batch.scan`` -> log returns ->
``analytics.timeseries`` ADF -> auto-ARIMA order -> GARCH(1,1) ->
walk-forward evaluation, collecting each result. Jobs repeat until the
window is spent; one unmeasured job first starts the Python workers.

On this workload the read-side metrics describe the job's own reads:
each of the four collects is a query, and freshness is, per result row,
the time from the job's start until the collect that returned it.
"""

from __future__ import annotations

import math
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from lakehouse_for_data_streaming_and_analysis_spark.analytics import timeseries as ts
from lakehouse_for_data_streaming_and_analysis_spark.sources.batch import scan

from pipeline import close
from tracing import quantile

N_COINS = 24
# the reference's GARCH fit: 2813 training plus 757 test daily rows (Garch_v1.ipynb)
N_DAYS = 2813 + 757
N_TEST = 24
AR_P = 2
STAGES = ("adf", "arima", "garch", "walk_forward")


def setup(ctx, root: str) -> str:
    """Write the seeded history as parquet (four files); returns its path."""
    rng = np.random.default_rng(ctx.seed)
    n_days = max(80, int(N_DAYS * ctx.scale))
    day0 = int(np.datetime64("2023-01-01", "D").astype(int))
    cols = {k: [] for k in ("symbol", "day", "open", "high", "low", "close", "volume")}
    for i in range(N_COINS):
        omega, alpha = rng.uniform(1e-6, 2e-5), rng.uniform(0.03, 0.15)
        beta = rng.uniform(0.75, 0.95 - alpha)
        h, close_ = omega / (1 - alpha - beta), rng.uniform(1, 1000)
        r_prev = 0.0
        for d in range(n_days):
            h = omega + alpha * r_prev**2 + beta * h
            r_prev = math.sqrt(h) * rng.standard_normal()
            open_ = close_
            close_ = open_ * math.exp(r_prev)
            spread = abs(rng.standard_normal()) * math.sqrt(h) * open_
            cols["symbol"].append(f"C{i:02d}")
            cols["day"].append(day0 + d)
            cols["open"].append(open_)
            cols["high"].append(max(open_, close_) + spread)
            cols["low"].append(min(open_, close_) - spread)
            cols["close"].append(close_)
            cols["volume"].append(float(rng.lognormal(12, 1)))
    table = pa.table({**cols, "day": pa.array(cols["day"], pa.int32()).cast(pa.date32())})
    path = os.path.join(root, "ohlcv")
    os.makedirs(path)
    step = math.ceil(table.num_rows / 4)
    for k in range(4):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k}.parquet"))
    return path


def returns(ctx, path: str):
    with ctx.tracer.span("sources", "scan"):
        df = scan(ctx.spark, path)
    w = Window.partitionBy("symbol").orderBy("day")
    return (
        df.select("symbol", "day", F.log("close").alias("lp"),
                  F.log(F.col("close") / F.lag("close").over(w)).alias("r"))
        .filter(F.col("r").isNotNull())
    )


def job(ctx, path: str) -> tuple[dict[str, list], dict[str, float], list[float]]:
    """One full job; returns rows per stage, seconds per stage, and the
    job-relative time at which each result row was collected."""
    rets = returns(ctx, path)
    plans = {
        "adf": lambda: ts.adf_by_group(rets, ["symbol"], "day", "lp", max_lag=1),
        "arima": lambda: ts.arima_order_by_group(rets, ["symbol"], "day", "lp"),
        "garch": lambda: ts.garch_by_group(rets, ["symbol"], "day", "r"),
        "walk_forward": lambda: ts.walk_forward_eval_by_group(
            rets, ["symbol"], "day", "r", p=AR_P, n_test=N_TEST),
    }
    rows, secs, ready = {}, {}, []
    t_job = time.perf_counter()
    for stage in STAGES:
        t0 = time.perf_counter()
        with ctx.tracer.span("analytics", stage):
            rows[stage] = [tuple(r) for r in plans[stage]().collect()]
        t1 = time.perf_counter()
        secs[stage] = t1 - t0
        ready += [t1 - t_job] * len(rows[stage])
    return rows, secs, ready


def adf_t(y: np.ndarray) -> float:
    """Independent ADF t-statistic (constant, one lagged difference):
    least squares of dy_t on [1, y_{t-1}, dy_{t-1}], t = b / se(b)."""
    dy = np.diff(y)
    x = np.column_stack([np.ones(len(dy) - 1), y[1:-1], dy[:-1]])
    target = dy[1:]
    beta = np.linalg.solve(x.T @ x, x.T @ target)
    resid = target - x @ beta
    s2 = resid @ resid / (len(target) - 3)
    return float(beta[1] / math.sqrt(s2 * np.linalg.inv(x.T @ x)[1, 1]))


def expected(series: dict[str, tuple[np.ndarray, np.ndarray]]) -> dict[str, dict[str, tuple]]:
    """The same per-coin numeric cores, run in the driver."""
    out = {stage: {} for stage in STAGES}
    for sym, (lp, r) in series.items():
        t, nobs = ts.adf_stat(lp, 1)
        out["adf"][sym] = (sym, nobs, round(t, 6), 1, bool(t < ts.ADF_CRIT_CONST["5%"]))
        p, d, q, aic, s2 = ts.arima_order_search(lp)
        out["arima"][sym] = (sym, len(lp), p, d, q,
                             round(aic, 4) if math.isfinite(aic) else None,
                             round(s2, 8) if math.isfinite(s2) else None)
        om, a, b, ll, nxt = ts.garch11_fit(r)
        out["garch"][sym] = (sym, len(r), round(om, 8), round(a, 4), round(b, 4), round(ll, 4),
                             round(nxt, 6))
        errs, pct = [], []
        for k in range(max(AR_P + 2, len(r) - N_TEST), len(r)):
            fc, _, _ = ts.ar_fit_forecast(r[:k], AR_P, 1)
            errs.append(r[k] - fc[0])
            if r[k] != 0:
                pct.append(abs((r[k] - fc[0]) / r[k]))
        e = np.asarray(errs)
        out["walk_forward"][sym] = (sym, len(errs), round(float(np.mean(np.abs(e))), 6),
                                    round(float(np.sqrt(np.mean(e**2))), 6),
                                    round(float(np.mean(pct)), 6) if pct else None)
    return out


def check(ctx, rows: dict[str, list], want: dict[str, dict[str, tuple]], independent: dict[str, float]) -> None:
    for stage in STAGES:
        got = {r[0]: r for r in rows[stage]}
        if sorted(got) != sorted(want[stage]):
            ctx.problem(f"{stage}: symbols {sorted(got)} differ from the input's")
            continue
        for sym, w in want[stage].items():
            g = got[sym]
            if len(g) != len(w) or not all(
                close(a, b) if isinstance(a, float) or isinstance(b, float) else a == b
                for a, b in zip(g, w)
            ):
                ctx.problem(f"{stage} {sym}: {g} differs from the driver's {w}")
                break
    for sym, t in independent.items():
        g = next(r for r in rows["adf"] if r[0] == sym)[2]
        if not math.isclose(g, t, rel_tol=1e-6, abs_tol=1e-6):
            ctx.problem(f"adf {sym}: t = {g}, independent least squares gives {t}")
            break


def run(ctx, path: str) -> None:
    job(ctx, path)  # starts the Python workers; not measured
    t_start = ctx.begin_window()
    jobs, stage_s, ready = [], {s: [] for s in STAGES}, []
    first_rows = None
    while time.time() < t_start + ctx.seconds:
        t0 = time.perf_counter()
        rows, secs, when = job(ctx, path)
        jobs.append(time.perf_counter() - t0)
        ctx.op(n=len(STAGES))
        for s in STAGES:
            stage_s[s].append(secs[s])
            if rows[s] != (first_rows or rows)[s]:
                ctx.problem(f"{s}: a repeated job returned different rows")
        first_rows = first_rows or rows
        ready += when
    ctx.end_window()

    pdf = returns(ctx, path).toPandas().sort_values(["symbol", "day"])
    series = {sym: (g["lp"].to_numpy(float), g["r"].to_numpy(float)) for sym, g in pdf.groupby("symbol")}
    t0 = time.perf_counter()
    want = expected(series)
    single_s = time.perf_counter() - t0
    check(ctx, first_rows, want, {sym: adf_t(lp) for sym, (lp, _) in series.items()})

    n_rows = sum(len(lp) for lp, _ in series.values()) + len(series)  # bars scanned per job
    lat = [s for v in stage_s.values() for s in v]
    ctx.e2e.update({
        "freshness_p50_s": quantile(ready, 0.5),
        "freshness_p90_s": quantile(ready, 0.9),
        "query_p50_s": quantile(lat, 0.5),
        "query_p90_s": quantile(lat, 0.9),
        "queries_per_s": len(lat) / sum(jobs),
        "ingest_ticks_per_s": n_rows * len(jobs) / sum(jobs),
        "job_p50_s": quantile(jobs, 0.5),
    })
    ctx.layer.update({f"analytics.{s}_ms": quantile(v, 0.5) * 1000 for s, v in stage_s.items()})
    ctx.layer["analytics.single_thread_s"] = single_s
    print(f"# volatility: {len(jobs)} jobs, s " + " ".join(f"{j:.2f}" for j in jobs)
          + f"; driver single-thread fits {single_s:.2f}s", file=sys.stderr)
