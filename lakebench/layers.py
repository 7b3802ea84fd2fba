"""Per-layer metrics of a traced run, with 0 where a workload does not
touch the layer. Each should move the end-to-end metric named in
README.md's map on the workload named there."""

from __future__ import annotations

from datetime import datetime

from tracing import LAYERS, quantile

UNITS = {
    "sources.read_lag_p90_s": "s",
    "sources.files_read": "count",
    "streaming.bronze.batches": "count",
    "streaming.bronze.batch_ms_p50": "ms",
    "streaming.bronze.batch_ms_p90": "ms",
    "streaming.bronze.rows_in": "count",
    "streaming.bronze.state_rows_max": "count",
    "streaming.fact.batches": "count",
    "streaming.fact.batch_ms_p50": "ms",
    "streaming.fact.batch_ms_p90": "ms",
    "streaming.fact.rows_out": "count",
    "streaming.restarts": "count",
    "delta.commits": "count",
    "delta.checkpoints": "count",
    "delta.commit_ms_p50": "ms",
    "delta.commit_ms_p90": "ms",
    "delta.bytes_per_row": "B/row",
    "delta.log_bytes": "B",
    "delta.read_ms_p50": "ms",
    "delta.files_live": "count",
    "delta.files_scanned_per_query": "count",
    "delta.skip_share": "share",
    "delta.read_errors": "count",
    "delta.optimize_ms": "ms",
    "delta.optimize_refused": "count",
    "delta.optimize_committed_share": "share",
    "dims.scd2_ms": "ms",
    "dims.rows_expired": "count",
    "dims.rows_inserted": "count",
    "semantic.build_ms_p50": "ms",
    "semantic.collect_ms_p50": "ms",
    "analytics.adf_ms": "ms",
    "analytics.arima_ms": "ms",
    "analytics.garch_ms": "ms",
    "analytics.walk_forward_ms": "ms",
    "analytics.single_thread_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "host.steal_frac": "share",
    "gen.late_p90_s": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
}


def streaming_progress(
    reports: list[dict], roles: dict[str, tuple[str, str]], since: float
) -> dict[str, float]:
    """Bronze and fact micro-batch counts, durations and rows from the
    StreamingQueryListener's progress reports (no-data batches are
    counted but left out of the duration percentiles), plus the
    engine's own time per trigger outside the foreachBatch sink. Only
    triggers that started at or after ``since`` (epoch seconds) count."""
    reports = [r for r in reports if _epoch(r["timestamp"]) >= since]
    out: dict[str, float] = {}
    engine_s = 0.0
    for hop in ("bronze", "fact"):
        mine = [r for r in reports if roles.get(r["id"], ("",))[0] == hop]
        busy = [r for r in mine if r.get("numInputRows", 0) > 0]
        ms = [r["durationMs"].get("triggerExecution", 0) for r in busy]
        out[f"streaming.{hop}.batches"] = float(len(mine))
        out[f"streaming.{hop}.batch_ms_p50"] = quantile(ms, 0.5)
        out[f"streaming.{hop}.batch_ms_p90"] = quantile(ms, 0.9)
        rows = float(sum(r.get("numInputRows", 0) for r in mine))
        if hop == "bronze":
            out["streaming.bronze.rows_in"] = rows
            out["streaming.bronze.state_rows_max"] = float(max(
                (op.get("numRowsTotal", 0) for r in mine for op in r.get("stateOperators", [])),
                default=0,
            ))
        else:
            out["streaming.fact.rows_out"] = rows
        for r in mine:
            d = r["durationMs"]
            engine_s += max(0, d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1000.0
    out["engine_s"] = engine_s
    return out


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def per_layer(ctx) -> dict[str, float]:
    tr = ctx.tracer
    m = {k: 0.0 for k in UNITS}
    m.update({k: v for k, v in ctx.layer.items() if k in UNITS})
    engine_s = 0.0
    if ctx.listener is not None and ctx.roles:
        prog = streaming_progress(ctx.listener.snapshot(), ctx.roles, ctx.window_start)
        engine_s = prog.pop("engine_s")
        m.update(prog)
    m["delta.read_ms_p50"] = quantile(tr.durations_ms("delta", "read"), 0.5)
    m["semantic.build_ms_p50"] = quantile(tr.durations_ms("semantic", "build"), 0.5)
    m["semantic.collect_ms_p50"] = quantile(tr.durations_ms("semantic", "collect"), 0.5)
    m["gen.late_p90_s"] = quantile(tr.samples.get("gen.late", []), 0.9)
    for layer, s in tr.self_seconds().items():
        m[f"self.{layer}_s"] = s
    m["self.streaming_s"] += engine_s
    return m


def delta_write_metrics(table_paths: list[str], fact_path: str, since: float) -> dict[str, float]:
    """Write-side log metrics over the tables a workload wrote: commits
    and checkpoints made since ``since`` (epoch seconds), log size, and
    the fact table's data bytes per live row. Read from the log files
    with the benchmark's own reader."""
    import os

    from deltalog import LogReader
    from tracing import dir_bytes

    commits = checkpoints = log_bytes = 0
    for path in table_paths:
        log = LogReader(path)
        commits += sum(1 for v in log.versions if log.commit_ms.get(v, 0) / 1000.0 >= since)
        d = os.path.join(path, "_delta_log")
        checkpoints += sum(
            1 for name in os.listdir(d)
            if ".checkpoint" in name and os.path.getmtime(os.path.join(d, name)) >= since
        )
        log_bytes += dir_bytes(d)
    fact = LogReader(fact_path)
    rows = fact.num_records()
    data = sum(a.get("size", 0) for a in fact.live().values())
    return {
        "delta.commits": float(commits),
        "delta.checkpoints": float(checkpoints),
        "delta.log_bytes": float(log_bytes),
        "delta.bytes_per_row": data / rows if rows else 0.0,
    }
