"""Lakehouse benchmark: one workload, one seed, one JSON result line.

    python3 lakebench/run.py --workload <live_mixed|volatility_batch>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run builds its inputs from the seed in a
per-run work directory under ``lakebench/`` (Spark local dirs, the JVM's
temp dir, checkpoints and tables included) and deletes it at exit. It
drives the engine only through its public functions, checks every output
against an oracle that does not use the engine's code, and prints as the
last line of stdout
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Diagnostics go to stderr. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("live_mixed", "volatility_batch")
E2E_UNITS = {
    "setup_s": "s",
    "freshness_p50_s": "s",
    "freshness_p90_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "queries_per_s": "1/s",
    "ingest_ticks_per_s": "1/s",
    "job_p50_s": "s",
    "peak_rss_mb": "MB",
}


class Context:
    """What one run shares between the harness and its workload."""

    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scale = args.scale
        self.inject = args.inject
        self.work = work
        self.spark = None
        self.tracer = None
        self.probe = None
        self.listener = None
        self.startup_s = 0.0
        self.setup_s = 0.0
        self._lock = threading.Lock()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        # streaming query id -> (hop, coin), for the listener's reports
        self.roles: dict[str, tuple[str, str]] = {}
        self.window_start = 0.0  # epoch seconds
        self.marks: list[tuple[str, float]] = [("start", time.perf_counter())]

    def mark(self, phase: str) -> None:
        """Record the end of a phase, for the timing line on stderr."""
        self.marks.append((phase, time.perf_counter()))

    def begin_window(self) -> float:
        """Mark the start of the measured window; returns time.time()."""
        from tracing import cpu_times

        self.mark("warm-up")
        self._cpu0 = cpu_times()
        if self.probe is not None:
            self.probe.start()
        self.window_start = time.time()
        self.tracer.since = time.perf_counter()
        return self.window_start

    def end_window(self) -> None:
        """Mark the end of the measured work (before verification)."""
        from tracing import cpu_times, steal_fraction

        self.mark("window+drain")
        self.layer["host.steal_frac"] = steal_fraction(self._cpu0, cpu_times())
        if self.probe is not None:
            self.layer.update(self.probe.finish())

    def op(self, failed: bool = False, n: int = 1) -> None:
        with self._lock:
            self.attempted += n
            if failed:
                self.failed += n

    def problem(self, msg: str) -> None:
        print(f"# WRONG: {msg}", file=sys.stderr)
        with self._lock:
            self.problems.append(msg)


def keep_temp_in(work: str) -> dict[str, str]:
    """Point every scratch location of Python, Spark and the JVM into
    ``work``; returns the Spark conf that does the JVM's part."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    # the heap starts at its maximum, so the JVM's resident size does
    # not depend on when its heap happened to grow
    jvm_opts = f"-XX:-UsePerfData -Xms1g -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.executor.extraJavaOptions": jvm_opts,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a small heap keeps the run a good neighbour on a shared host
        "spark.driver.memory": "1g",
    }


def make_spark(conf: dict[str, str], app: str):
    from lakehouse_for_data_streaming_and_analysis_spark.session import get_spark

    spark = get_spark(app, master="local[4]", streaming=True, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it (it
    exits when its stdin closes; its Python workers follow it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def execute(ctx: Context) -> dict:
    import importlib

    from tracing import SparkProbe, Tracer, make_listener, peak_rss_mb, quantile

    ctx.tracer = Tracer(ctx.trace)
    t0 = time.perf_counter()
    ctx.spark = make_spark(keep_temp_in(ctx.work), f"lakebench_{ctx.workload}")
    ctx.startup_s = time.perf_counter() - t0
    try:
        if ctx.trace:
            ctx.probe = SparkProbe(ctx.spark)
            ctx.listener = make_listener()
            ctx.spark.streams.addListener(ctx.listener)
        jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
        module = importlib.import_module(ctx.workload)
        ctx.mark("startup")
        t0 = time.perf_counter()
        state = module.setup(ctx, os.path.join(ctx.work, "run"))
        ctx.setup_s = time.perf_counter() - t0
        ctx.mark("setup")
        module.run(ctx, state)
        ctx.mark("verify")
        ctx.e2e["setup_s"] = ctx.startup_s + ctx.setup_s
        py_mb, jvm_mb = peak_rss_mb(jvm_pid)
        ctx.e2e["peak_rss_mb"] = py_mb + jvm_mb
        print(f"# peak rss MB: python {py_mb:.0f} jvm {jvm_mb:.0f}", file=sys.stderr)
    finally:
        stop_spark(ctx.spark)
    ctx.mark("stop")
    print("# phases s: " + " ".join(
        f"{name} {t - prev:.1f}" for (_, prev), (name, t) in zip(ctx.marks, ctx.marks[1:])), file=sys.stderr)
    print(
        f"# {ctx.workload} seed {ctx.seed}: startup {ctx.startup_s:.2f}s setup {ctx.setup_s:.2f}s"
        f"  attempted {ctx.attempted} failed {ctx.failed}",
        file=sys.stderr,
    )
    print("# end-to-end " + json.dumps({k: round(v, 4) for k, v in ctx.e2e.items()}), file=sys.stderr)
    print(f"# host.steal_frac {ctx.layer.get('host.steal_frac', 0.0):.4f}  gen.late_p90_s "
          f"{quantile(ctx.tracer.samples.get('gen.late', []), 0.9):.4f}", file=sys.stderr)
    if ctx.trace:
        import layers

        metrics, units = layers.per_layer(ctx), layers.UNITS
    else:
        metrics, units = ctx.e2e, E2E_UNITS
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"workload did not measure {sorted(missing)}")
    return {
        "correct": not ctx.problems,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (the self-test runs small)")
    ap.add_argument(
        "--inject", choices=("wrong_chart", "dup_fact", "dash_error"), default=None,
        help="self-test only: corrupt one chart answer, land one fact micro-batch twice, "
        "or raise in one dashboard call",
    )
    args = ap.parse_args()
    sys.path.insert(0, REPO)
    # fails here, before any output, where the engine package is absent
    import lakehouse_for_data_streaming_and_analysis_spark.delta  # noqa: F401

    work = os.path.join(HERE, f".work-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    try:
        result = execute(Context(args, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
