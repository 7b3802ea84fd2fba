"""The two-hop tick pipeline, its supervisor, and its oracles.

Per coin, as in the reference (one Kafka topic and one bronze stream per
coin): ``sources.streams.file_replay`` -> ``streaming.bronze.
start_bronze_query`` (1-minute window, 1-minute watermark, ``max_by`` on
the tick sequence) -> bronze ``DeltaishTable.streaming_sink`` ->
``DeltaishTable.as_stream`` -> ``streaming.fact.enrich_fact`` -> one
shared fact table's ``append``. Both hops run on a processing-time
trigger and commit with a ``txn`` id, so a query restarted from its
checkpoint lands every micro-batch exactly once.

The oracles read tables with ``deltalog.LogReader`` and Spark's file
source logs, never through the engine.
"""

from __future__ import annotations

import bisect
import math
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_for_data_streaming_and_analysis_spark.delta import DeltaishTable
from lakehouse_for_data_streaming_and_analysis_spark.sources.streams import file_replay
from lakehouse_for_data_streaming_and_analysis_spark.streaming.bronze import start_bronze_query
from lakehouse_for_data_streaming_and_analysis_spark.streaming.fact import enrich_fact

from deltalog import LogReader, source_batches
from tracing import Tracer

# (stream name = price column, coin_id, symbol), as the reference's feeds
COINS = (("bitcoin", 1, "BTC"), ("ethereum", 2, "ETH"))
WINDOW_US = 60_000_000
WATERMARK_US = 60_000_000
EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
FACT_SCHEMA = (
    "coin_id int, date_id int, time_id int, price double, market_cap double, "
    "change_percent_last_day double, average_1minute double, created_at string"
)
MAX_RESTARTS = 50


def tick_schema(coin: str) -> T.StructType:
    return T.StructType([
        T.StructField(coin, T.DoubleType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("created", T.DoubleType()),
    ])


def date_time_ids(ts_us: int) -> tuple[int, int]:
    d = EPOCH + timedelta(microseconds=ts_us)
    return d.year * 10000 + d.month * 100 + d.day, d.hour * 10000 + d.minute * 100 + d.second


def close(a: float | None, b: float | None) -> bool:
    """Doubles computed by two engines in different orders agree to
    this tolerance (documented in README.md)."""
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=2e-6)


@dataclass
class Tick:
    seq: int
    coin: str
    price: float
    ts_us: int  # event time
    kind: str  # warmup | on_time | late | beyond
    created: float = 0.0  # creation stamp carried in the file
    landed: float = 0.0  # when the file became visible to the source
    path: str = ""


class TickSource:
    """Writes one parquet file per tick into the coin's source directory:
    written under a staging directory first, then renamed in, so the
    file source never lists a partial file."""

    def __init__(self, root: str):
        self.staging = os.path.join(root, "staging")
        self.dirs = {c: os.path.join(root, "src", c) for c, _, _ in COINS}
        for d in (self.staging, *self.dirs.values()):
            os.makedirs(d, exist_ok=True)
        self.ticks: list[Tick] = []
        self._pending: list[tuple[Tick, str]] = []

    def stage(self, tick: Tick) -> None:
        tick.created = time.time()
        tick.path = os.path.join(self.dirs[tick.coin], f"{tick.seq:09d}.parquet")
        tmp = os.path.join(self.staging, f"{tick.seq:09d}.parquet")
        pq.write_table(
            pa.table({
                tick.coin: pa.array([tick.price], pa.float64()),
                "timestamp": pa.array([tick.ts_us], pa.timestamp("us", tz="UTC")),
                "seq": pa.array([tick.seq], pa.int64()),
                "created": pa.array([tick.created], pa.float64()),
            }),
            tmp,
        )
        self._pending.append((tick, tmp))

    def land(self) -> None:
        """Make every staged tick visible, in sequence order."""
        for tick, tmp in self._pending:
            os.replace(tmp, tick.path)
            tick.landed = time.time()
            self.ticks.append(tick)
        self._pending.clear()

    def write(self, tick: Tick) -> None:
        self.stage(tick)
        self.land()


class Pipeline:
    """Starts, supervises and stops the four streaming queries."""

    def __init__(self, spark, root: str, tracer: Tracer, fact: DeltaishTable,
                 dim_rows: dict[str, tuple[int, float]], last_price: dict[str, float],
                 trigger: str, files_per_trigger: int, probe=None, inject_dup: bool = False):
        self.spark = spark
        self.root = root
        self.tracer = tracer
        self.fact = fact
        self.dim_rows = dim_rows  # coin -> (coin_id, supply), frozen at start (T9)
        self.last_price = last_price
        self.trigger = trigger
        self.files_per_trigger = files_per_trigger
        self.probe = probe
        self.inject_dup = inject_dup
        self.source = TickSource(root)
        self.bronze: dict[str, DeltaishTable] = {}
        self.queries: dict[tuple[str, str], object] = {}
        self.restarts = 0
        # (hop, coin, epoch start, seconds) of every foreachBatch call
        self.sink_calls: list[tuple[str, str, float, float]] = []
        self.dup_done = False

    def ckpt(self, hop: str, coin: str) -> str:
        return os.path.join(self.root, "ckpt", f"{hop}_{coin}")

    def create_bronze(self) -> None:
        for coin, _, _ in COINS:
            empty = self.spark.createDataFrame(
                [], f"`{coin}` double, timestamp timestamp, average_1minute double"
            )
            self.bronze[coin] = DeltaishTable.create(
                self.spark, os.path.join(self.root, "tables", f"bronze_{coin}"), empty
            )

    # -------------------------------------------------------------- sinks

    def _timed(self, hop: str, coin: str, land):
        def sink(batch_df, batch_id):
            t0, p0 = time.time(), time.perf_counter()
            try:
                land(batch_df, batch_id)
            finally:
                self.sink_calls.append((hop, coin, t0, time.perf_counter() - p0))

        return sink

    def _bronze_sink(self, coin: str):
        inner = self.bronze[coin].streaming_sink(txn_app_id=f"bronze_{coin}")
        tracer = self.tracer

        def land(batch_df, batch_id):
            with tracer.span("streaming", "bronze.batch"):
                with tracer.span("delta", "sink"):
                    inner(batch_df, batch_id)

        return self._timed("bronze", coin, land)

    def _fact_sink(self, coin: str):
        coin_id, supply = self.dim_rows[coin]
        dim = self.spark.createDataFrame(
            [(coin_id, coin, supply)], "coin_id int, name string, supply double"
        )
        app = f"fact_{coin}"
        tracer, fact = self.tracer, self.fact

        def land(batch_df, batch_id):
            with tracer.span("streaming", "fact.batch"):
                if batch_df.isEmpty():
                    return
                with tracer.span("delta", "txn_check"):
                    if batch_id <= fact.last_txn_version(app):
                        return
                enriched = enrich_fact(
                    batch_df.withColumn("coin", F.lit(coin)), dim, coin,
                    F.col("coin") == F.col("name"), self.last_price[coin],
                )
                with tracer.span("delta", "append"):
                    fact.append(enriched, txn_app_id=app, txn_version=batch_id)
                if self.inject_dup and not self.dup_done:
                    # self-test: land this micro-batch a second time
                    self.dup_done = True
                    fact.append(enriched)

        return self._timed("fact", coin, land)

    # ----------------------------------------------------------- queries

    def _start(self, hop: str, coin: str):
        trig = {"processingTime": self.trigger}
        if hop == "bronze":
            with self.tracer.span("sources", "file_replay"):
                ticks = file_replay(
                    self.spark, self.source.dirs[coin], tick_schema(coin), self.files_per_trigger
                )
            with self.tracer.span("streaming", "start_bronze_query"):
                q = start_bronze_query(
                    ticks, coin, self._bronze_sink(coin), self.ckpt(hop, coin),
                    order_col="seq", trigger=trig,
                )
        else:
            with self.tracer.span("streaming", "start_fact_query"):
                with self.tracer.span("delta", "as_stream"):
                    stream = self.bronze[coin].as_stream()
                q = (
                    stream.writeStream.foreachBatch(self._fact_sink(coin))
                    .option("checkpointLocation", self.ckpt(hop, coin))
                    .trigger(**trig)
                    .start()
                )
        if self.probe is not None:
            self.probe.add_group(str(q.runId))
        return q

    def start(self) -> None:
        for coin, _, _ in COINS:
            for hop in ("bronze", "fact"):
                self.queries[(hop, coin)] = self._start(hop, coin)

    def query_ids(self) -> dict[str, tuple[str, str]]:
        return {str(q.id): role for role, q in self.queries.items()}

    def supervise(self) -> None:
        """Restart, from its checkpoint, every query an engine error
        stopped; each restart is one failed operation."""
        for role, q in list(self.queries.items()):
            if q.isActive:
                continue
            exc = q.exception()
            if exc is None:
                continue
            first = str(exc).strip().splitlines()
            cause = next((ln for ln in reversed(first) if "Error" in ln or "Exception" in ln), first[0] if first else "")
            print(f"# engine error, restarting {role[0]}_{role[1]}: {type(exc).__name__}: {cause[:300]}",
                  file=sys.stderr)
            self.restarts += 1
            if self.restarts > MAX_RESTARTS:
                raise RuntimeError(f"more than {MAX_RESTARTS} streaming restarts")
            self.queries[role] = self._start(*role)

    def stop(self) -> None:
        for q in self.queries.values():
            try:
                q.stop()
            except Exception as e:  # noqa: BLE001 - a dead query may raise on stop
                print(f"# stopping a query: {type(e).__name__}: {e}", file=sys.stderr)
        for q in self.queries.values():
            q.awaitTermination(30)

    # ------------------------------------------------------------ chain

    def chain_now(self) -> "Chain":
        return Chain(self, LogReader(self.fact.path))

    def wait_drained(self, ticks: list[Tick], timeout: float) -> bool:
        """Poll until every tick file has flowed through both hops (or
        was dropped by the bronze watermark), restarting dead queries."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            self.supervise()
            if self.chain_now().drained(ticks):
                return True
            time.sleep(0.25)
        return False


class Chain:
    """Follows each tick through the checkpoints and logs: tick file ->
    bronze micro-batch (bronze source log) -> bronze commit (its txn)
    -> bronze data file -> fact micro-batch (fact source log) -> fact
    commit (its txn) and that commit's timestamp."""

    def __init__(self, pipe: Pipeline, fact_log: LogReader):
        self.pipe = pipe
        self.fact_log = fact_log
        self.tick_batch: dict[str, int] = {}
        self.bronze_logs: dict[str, LogReader] = {}
        self.bronze_file_fact_batch: dict[str, dict[str, int]] = {}
        self.fact_txn: dict[str, dict[int, int]] = {}
        self.bronze_batch_files: dict[str, dict[int, list[str]]] = {}
        for coin, _, _ in COINS:
            self.tick_batch.update(source_batches(pipe.ckpt("bronze", coin)))
            blog = LogReader(pipe.bronze[coin].path)
            self.bronze_logs[coin] = blog
            files: dict[int, list[str]] = {}
            for tv, v in blog.txn_versions(f"bronze_{coin}").items():
                files[tv] = [os.path.normpath(os.path.join(blog.path, a["path"])) for a in blog.adds[v]]
            self.bronze_batch_files[coin] = files
            self.bronze_file_fact_batch[coin] = source_batches(pipe.ckpt("fact", coin))
            self.fact_txn[coin] = fact_log.txn_versions(f"fact_{coin}")

    def bronze_batch(self, tick: Tick) -> int | None:
        return self.tick_batch.get(tick.path)

    def fact_version(self, tick: Tick) -> int | None:
        """Fact table version of the first commit reflecting ``tick``
        (None if no bronze output for its batch has reached the fact)."""
        b = self.tick_batch.get(tick.path)
        if b is None:
            return None
        versions = []
        for f in self.bronze_batch_files[tick.coin].get(b, ()):
            fb = self.bronze_file_fact_batch[tick.coin].get(f)
            if fb is not None and fb in self.fact_txn[tick.coin]:
                versions.append(self.fact_txn[tick.coin][fb])
        return min(versions) if versions else None

    def committing_calls(self, since: float) -> list[tuple[str, str, float, float]]:
        """The foreachBatch calls since ``since`` during which their hop's
        table got a commit from them (a call that found an empty batch,
        or a batch already committed, is left out)."""
        stamps = {}
        for coin, _, _ in COINS:
            blog = self.bronze_logs[coin]
            stamps[("bronze", coin)] = sorted(blog.commit_ms[v] for v in blog.txn_versions(f"bronze_{coin}").values())
            stamps[("fact", coin)] = sorted(self.fact_log.commit_ms[v] for v in self.fact_txn[coin].values())
        out = []
        for call in self.pipe.sink_calls:
            hop, coin, t0, dur = call
            ms = stamps[(hop, coin)]
            k = bisect.bisect_left(ms, t0 * 1000 - 1)
            if t0 >= since and k < len(ms) and ms[k] <= (t0 + dur) * 1000 + 1:
                out.append(call)
        return out

    def reflected_at(self, tick: Tick) -> float | None:
        v = self.fact_version(tick)
        return None if v is None else self.fact_log.commit_ms[v] / 1000.0

    def drained(self, ticks: list[Tick]) -> bool:
        """Every tick file was read by a bronze micro-batch that finished,
        and every bronze data file was read by a fact micro-batch that
        finished (Spark writes ``commits/<batch>`` after the sink)."""
        for coin, _, _ in COINS:
            batches = set()
            for t in ticks:
                if t.coin == coin:
                    b = self.tick_batch.get(t.path)
                    if b is None:
                        return False
                    batches.add(b)
            if not all(_finished(self.pipe.ckpt("bronze", coin), b) for b in batches):
                return False
            for files in self.bronze_batch_files[coin].values():
                for f in files:
                    fb = self.bronze_file_fact_batch[coin].get(f)
                    if fb is None or not _finished(self.pipe.ckpt("fact", coin), fb):
                        return False
        return True


def _finished(checkpoint_dir: str, batch_id: int) -> bool:
    return os.path.exists(os.path.join(checkpoint_dir, "commits", str(batch_id)))


# ---------------------------------------------------------------- oracles

def expected_bronze(ticks: list[Tick], chain: Chain) -> tuple[list[tuple], set[int]]:
    """pandas-free recomputation of one coin's bronze output: per
    micro-batch, drop ticks whose window ended at or before the
    watermark (max event time of earlier batches minus one minute),
    then emit every window the batch touched with avg(price) and the
    price and time of its highest-sequence tick. Returns the rows and
    the sequence numbers of the ticks kept."""
    by_batch: dict[int, list[Tick]] = defaultdict(list)
    for t in ticks:
        by_batch[chain.bronze_batch(t)].append(t)
    windows: dict[int, list[Tick]] = defaultdict(list)
    rows, kept = [], set()
    max_ev_ms = None
    for b in sorted(by_batch):
        wm_us = (max_ev_ms * 1000 - WATERMARK_US) if max_ev_ms is not None else 0
        touched = set()
        for t in by_batch[b]:
            w = t.ts_us - t.ts_us % WINDOW_US
            if w + WINDOW_US <= wm_us:
                continue
            windows[w].append(t)
            touched.add(w)
            kept.add(t.seq)
        for w in sorted(touched):
            last = max(windows[w], key=lambda x: x.seq)
            avg = math.fsum(x.price for x in windows[w]) / len(windows[w])
            rows.append((last.ts_us, last.price, avg))
        ev = max(t.ts_us for t in by_batch[b]) // 1000
        max_ev_ms = ev if max_ev_ms is None else max(max_ev_ms, ev)
    return rows, kept


def compare_rows(name: str, want: list[tuple], got: list[tuple], exact: int) -> list[str]:
    """Multiset comparison: the first ``exact`` fields must be equal,
    the rest within ``close``. A lost or duplicated row is a length or
    key mismatch."""
    problems = []
    # the whole row orders the pairs: one window can be emitted twice with
    # the same last tick, if a lower-sequence tick reached a later batch
    want, got = sorted(want), sorted(got)
    if len(want) != len(got):
        problems.append(f"{name}: {len(got)} rows, oracle expects {len(want)}")
        return problems
    for w, g in zip(want, got):
        if w[:exact] != g[:exact] or not all(close(a, b) for a, b in zip(w[exact:], g[exact:])):
            problems.append(f"{name}: row {g} differs from oracle {w}")
            break
    return problems


def verify_pipeline(pipe: Pipeline, fact_log: LogReader, history: list[tuple]) -> tuple[list[str], set[int]]:
    """Bronze rows per coin and all fact rows against the recomputation;
    returns the problems found and the kept tick sequence numbers."""
    chain = Chain(pipe, fact_log)
    problems: list[str] = []
    kept_all: set[int] = set()
    want_fact = list(history)
    for coin, coin_id, _ in COINS:
        ticks = [t for t in pipe.source.ticks if t.coin == coin]
        unread = [t.seq for t in ticks if chain.bronze_batch(t) is None]
        if unread:
            problems.append(f"bronze_{coin}: ticks {unread[:10]} were never read")
            ticks = [t for t in ticks if chain.bronze_batch(t) is not None]
        want, kept = expected_bronze(ticks, chain)
        kept_all |= kept
        tbl = chain.bronze_logs[coin].read()
        got = []
        if tbl.num_rows:
            d = tbl.to_pydict()
            ts = tbl.column("timestamp").cast(pa.int64()).to_pylist()
            got = list(zip(ts, d[coin], d["average_1minute"]))
        problems += compare_rows(f"bronze_{coin}", want, got, exact=2)
        _, supply = pipe.dim_rows[coin]
        last = pipe.last_price[coin]
        for ts_us, price, avg in want:
            did, tid = date_time_ids(ts_us)
            want_fact.append((coin_id, did, tid, price, price * supply, (price - last) / last, avg))
    d = fact_log.read().to_pydict()
    got_fact = list(zip(d["coin_id"], d["date_id"], d["time_id"], d["price"], d["market_cap"],
                        d["change_percent_last_day"], d["average_1minute"]))
    problems += compare_rows("fact", want_fact, got_fact, exact=4)
    return problems, kept_all


def read_lags(reports: list[dict], roles: dict[str, tuple[str, str]], chain: Chain,
              ticks: list[Tick]) -> list[float]:
    """Per tick: from its file landing to the start of the bronze
    micro-batch that read it (trigger start times from the listener)."""
    starts: dict[tuple[str, int], float] = {}
    for r in reports:
        key = (r["id"], int(r["batchId"]))
        t = datetime.fromisoformat(r["timestamp"].replace("Z", "+00:00")).timestamp()
        starts[key] = min(t, starts.get(key, t))
    qid = {role: i for i, role in roles.items()}
    out = []
    for t in ticks:
        b = chain.bronze_batch(t)
        s = starts.get((qid.get(("bronze", t.coin), ""), b)) if b is not None else None
        if s is not None:
            out.append(max(0.0, s - t.landed))
    return out
