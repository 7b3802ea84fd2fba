"""Dashboard reads over the live star schema, and their DuckDB oracle.

The chart specs are the reference dashboard's slices from
``queries.charts.SLICES``, renamed from the fixture stand-in columns
(``events``: event_type/ts/value) to the live star view (coin name,
tick time, price). Every read goes through ``DeltaishTable.read_pruned``
over a day window and ``ChartQuery.to_df``; one more op is a plain
fact ⋈ current-dimcoin aggregate per coin and day.

The oracle runs the same question in DuckDB, with SQL this module writes
from the spec's fields, over the parquet files of snapshots that
``deltalog.LogReader`` replays. A read passes if it matches the answer
at any pair of fact/dimcoin versions that bracket it.
"""

from __future__ import annotations

import dataclasses
import sys
import time
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import functions as F

from lakehouse_for_data_streaming_and_analysis_spark.queries.charts import SLICES

from deltalog import LogReader, latest_version
from pipeline import close
from tracing import Tracer

_RENAME = {"event_type": "name", "ts": "ts", "value": "price"}
# the fixture's coin stand-ins, as the live star schema names them
_VALUE = {"click": "ethereum", "C2": "ETH"}


def live_slices():
    """(name, spec, dataset) for each dashboard slice, on live columns."""
    out = []
    for name, spec, dataset in SLICES:
        if dataset == "events":
            spec = dataclasses.replace(
                spec,
                metrics=tuple(
                    dataclasses.replace(m, column=_RENAME.get(m.column, m.column))
                    for m in spec.metrics
                ),
                groupby=tuple(_RENAME.get(g, g) for g in spec.groupby),
                filters=tuple((_RENAME.get(c, c), _VALUE.get(v, v)) for c, v in spec.filters),
                time_col=_RENAME.get(spec.time_col, spec.time_col),
            )
        else:
            spec = dataclasses.replace(
                spec, filters=tuple((c, _VALUE.get(v, v)) for c, v in spec.filters)
            )
        out.append((name, spec, dataset))
    return out


@dataclass
class Read:
    """One dashboard read and what the oracle needs to check it."""

    name: str
    lo: int
    hi: int
    fact_v: tuple[int, int] = (-1, -1)
    dim_v: tuple[int, int] = (-1, -1)
    rows: list[tuple] = field(default_factory=list)
    seconds: float = 0.0
    finished: float = 0.0  # epoch seconds
    error: str | None = None


class Dashboard:
    """Runs dashboard reads against the engine."""

    def __init__(self, fact, dim, tracer: Tracer, dates: list[int]):
        self.fact = fact
        self.dim = dim
        self.tracer = tracer
        self.dates = dates
        self.slices = {name: (spec, ds) for name, spec, ds in live_slices()}
        self.names = [*self.slices, "star_join"]

    def reads_fact(self, name: str) -> bool:
        return name == "star_join" or self.slices[name][1] == "events"

    def schedule(self, rng, start: int):
        """Reads, forever, in one fixed order that spreads the slices that
        read only dimcoin evenly among those that read the fact table,
        from position ``start``; so every run reads the same mix. Each
        read covers a seeded day window that ends today half the time
        (so it sees live ticks)."""
        fact = [n for n in self.names if self.reads_fact(n)]
        dim_only = [n for n in self.names if not self.reads_fact(n)]
        step = len(fact) / len(dim_only)
        order = list(fact)
        for i, name in enumerate(dim_only):
            order.insert(round(i * step) + i, name)
        k = start
        while True:
            hi_i = len(self.dates) - 1 if rng.random() < 0.5 else rng.randrange(len(self.dates))
            lo_i = max(0, hi_i - rng.randint(0, 3))
            yield Read(order[k % len(order)], self.dates[lo_i], self.dates[hi_i])
            k += 1

    def _plan(self, r: Read):
        if not self.reads_fact(r.name):
            spec = self.slices[r.name][0]
            return spec.to_df(self.dim.read())
        fact = self.fact.read_pruned("date_id", r.lo, r.hi)
        cur = self.dim.read().filter(F.col("is_current") == "Y").select("coin_id", "name", "symbol")
        star = fact.join(F.broadcast(cur), "coin_id")
        if r.name == "star_join":
            return (
                star.groupBy("name", "date_id")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(F.max("price"), 6).alias("max_price"),
                    F.round(F.avg("price"), 6).alias("avg_price"),
                    F.round(F.sum("market_cap"), 2).alias("sum_market_cap"),
                )
            )
        star = star.withColumn(
            "ts",
            F.to_timestamp(F.format_string("%08d%06d", "date_id", "time_id"), "yyyyMMddHHmmss"),
        )
        return self.slices[r.name][0].to_df(star)

    def run(self, r: Read) -> Read:
        """Plan build through collect. An engine exception is recorded
        on the read (and printed), never retried or swallowed."""
        r.fact_v = (latest_version(self.fact.path), -1)
        r.dim_v = (latest_version(self.dim.path), -1)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("semantic", "build"):
                df = self._plan(r)
            with self.tracer.span("semantic", "collect"):
                rows = [tuple(row) for row in df.collect()]
        except Exception as e:  # noqa: BLE001 - every engine error is one failed read
            r.error = f"{type(e).__name__}: {str(e).strip().splitlines()[0] if str(e).strip() else ''}"
            print(f"# dashboard read {r.name} failed: {r.error[:300]}", file=sys.stderr)
            r.seconds, r.finished = time.perf_counter() - t0, time.time()
            return r
        r.fact_v = (r.fact_v[0], latest_version(self.fact.path))
        r.dim_v = (r.dim_v[0], latest_version(self.dim.path))
        r.rows, r.seconds, r.finished = rows, time.perf_counter() - t0, time.time()
        return r


# ------------------------------------------------------------------ oracle

_GRAIN = {"P1D": ("day", "%Y-%m-%d"), "PT1M": ("minute", "%Y-%m-%d %H:%M:%S")}


def chart_sql(spec, relation: str) -> str:
    """DuckDB SQL for a chart spec, written from its fields."""
    cols, keys = [], []
    for g in spec.groupby:
        cols.append(g)
        keys.append(g)
    if spec.time_grain is not None:
        unit, fmt = _GRAIN[spec.time_grain]
        cols.append(f"strftime(date_trunc('{unit}', {spec.time_col}), '{fmt}') AS grain")
        keys.append("grain")
    for m in spec.metrics:
        if m.agg is None:
            e = m.sql
        elif m.agg == "COUNT":
            e = "count(*)"
        elif m.agg == "COUNT_DISTINCT":
            e = f"count(DISTINCT {m.column})"
        else:
            e = f"{m.agg.lower()}({m.column})"
        if m.round_to is not None:
            e = f"round({e}, {m.round_to})"
        cols.append(f'{e} AS "{m.label}"')
    sql = f"SELECT {', '.join(cols)} FROM {relation}"
    if spec.filters:
        sql += " WHERE " + " AND ".join(f"{c} = '{v}'" for c, v in spec.filters)
    if keys:
        sql += " GROUP BY " + ", ".join(keys)
    if spec.order_desc_by is not None:
        sql += f' ORDER BY "{spec.order_desc_by}" DESC' + "".join(f", {k}" for k in keys)
    if spec.limit is not None:
        sql += f" LIMIT {spec.limit}"
    return sql


_STAR_SQL = (
    "SELECT name, date_id, count(*) AS n, round(max(price), 6), round(avg(price), 6),"
    " round(sum(market_cap), 2) FROM star GROUP BY name, date_id"
)


def _sort_key(row: tuple) -> tuple:
    return tuple(str(x) for x in row)


def same_rows(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
                if not close(float(a), float(b)):
                    return False
            elif a != b:
                return False
    return True


class DuckOracle:
    def __init__(self, fact_path: str, dim_path: str, slices: dict):
        self.fact = LogReader(fact_path)
        self.dim = LogReader(dim_path)
        self.slices = slices
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self._views: tuple[int, int] | None = None
        self._cache: dict[tuple, list[tuple]] = {}

    def _files(self, log: LogReader, v: int) -> str:
        return "[" + ", ".join(f"'{log.path}/{p}'" for p in sorted(log.live(v))) + "]"

    def _use(self, fv: int, dv: int) -> None:
        if self._views == (fv, dv):
            return
        self.con.execute(
            f"CREATE OR REPLACE VIEW fact AS SELECT * FROM read_parquet({self._files(self.fact, fv)},"
            " hive_partitioning = true)"
        )
        self.con.execute(f"CREATE OR REPLACE VIEW dimcoin AS SELECT * FROM read_parquet({self._files(self.dim, dv)})")
        self._views = (fv, dv)

    def answer(self, r: Read, fv: int, dv: int) -> list[tuple]:
        key = (r.name, r.lo, r.hi, fv, dv)
        if key in self._cache:
            return self._cache[key]
        self._use(fv, dv)
        dataset = "events" if r.name == "star_join" else self.slices[r.name][1]
        star = (
            "(SELECT f.*, d.name, d.symbol,"
            " strptime(printf('%08d%06d', f.date_id, f.time_id), '%Y%m%d%H%M%S') AS ts"
            " FROM fact f JOIN dimcoin d ON f.coin_id = d.coin_id AND d.is_current = 'Y'"
            f" WHERE f.date_id BETWEEN {r.lo} AND {r.hi}) star"
        )
        if r.name == "star_join":
            sql = _STAR_SQL.replace("FROM star", f"FROM {star}")
        else:
            spec = self.slices[r.name][0]
            sql = chart_sql(spec, "dimcoin" if dataset == "dimcoin" else star)
        out = [tuple(row) for row in self.con.execute(sql).fetchall()]
        self._cache[key] = out
        return out

    def check(self, r: Read) -> bool:
        """True if the read matches the oracle at any bracketing pair
        of versions (newest first)."""
        self.fact.refresh()
        self.dim.refresh()
        ordered = r.name != "star_join" and self.slices[r.name][0].order_desc_by is not None
        for fv in range(r.fact_v[1], r.fact_v[0] - 1, -1):
            for dv in range(r.dim_v[1], r.dim_v[0] - 1, -1):
                if same_rows(r.rows, self.answer(r, fv, dv), ordered):
                    return True
        return False

    def files_in_window(self, r: Read) -> tuple[int, int]:
        """(files a pruned read of the window must open, live files) at
        the version the read started from."""
        live = self.fact.live(r.fact_v[0])
        hit = sum(1 for a in live.values() if r.lo <= int(a["partitionValues"]["date_id"]) <= r.hi)
        return hit, len(live)
