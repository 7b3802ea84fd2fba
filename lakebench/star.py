"""The star schema the tick workloads share: a seeded SCD-2 ``dimcoin``
table and a fact table partitioned by day, pre-filled with a seeded
history so that day-window reads have files to skip."""

from __future__ import annotations

import math
import os
from datetime import date, timedelta

import pandas as pd

from lakehouse_for_data_streaming_and_analysis_spark.delta import DeltaishTable
from lakehouse_for_data_streaming_and_analysis_spark.dims.scd2 import empty_dim, hash_candidates

from pipeline import COINS, FACT_SCHEMA

TODAY = date(2024, 6, 18)  # the reference dashboard export's day
HISTORY_DAYS = 14
DATES = [int((TODAY - timedelta(days=d)).strftime("%Y%m%d")) for d in range(HISTORY_DAYS, -1, -1)]
TODAY_ID = DATES[-1]
N_COINS = 24
DIM_SCHEMA = "coin_id int, symbol string, name string, supply double, maxsupply double, volume24h double"
TRACKED = ["symbol", "name", "supply", "maxsupply", "volume24h"]
AS_OF = TODAY.isoformat()


def coin_snapshot(rng) -> list[tuple]:
    """The seeded coin list: BTC and ETH (the streamed coins) first."""
    rows = []
    for i in range(1, N_COINS + 1):
        stream = COINS[i - 1] if i <= len(COINS) else None
        symbol, name = (stream[2], stream[0]) if stream else (f"C{i}", f"coin{i}")
        supply = round(rng.uniform(1e6, 1e9), 2)
        rows.append((i, symbol, name, supply, round(supply * rng.uniform(1.0, 2.0), 2),
                     round(rng.uniform(1e5, 1e9), 2)))
    return rows


def refreshed(rng, rows: list[tuple], changes: int = 3) -> list[tuple]:
    """The next coin snapshot: ``changes`` coins get a new volume and
    one coin a new supply, as a CoinCap refresh would."""
    out = list(rows)
    for i in rng.sample(range(len(out)), changes):
        cid, sym, name, supply, maxs, vol = out[i]
        out[i] = (cid, sym, name, supply, maxs, round(vol * rng.uniform(1.01, 1.3), 2))
    j = rng.randrange(len(out))
    cid, sym, name, supply, maxs, vol = out[j]
    out[j] = (cid, sym, name, round(supply * rng.uniform(1.0001, 1.01), 2), maxs, vol)
    return out


def candidates(spark, rows: list[tuple]):
    return hash_candidates(spark.createDataFrame(rows, DIM_SCHEMA), "coin_id", TRACKED)


def create_dim(spark, path: str, rows: list[tuple]) -> DeltaishTable:
    return DeltaishTable.create(spark, path, empty_dim(candidates(spark, rows), AS_OF))


def history(rng, supply: dict[str, float], last_price: dict[str, float], per_day: int) -> list[tuple]:
    """Seeded fact rows for the streamed coins on every day before
    today, one per 24h/per_day slot, in FACT_SCHEMA column order."""
    rows = []
    for coin, coin_id, _ in COINS:
        price = last_price[coin]
        for did in DATES[:-1]:
            for k in range(per_day):
                secs = k * 86400 // per_day + rng.randrange(86400 // per_day)
                tid = (secs // 3600) * 10000 + (secs // 60 % 60) * 100 + secs % 60
                price = round(price * math.exp(rng.gauss(0, 0.002)), 2)
                avg = round(price * (1 + rng.gauss(0, 0.0005)), 4)
                created = f"{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}"
                rows.append((coin_id, did, tid, price, price * supply[coin],
                             (price - last_price[coin]) / last_price[coin], avg, created))
    return rows


def create_fact(spark, path: str, rows: list[tuple]) -> DeltaishTable:
    pdf = pd.DataFrame(rows, columns=[c.split()[0] for c in FACT_SCHEMA.split(", ")])
    for c in ("coin_id", "date_id", "time_id"):
        pdf[c] = pdf[c].astype("int32")
    df = spark.createDataFrame(pdf, FACT_SCHEMA)
    return DeltaishTable.create(spark, path, df, partition_by=("date_id",))


def tables_root(root: str, name: str) -> str:
    return os.path.join(root, "tables", name)
