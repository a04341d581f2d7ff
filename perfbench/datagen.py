"""Benchmark inputs: the committed base tables and the seeded daily batch
stream.

The base tables are the sf0.001 tier of the repository's test data, committed
under ``perfbench/data/`` (one single-row-group parquet file per table, the
layout ``datasets.load_table`` reads): a TPC-H-like star schema, an
``events`` stream table, a ``documents`` corpus and 64-d ``embeddings``.
They never change between runs, so the committed expected digests
(``expected.json``) stay valid; ``expected.json`` pins their content hash.
At this size the queries are dominated by fixed costs (planning,
scheduling, Python-worker start, model training), which is what one pass
inside a run can afford to measure.

The daily batch stream of ``etl_analytics`` is drawn from the run's ``--seed``:
batch ``k`` depends only on ``(seed, k)``, so the same seed gives
byte-identical batches in any order of generation.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def tables_fingerprint(data_dir: str = DATA_DIR) -> str:
    """sha256 over the base tables' files (table order fixed): ties
    ``expected.json`` to the inputs its digests were made from."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(data_dir, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()


# --- daily batch stream -------------------------------------------------

SYMBOLS = [f"SYM{i:02d}" for i in range(16)]
SOURCES = ("alpha_vantage", "yahoo_finance")
# The gold table holds the last GOLD_DAYS days of the prices view, which
# ends at 2001-11-04 for the base lineitem; batch k carries day
# FIRST_BATCH_DATE + k. Every batch carries the same number of late
# corrections and (after the first) exact replays, so batches cost alike and
# seeds differ only in which keys and values they carry.
GOLD_DAYS = 30
FIRST_BATCH_DATE = dt.date(2001, 11, 5)
FIRST_GOLD_DATE = FIRST_BATCH_DATE - dt.timedelta(days=GOLD_DAYS)
BASE_STAMP = dt.datetime(2001, 11, 5, 0, 0, 0)
CORRECTIONS = 2
REPLAYS = 1


def batch_stamp(k: int) -> dt.datetime:
    """``processed_at`` / ``extracted_at`` of batch ``k`` (strictly later
    than the gold seed's and every earlier batch's)."""
    return BASE_STAMP + dt.timedelta(hours=k + 1)


def _price_row(rng) -> dict:
    def cents(x):
        return float(f"{x:.2f}")

    close = cents(rng.uniform(20.0, 500.0))
    open_ = cents(close * rng.uniform(0.97, 1.03))
    high = cents(max(open_, close) + rng.uniform(0.0, 3.0))
    low = cents(max(0.01, min(open_, close) - rng.uniform(0.0, 3.0)))
    volume = None if rng.random() < 0.05 else int(rng.integers(1_000, 5_000_000))
    return {"open": open_, "high": high, "low": low, "close": close, "volume": volume}


def _new_day_rows(seed: int, k: int) -> list[dict]:
    """The 16 symbols x 2 providers of batch ``k``'s own day."""
    rng = np.random.default_rng([seed, k, 0])
    day = FIRST_BATCH_DATE + dt.timedelta(days=k)
    return [
        {"date": day, "symbol": sym, "data_source": src, **_price_row(rng)}
        for sym in SYMBOLS
        for src in SOURCES
    ]


def batch_rows(seed: int, k: int) -> list[dict]:
    """Canonical rows of batch ``k``: its new day, then CORRECTIONS late
    corrections (new values for past dates of the gold window), then (after
    batch 0) REPLAYS exact replays of earlier batches' rows. Every
    correction and replay falls on its own date, so each batch after the
    first rewrites the same number of gold partitions."""
    rng = np.random.default_rng([seed, k, 1])
    replays = []
    for _ in range(REPLAYS if k else 0):
        j = int(rng.integers(0, k))
        replays.append(dict(_new_day_rows(seed, j)[int(rng.integers(0, 2 * len(SYMBOLS)))]))
    used = {FIRST_BATCH_DATE + dt.timedelta(days=k)} | {r["date"] for r in replays}
    corrections = []
    while len(corrections) < CORRECTIONS:
        back = int(rng.integers(1, GOLD_DAYS + k + 1))
        day = FIRST_BATCH_DATE + dt.timedelta(days=k - back)
        row = {
            "date": day,
            "symbol": SYMBOLS[int(rng.integers(0, len(SYMBOLS)))],
            "data_source": SOURCES[int(rng.integers(0, 2))],
            **_price_row(rng),
        }
        if day not in used:
            used.add(day)
            corrections.append(row)
    return _new_day_rows(seed, k) + corrections + replays


def provider_payloads(rows: list[dict]) -> tuple[dict, dict]:
    """Split canonical rows into the two providers' raw shapes: Alpha
    Vantage ``{symbol: {date_str: {'1. open': str, ...}}}`` and Yahoo
    Finance ``{symbol: [{'Date': str, 'Open': float, ...}]}``."""
    av: dict[str, dict] = {s: {} for s in SYMBOLS}
    yf: dict[str, list] = {s: [] for s in SYMBOLS}
    for r in rows:
        day = r["date"].isoformat()
        vol = r["volume"]
        if r["data_source"] == "alpha_vantage":
            av[r["symbol"]][day] = {
                "1. open": f"{r['open']:.2f}",
                "2. high": f"{r['high']:.2f}",
                "3. low": f"{r['low']:.2f}",
                "4. close": f"{r['close']:.2f}",
                "5. volume": None if vol is None else str(vol),
            }
        else:
            yf[r["symbol"]].append(
                {
                    "Date": day,
                    "Open": r["open"],
                    "High": r["high"],
                    "Low": r["low"],
                    "Close": r["close"],
                    "Volume": vol,
                    "Dividends": 0.0,
                    "Stock Splits": 0.0,
                }
            )
    return av, yf
