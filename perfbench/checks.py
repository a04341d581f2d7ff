"""Output checks: query digests against their DuckDB twins, and the
batches' gold table against a DuckDB keep-latest.

Digests use the comparison of ``scripts/verify_driver.py``:
column names compared case-insensitively and sorted, each row's values in
that column order rendered with ``repr()``, rows compared as a sorted
multiset. Exact: no float tolerance.
"""

from __future__ import annotations

import hashlib
import json
import os

from datagen import BASE_STAMP, TABLES, batch_stamp

GOLD_KEYS = ("date", "symbol", "data_source")
GOLD_COLUMNS = (
    "date",
    "symbol",
    "open",
    "high",
    "low",
    "close",
    "volume",
    "data_source",
    "processed_at",
    "daily_change_pct",
    "daily_volatility",
)


def normalized_rows(cols, rows) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(repr(r[i]) for i in idx) for r in rows)


def digest(cols, rows) -> str:
    """sha256 of (sorted lower-cased column names, row count, normalized
    row multiset)."""
    body = json.dumps(
        [sorted(c.lower() for c in cols), len(rows), normalized_rows(cols, rows)]
    )
    return hashlib.sha256(body.encode()).hexdigest()


def duckdb_views(con, data_dir: str) -> None:
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


# --- gold table of the daily batches --------------------------------------


def _pround_sql(expr: str) -> str:
    # floor(x * 100 + 0.5) / 100 in double arithmetic: the transform's
    # derived-metric rounding (operators/transform.py via functions.pround).
    return f"floor(({expr}) * CAST(100.0 AS DOUBLE) + 0.5) / CAST(100.0 AS DOUBLE)"


def _transformed_sql(src: str) -> str:
    return f"""
SELECT date, symbol, open, high, low, close,
  CAST(coalesce(volume, 0) AS BIGINT) AS volume, data_source, processed_at,
  {_pround_sql("(close - open) / open * 100")} AS daily_change_pct,
  {_pround_sql("(high - low) / open * 100")} AS daily_volatility,
  batch
FROM {src}"""


def gold_seed_sql(prices_sql: str, first_day: str) -> str:
    """The gold seed: the prices view over the base ``lineitem`` restricted
    to the gold window, deduplicated on the gold key (lowest row wins,
    the merge stage's min-over-struct tiebreak), transformed at the seed's
    frozen stamp."""
    return f"""
WITH prices AS ({prices_sql}),
w AS (
  SELECT *, row_number() OVER (
    PARTITION BY date, symbol, data_source
    ORDER BY open, high, low, close, volume) AS rn
  FROM prices WHERE date >= DATE '{first_day}'
)
SELECT date, symbol, open, high, low, close, volume, data_source,
  TIMESTAMP '{BASE_STAMP.isoformat(sep=" ")}' AS processed_at, -1 AS batch
FROM w WHERE rn = 1"""


def expected_gold(con, seed_sql: str, batches: list[tuple[int, list[dict]]]):
    """Keep-latest over the gold seed and the batches in commit order: per
    gold key the row of the last batch that carried it. Returns
    ``(columns, rows)``."""
    import pandas as pd

    recs = [
        {**r, "processed_at": batch_stamp(k), "batch": k}
        for k, rows in batches
        for r in rows
    ]
    raw = pd.DataFrame(
        recs,
        columns=[
            "date", "symbol", "open", "high", "low", "close", "volume",
            "data_source", "processed_at", "batch",
        ],
    )
    raw["date"] = pd.to_datetime(raw["date"])
    raw["volume"] = raw["volume"].astype("Int64")
    con.register("batch_raw", raw)
    sql = f"""
WITH seed AS ({seed_sql}),
raw AS (
  SELECT CAST(date AS DATE) AS date, symbol, open, high, low, close,
    CAST(volume AS BIGINT) AS volume, data_source,
    CAST(processed_at AS TIMESTAMP) AS processed_at, batch
  FROM batch_raw
  UNION ALL SELECT * FROM seed
),
t AS ({_transformed_sql("raw")}),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY date, symbol, data_source ORDER BY batch DESC) AS rn
  FROM t
)
SELECT {", ".join(GOLD_COLUMNS)} FROM ranked WHERE rn = 1"""
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    out = rel.fetchall()
    con.unregister("batch_raw")
    return cols, out


def gold_mismatch_dates(exp_cols, exp_rows, got_cols, got_rows) -> set:
    """Dates whose gold rows differ between expected and actual (empty set
    when the tables agree). Columns must match by name."""
    if sorted(c.lower() for c in exp_cols) != sorted(c.lower() for c in got_cols):
        return {None}

    def by_date(cols, rows):
        di = [c.lower() for c in cols].index("date")
        out: dict = {}
        for r in rows:
            out.setdefault(r[di], []).append(r)
        return {d: normalized_rows(cols, rs) for d, rs in out.items()}

    a, b = by_date(exp_cols, exp_rows), by_date(got_cols, got_rows)
    return {d for d in set(a) | set(b) if a.get(d) != b.get(d)}

