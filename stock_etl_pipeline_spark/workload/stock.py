"""Stock-domain queries over the deterministic ``prices`` stand-in view
(datasets.PRICES_VIEW_SQL over lineitem — FIXTURES.md F5 mapping).

Covers SURVEY.md §2: A1-A7, A9, A11, A12, W1/W2, P5-P18, O3-O5, J1/J2, K7 and
the Q-suite analogues. Oracle SQL is generated with the same portable
floor-rounding / integer-exact-sum helpers the Spark side uses
(functions.sql_pround / sql_exact_avg), so both engines compute bitwise-equal
doubles — see functions/__init__.py for the determinism rationale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datasets import AS_OF_DATE, N_SYMBOLS, load_prices, oracle_with_prices
from ..functions import pround, exact_avg, sql_exact_avg, sql_pround
from ..operators import analytics
from ..operators.merge import dedup_keep_first
from ..operators.transform import derive_metrics
from ..operators.upsert import merge_upsert
from ..operators.window import daily_close, moving_averages
from ..session import local_frame
from . import spec

# Exact daily-close CTE: close_price_u is integer micro-units so window sums
# are order-independent longs (see operators/window.py micros_col rationale).
_CLOSE_PRICE_U = (
    f"CAST(floor({sql_exact_avg('close', 100.0)} * 1000000.0 + 0.5) AS BIGINT)"
)
_DAILY_CTE = f"""
, daily AS (
  SELECT date, symbol, {_CLOSE_PRICE_U} AS close_price_u
  FROM prices GROUP BY date, symbol
),
daily2 AS (
  SELECT date, symbol, close_price_u, close_price_u / CAST(1000000.0 AS DOUBLE) AS close_price
  FROM daily
)
""".rstrip()

# ---------------------------------------------------------------------------
# W1 — flagship: rolling moving averages (reference plugins/helpers/queries.py:76-115)
# ---------------------------------------------------------------------------


def _ma_win(width: int) -> str:
    return (
        f"(PARTITION BY symbol ORDER BY date "
        f"ROWS BETWEEN {width - 1} PRECEDING AND CURRENT ROW)"
    )


def _ma_col(width: int) -> str:
    w = _ma_win(width)
    return (
        f"CAST(sum(close_price_u) OVER {w} AS BIGINT)"
        f" / (CAST(1000000.0 AS DOUBLE) * count(close_price_u) OVER {w}) AS ma_{width}d"
    )


_MA_ORACLE = oracle_with_prices(
    f"""
{_DAILY_CTE}
SELECT symbol, date, close_price,
  {_ma_col(5)},
  {_ma_col(10)},
  {_ma_col(20)},
  {_ma_col(50)}
FROM daily2
""".rstrip()
)


@spec("moving_averages", oracle=_MA_ORACLE, tags=("W1", "A1", "window"), bench=True)
def q_moving_averages(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_close(load_prices(spark, sf_dir))
    return moving_averages(
        daily, (5, 10, 20, 50), min_periods=1, micros_col="close_price_u"
    ).select("symbol", "date", "close_price", "ma_5d", "ma_10d", "ma_20d", "ma_50d")


# --- fused window suite ------------------------------------------------------
# W2 strict rolling mean + lag/lead returns + rank family + calendar RANGE
# frame, all in ONE query over the shared daily CTE. Every window spec
# partitions by symbol, so Catalyst plans a single exchange on symbol and
# chains the per-frame sorts inside the same stage — four formerly separate
# queries (4 scans + 4 shuffles) collapse to one scan + dedup-agg + one
# window exchange. This fusion is the scale win: at 100 TB the dominant cost
# is the scan+shuffle, amortized here across all window operators.
_STRICT_AVG = (
    "CAST(sum(close_price_u) OVER w20 AS BIGINT)"
    " / (CAST(1000000.0 AS DOUBLE) * count(close_price_u) OVER w20)"
)
_RANGE_AVG = (
    "CAST(sum(close_price_u) OVER w7 AS BIGINT)"
    " / (CAST(1000000.0 AS DOUBLE) * count(close_price_u) OVER w7)"
)
_WINDOW_SUITE_ORACLE = oracle_with_prices(
    f"""
{_DAILY_CTE}
SELECT symbol, date, close_price,
  CASE WHEN count(close_price_u) OVER w20 >= 20 THEN {_STRICT_AVG} END AS ma_20d,
  lag(close_price, 1) OVER wd AS prev_value,
  lead(close_price, 1) OVER wd AS next_value,
  {sql_pround("(close_price - lag(close_price, 1) OVER wd) / (lag(close_price, 1) OVER wd) * 100", 6)} AS return_pct,
  CAST(rank() OVER wv AS BIGINT) AS close_rank,
  CAST(dense_rank() OVER wv AS BIGINT) AS close_dense_rank,
  CAST(ntile(4) OVER wu AS INTEGER) AS quartile,
  floor(percent_rank() OVER wu * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
  {_RANGE_AVG} AS avg_7cd,
  CAST(count(close_price_u) OVER w7 AS BIGINT) AS n_in_window
FROM daily2
WINDOW
  w20 AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
  wd AS (PARTITION BY symbol ORDER BY date),
  wv AS (PARTITION BY symbol ORDER BY close_price DESC),
  wu AS (PARTITION BY symbol ORDER BY close_price, date),
  w7 AS (PARTITION BY symbol ORDER BY date
         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
""".rstrip()
)


@spec(
    "window_suite",
    oracle=_WINDOW_SUITE_ORACLE,
    tags=("W2", "window", "lag_lead", "rank", "range_frame"),
    bench=True,
)
def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused window pass: pandas-faithful strict rolling mean (W2,
    min_periods=20), lag/lead daily returns, rank/dense_rank/ntile/
    percent_rank, and the trailing-7-CALENDAR-day RANGE frame. All frames
    share PARTITION BY symbol → one shuffle serves every operator.

    Determinism: averages are integer micro-unit window sums (order-
    independent) with a single division; ntile/percent_rank order on the
    unique (close_price, date) pair so placement can't vary across engines;
    rank-family ties on equal close_price are legal and identical."""
    from pyspark.sql import Window

    daily = daily_close(load_prices(spark, sf_dir))
    w20 = Window.partitionBy("symbol").orderBy("date").rowsBetween(-19, 0)
    wd = Window.partitionBy("symbol").orderBy("date")
    wv = Window.partitionBy("symbol").orderBy(F.col("close_price").desc())
    wu = Window.partitionBy("symbol").orderBy("close_price", "date")
    # Trailing 7-CALENDAR-day frame as an INTERVAL range over the date
    # order key itself (the oracle's own spelling). Ordering by a
    # datediff-derived long is the same order (datediff is monotone) and
    # the [days-6, days] long range admits exactly the dates in
    # [date - 6 days, date] — but the derived key is a DIFFERENT order
    # expression to the planner, which split the date-ordered windows into
    # two sort groups (4 Window nodes / 4 Sorts). Over ``date`` directly,
    # w7 joins the w20/wd group: 3 Window nodes, one fewer per-partition
    # Sort, same rows in every frame.
    strict_avg = F.sum("close_price_u").over(w20) / (
        F.lit(1_000_000.0) * F.count("close_price_u").over(w20)
    )
    prev = F.lag("close_price", 1).over(wd)
    if os.environ.get("SPARK_GRAFT_W7_LEGACY") == "1":  # A/B arm: split group
        days = F.datediff(
            F.col("date"), F.lit("1970-01-01").cast("date")
        ).cast("long")
        w7 = Window.partitionBy("symbol").orderBy(days).rangeBetween(-6, 0)
        _sum7 = F.sum("close_price_u").over(w7)
        _cnt7 = F.count("close_price_u").over(w7)
    else:
        _w7_frame = (
            "PARTITION BY symbol ORDER BY date "
            "RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW"
        )
        _sum7 = F.expr(f"sum(close_price_u) OVER ({_w7_frame})")
        _cnt7 = F.expr(f"count(close_price_u) OVER ({_w7_frame})")
    avg7 = _sum7 / (F.lit(1_000_000.0) * _cnt7)
    return daily.select(
        "symbol",
        "date",
        "close_price",
        F.when(F.count("close_price_u").over(w20) >= 20, strict_avg).alias("ma_20d"),
        prev.alias("prev_value"),
        F.lead("close_price", 1).over(wd).alias("next_value"),
        pround((F.col("close_price") - prev) / prev * 100, 6).alias("return_pct"),
        F.rank().over(wv).cast("long").alias("close_rank"),
        F.dense_rank().over(wv).cast("long").alias("close_dense_rank"),
        F.ntile(4).over(wu).cast("int").alias("quartile"),
        (F.floor(F.percent_rank().over(wu) * 1e6 + F.lit(0.5)) / 1e6).alias("pct_rank"),
        avg7.alias("avg_7cd"),
        _cnt7.alias("n_in_window"),
    )


# ---------------------------------------------------------------------------
# A1 — daily metrics view (reference plugins/helpers/queries.py:22-34)
# ---------------------------------------------------------------------------

_DAILY_METRICS_ORACLE = oracle_with_prices(
    f"""
SELECT date, symbol,
  {sql_pround(sql_exact_avg("close", 100.0), 6)} AS avg_close,
  min(close) AS min_close,
  max(close) AS max_close,
  {sql_pround(sql_exact_avg("(high - low) / open * 100", 1000000.0), 6)} AS avg_volatility,
  count(DISTINCT data_source) AS source_count,
  CAST(sum(volume) AS BIGINT) AS total_volume
FROM prices GROUP BY date, symbol
""".rstrip()
)


@spec("daily_metrics", oracle=_DAILY_METRICS_ORACLE, tags=("A1",), bench=True)
def q_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.daily_metrics(load_prices(spark, sf_dir))


# ---------------------------------------------------------------------------
# A2/J2/P18 — cross-source comparison with spread filter
# (reference plugins/helpers/queries.py:37-73; dags/utils/validators.py:231-244)
# ---------------------------------------------------------------------------

_CROSS_SOURCE_ORACLE = oracle_with_prices(
    f"""
SELECT symbol, date, min_close, max_close, avg_close, source_count,
  {sql_pround("(max_close - min_close) / min_close * 100", 6)} AS price_diff_pct
FROM (
  SELECT symbol, date,
    min(close) AS min_close,
    max(close) AS max_close,
    {sql_pround(sql_exact_avg("close", 100.0), 6)} AS avg_close,
    count(DISTINCT data_source) AS source_count
  FROM prices GROUP BY symbol, date
) g
WHERE source_count > 1 AND (max_close - min_close) / min_close > 0.02
""".rstrip()
)


@spec("cross_source_spread", oracle=_CROSS_SOURCE_ORACLE, tags=("A2", "J2", "P18"), bench=True)
def q_cross_source_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.cross_source_comparison(load_prices(spark, sf_dir), 0.02)


# ---------------------------------------------------------------------------
# A3/A6 — grouped collection rendered portably (reference queries.py:57,142)
# ---------------------------------------------------------------------------

# source_details (A3) + source_distribution (A6) + source_close_pivot FUSED
# into one registry slot (round-3 headroom for the capped-set minhash query;
# the pivot block joined in round 4 to free a slot for the semantic-dedup
# query): all three are aggregates over the same prices scan, discriminated
# by a block column on a unified (block, key, date, sources, n_rows,
# av_close, yf_close) schema. The standalone operators remain in
# operators/analytics.py (and `.pivot()` stays exercised in the pivot
# block); only the driver registration is fused.
_SOURCE_REPORT_ORACLE = oracle_with_prices(
    """
SELECT 'details' AS block, symbol AS key, date,
  array_to_string(list_sort(list(DISTINCT data_source)), ',') AS sources,
  count(*) AS n_rows,
  CAST(NULL AS DOUBLE) AS av_close, CAST(NULL AS DOUBLE) AS yf_close
FROM prices GROUP BY symbol, date
UNION ALL
SELECT 'distribution' AS block, data_source AS key,
  CAST(NULL AS DATE) AS date, CAST(NULL AS VARCHAR) AS sources,
  count(*) AS n_rows,
  CAST(NULL AS DOUBLE) AS av_close, CAST(NULL AS DOUBLE) AS yf_close
FROM prices GROUP BY data_source
UNION ALL
SELECT 'pivot' AS block, symbol AS key, date,
  CAST(NULL AS VARCHAR) AS sources, CAST(NULL AS BIGINT) AS n_rows,
  max(close) FILTER (WHERE data_source = 'alpha_vantage') AS av_close,
  max(close) FILTER (WHERE data_source = 'yahoo_finance') AS yf_close
FROM prices GROUP BY symbol, date
""".rstrip()
)


@spec("source_report", oracle=_SOURCE_REPORT_ORACLE, tags=("A3", "A6", "array_agg", "pivot"))
def q_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    prices = load_prices(spark, sf_dir)
    null_close = [
        F.lit(None).cast("double").alias("av_close"),
        F.lit(None).cast("double").alias("yf_close"),
    ]
    details = analytics.source_details(prices).select(
        F.lit("details").alias("block"),
        F.col("symbol").alias("key"),
        "date",
        "sources",
        "n_rows",
        *null_close,
    )
    dist = analytics.source_distribution(prices).select(
        F.lit("distribution").alias("block"),
        F.col("data_source").alias("key"),
        F.lit(None).cast("date").alias("date"),
        F.lit(None).cast("string").alias("sources"),
        F.col("record_count").alias("n_rows"),
        *null_close,
    )
    # Wide reshape block: one close column per source via pivot with an
    # EXPLICIT value list — omitting it would cost an extra distinct-values
    # job and make the output schema data-dependent (both wrong at scale).
    piv = (
        prices.groupBy("symbol", "date")
        .pivot("data_source", ["alpha_vantage", "yahoo_finance"])
        .agg(F.max("close"))
        .select(
            F.lit("pivot").alias("block"),
            F.col("symbol").alias("key"),
            "date",
            F.lit(None).cast("string").alias("sources"),
            F.lit(None).cast("bigint").alias("n_rows"),
            F.col("alpha_vantage").alias("av_close"),
            F.col("yahoo_finance").alias("yf_close"),
        )
    )
    return details.unionByName(dist).unionByName(piv)


# ---------------------------------------------------------------------------
# P-layer — transform stage derived metrics (reference dags/utils/transformers.py:49-65)
# ---------------------------------------------------------------------------

_TRANSFORM_ORACLE = oracle_with_prices(
    f"""
SELECT date, symbol, open, high, low, close, volume, data_source,
  {sql_pround("(close - open) / open * 100", 2)} AS daily_change_pct,
  {sql_pround("(high - low) / open * 100", 2)} AS daily_volatility
FROM prices
""".rstrip()
)


@spec("transform_metrics", oracle=_TRANSFORM_ORACLE, tags=("P7", "P10", "P11"), bench=True)
def q_transform_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_metrics(load_prices(spark, sf_dir))


# ---------------------------------------------------------------------------
# O3/O4 — merge + deterministic keep-first dedup (reference transformers.py:79-125)
# ---------------------------------------------------------------------------

_MERGE_DEDUP_ORACLE = oracle_with_prices(
    """
SELECT date, symbol, data_source, open, high, low, close, volume
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY date, symbol, data_source
      ORDER BY open, high, low, close, volume) AS rn
  FROM prices
) t WHERE rn = 1
""".rstrip()
)


@spec("merge_dedup", oracle=_MERGE_DEDUP_ORACLE, tags=("O3", "O4"), bench=True)
def q_merge_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    prices = load_prices(spark, sf_dir)
    deduped = dedup_keep_first(
        prices,
        keys=("date", "symbol", "data_source"),
        tiebreak_cols=("open", "high", "low", "close", "volume"),
    )
    return deduped.select(
        "date", "symbol", "data_source", "open", "high", "low", "close", "volume"
    )


# ---------------------------------------------------------------------------
# Fused profile suite — A4/A5/P16 data profile, A4 null profiling, A9
# duplicate counts, A11/O5 symbol coverage, A12/Q10 freshness, as ONE 1-row
# report (reference queries.py:118-147; validators.py:153,227,254-370).
# Each component is a tiny 1-row aggregate; cross-joining them costs nothing
# (all sides are single rows) while the driver gets one green row covering
# the whole profiling surface instead of five scans in five queries.
# ---------------------------------------------------------------------------

_REQUIRED_SYMBOLS = [f"SYM{i:02d}" for i in range(N_SYMBOLS)] + ["SYM99"]
_VALUES = ", ".join(f"('{s}')" for s in _REQUIRED_SYMBOLS)
_PROFILE_SUITE_ORACLE = oracle_with_prices(
    f"""
, prof AS (
  SELECT count(*) AS row_count,
    count(DISTINCT date) AS unique_dates,
    count(DISTINCT symbol) AS unique_symbols,
    count(DISTINCT data_source) AS unique_sources,
    min(date) AS earliest_date,
    max(date) AS latest_date,
    min(close) AS min_close,
    max(close) AS max_close,
    {sql_pround(sql_exact_avg("close", 100.0), 6)} AS avg_close,
    CAST(count(*) FILTER (WHERE open IS NULL) AS BIGINT) AS null_open_count,
    CAST(count(*) FILTER (WHERE volume IS NULL) AS BIGINT) AS null_volume_count
  FROM prices
  WHERE date >= DATE '{AS_OF_DATE}' - INTERVAL 30 DAY
),
dirty AS (
  SELECT CASE WHEN volume % 700 = 0 THEN NULL ELSE open END AS open,
         CASE WHEN volume % 1100 = 0 THEN NULL ELSE high END AS high,
         CASE WHEN volume % 1300 = 0 THEN NULL ELSE low END AS low,
         close
  FROM prices
),
nulls AS (
  SELECT count(*) AS total_rows,
    CAST(count(*) FILTER (WHERE open IS NULL) AS BIGINT) AS null_open,
    CAST(count(*) FILTER (WHERE high IS NULL) AS BIGINT) AS null_high,
    CAST(count(*) FILTER (WHERE low IS NULL) AS BIGINT) AS null_low,
    CAST(count(*) FILTER (WHERE close IS NULL) AS BIGINT) AS null_close
  FROM dirty
),
dups AS (
  SELECT count(*) AS dup_groups,
    CAST(COALESCE(sum(cnt - 1), 0) AS BIGINT) AS dup_rows
  FROM (
    SELECT count(*) AS cnt
    FROM prices GROUP BY date, symbol, data_source
    HAVING count(*) > 1
  ) g
),
actual AS (SELECT DISTINCT symbol FROM prices),
required(symbol) AS (VALUES {_VALUES}),
cov AS (
  SELECT CAST(count(*) AS BIGINT) AS n_missing_symbols,
    COALESCE(array_to_string(list_sort(list(r.symbol)), ','), '') AS missing_symbols
  FROM required r
  WHERE NOT EXISTS (SELECT 1 FROM actual a WHERE a.symbol = r.symbol)
),
fresh AS (
  SELECT max(date) AS newest_date,
    CAST(date_diff('day', max(date), DATE '{AS_OF_DATE}') AS INTEGER) AS days_behind,
    max(date) >= DATE '{AS_OF_DATE}' - INTERVAL 30 DAY AS is_fresh
  FROM prices
)
SELECT prof.*, nulls.*, dups.*, cov.*, fresh.*
FROM prof, nulls, dups, cov, fresh
""".rstrip()
)


@spec(
    "profile_suite",
    oracle=_PROFILE_SUITE_ORACLE,
    tags=("A4", "A5", "A9", "A11", "A12", "O5", "P16", "Q6", "Q10", "Q11"),
)
def q_profile_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profile (trailing-30d window), injected-null profiling, duplicate
    counts, required-symbol coverage (anti join, with the sorted missing list
    rendered as csv), and the freshness watermark — one 1-row report. Every
    component is a full-scan partial aggregate reduced to a single row, so
    the cross joins are free and the whole report is one driver-checkable
    row."""
    p = load_prices(spark, sf_dir)
    as_of = F.lit(AS_OF_DATE).cast("date")

    prof = analytics.data_profile(p, AS_OF_DATE, 30)

    dirty = p.select(
        F.when(F.col("volume") % 700 == 0, None).otherwise(F.col("open")).alias("open"),
        F.when(F.col("volume") % 1100 == 0, None).otherwise(F.col("high")).alias("high"),
        F.when(F.col("volume") % 1300 == 0, None).otherwise(F.col("low")).alias("low"),
        "close",
    )
    nulls = dirty.agg(
        F.count("*").alias("total_rows"),
        F.count_if(F.col("open").isNull()).alias("null_open"),
        F.count_if(F.col("high").isNull()).alias("null_high"),
        F.count_if(F.col("low").isNull()).alias("null_low"),
        F.count_if(F.col("close").isNull()).alias("null_close"),
    )

    dups = (
        p.groupBy("date", "symbol", "data_source")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(
            F.count("*").alias("dup_groups"),
            F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("dup_rows"),
        )
    )

    actual = p.select("symbol").distinct()
    required = local_frame(spark, [(s,) for s in _REQUIRED_SYMBOLS], "symbol string")
    cov = (
        required.join(actual, "symbol", "left_anti")
        .agg(
            F.count("*").alias("n_missing_symbols"),
            F.array_join(F.array_sort(F.collect_list("symbol")), ",").alias(
                "missing_symbols"
            ),
        )
    )

    fresh = (
        p.agg(F.max("date").alias("newest_date"))
        .select(
            "newest_date",
            F.datediff(as_of, F.col("newest_date")).alias("days_behind"),
            (F.col("newest_date") >= F.date_sub(as_of, 30)).alias("is_fresh"),
        )
    )

    return prof.crossJoin(nulls).crossJoin(dups).crossJoin(cov).crossJoin(fresh)


# ---------------------------------------------------------------------------
# K7/J1 — MERGE upsert rewrite (reference dags/utils/loaders.py:107-190)
# ---------------------------------------------------------------------------

_UPSERT_ORACLE = oracle_with_prices(
    f"""
, daily AS (
  SELECT date, symbol, data_source,
    {sql_pround(sql_exact_avg("close", 100.0), 6)} AS close,
    CAST(sum(volume) AS BIGINT) AS volume
  FROM prices GROUP BY date, symbol, data_source
),
target AS (SELECT * FROM daily WHERE date < DATE '2001-09-01'),
source AS (
  SELECT date, symbol, data_source, {sql_pround("close * 1.1", 6)} AS close, volume
  FROM daily WHERE date >= DATE '2001-08-01' AND date < DATE '2001-10-01'
)
SELECT * FROM target t
WHERE NOT EXISTS (
  SELECT 1 FROM source s
  WHERE s.date = t.date AND s.symbol = t.symbol AND s.data_source = t.data_source)
UNION ALL
SELECT * FROM source
""".rstrip()
)


@spec("merge_upsert", oracle=_UPSERT_ORACLE, tags=("K7", "J1"), bench=True)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_prices(spark, sf_dir)
        .groupBy("date", "symbol", "data_source")
        .agg(
            pround(exact_avg(F.col("close"), 100.0), 6).alias("close"),
            F.sum("volume").alias("volume"),
        )
    )
    target = daily.filter(F.col("date") < F.lit("2001-09-01").cast("date"))
    source = daily.filter(
        (F.col("date") >= F.lit("2001-08-01").cast("date"))
        & (F.col("date") < F.lit("2001-10-01").cast("date"))
    ).withColumn("close", pround(F.col("close") * 1.1, 6))
    return merge_upsert(target, source, keys=("date", "symbol", "data_source"))


# --- fused data-quality suite (quality/, SURVEY.md §2.8 Q13) ----------------
# All count-style checks of the raw+transformed validation suites in ONE
# aggregate pass — the reference re-scans the table once per check
# (dags/utils/validators.py:64-251); here the whole suite is a single job
# with map-side partial aggregation.
_QUALITY_ORACLE = oracle_with_prices(f"""
SELECT
  count(*) AS row_count,
  CAST(sum(CASE WHEN open IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_open,
  CAST(sum(CASE WHEN high IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_high,
  CAST(sum(CASE WHEN low IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_low,
  CAST(sum(CASE WHEN close IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_close,
  CAST(sum(CASE WHEN volume IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_volume,
  CAST(sum(CASE WHEN close < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative_close,
  CAST(sum(CASE WHEN date > DATE '{AS_OF_DATE}' THEN 1 ELSE 0 END) AS BIGINT) AS n_future_dates,
  min(date) AS min_date,
  max(date) AS max_date,
  count(*) - CAST(count(DISTINCT (date, symbol, data_source)) AS BIGINT) AS n_duplicate_rows,
  max(close) AS max_close,
  max(volume) AS max_volume,
  CAST(sum(CASE WHEN (high - low) / open * 100.0 > 20.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_volatility,
  CAST(count(DISTINCT symbol) AS BIGINT) AS n_symbols,
  CAST(count(DISTINCT data_source) AS BIGINT) AS n_sources
FROM prices
""".strip())


@spec("quality_suite", oracle=_QUALITY_ORACLE, tags=("Q13", "quality"), bench=True)
def q_quality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-Q8 + Q10/Q11 inputs fused into one scan, rolled up over the
    dedup key (quality.quality_metrics_df — round 14: the flat agg's three
    distinct groups planned an Expand(4) copying every scan row four
    times; the rollup expands only the ~|distinct keys| relation). The
    driver-facing QualityReport API in ``quality/`` consumes this same
    metric row."""
    from ..quality import quality_metrics_df

    prices = load_prices(spark, sf_dir)
    return quality_metrics_df(prices, AS_OF_DATE)


# --- as-of join: cross-source point-in-time alignment (operators/asof.py) ---
# For every alpha_vantage (symbol, date) close, the most recent yahoo_finance
# close at-or-before that date. Oracle uses DuckDB's native ASOF LEFT JOIN;
# the Spark side is the union+window formulation (one shuffle, no range
# explode). Sides are pre-aggregated to one row per (symbol, date) so the
# propagated value is unique → deterministic.
_ASOF_ORACLE = oracle_with_prices("""
, av AS (
  SELECT symbol, date, max(close) AS av_close FROM prices
  WHERE data_source = 'alpha_vantage' GROUP BY symbol, date
),
yf AS (
  SELECT symbol, date, max(close) AS yf_close FROM prices
  WHERE data_source = 'yahoo_finance' GROUP BY symbol, date
)
SELECT av.symbol, av.date, av.av_close, yf.yf_close AS yf_close_asof
FROM av ASOF LEFT JOIN yf ON av.symbol = yf.symbol AND av.date >= yf.date
""".strip())


@spec("price_asof_align", oracle=_ASOF_ORACLE, tags=("asof", "join", "window"), bench=True)
def q_price_asof_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-inclusive as-of join aligning the two source feeds per symbol
    (operators/asof.py). One shuffle+sort of (left ∪ right) on symbol —
    the formulation that survives 100 TB (no per-key range fan-out)."""
    from ..operators.asof import asof_join

    prices = load_prices(spark, sf_dir)
    av = (
        prices.filter(F.col("data_source") == "alpha_vantage")
        .groupBy("symbol", "date")
        .agg(F.max("close").alias("av_close"))
    )
    yf = (
        prices.filter(F.col("data_source") == "yahoo_finance")
        .groupBy("symbol", "date")
        .agg(F.max("close").alias("yf_close"))
    )
    return asof_join(av, yf, on=["symbol"], ts="date", value_cols=["yf_close"]).select(
        "symbol", "date", "av_close", F.col("yf_close_asof")
    )


# --- pivot: per-source close columns ----------------------------------------
# Spark pivot() compiles to conditional aggregates over a fixed value list;
# the oracle writes those conditional aggregates directly (the portable
# two-step the engine defines for BigQuery's in-agg histograms, SURVEY §2.5).
# Registered as source_report's 'pivot' block since round 4 (slot freed for
# the semantic-dedup query).


# --- set operations: INTERSECT / EXCEPT -------------------------------------
_SET_OPS_ORACLE = oracle_with_prices("""
, av AS (SELECT DISTINCT symbol, date FROM prices WHERE data_source = 'alpha_vantage'),
yf AS (SELECT DISTINCT symbol, date FROM prices WHERE data_source = 'yahoo_finance'),
both_src AS (SELECT * FROM av INTERSECT SELECT * FROM yf),
av_only AS (SELECT * FROM av EXCEPT SELECT * FROM yf)
SELECT symbol,
  CAST((SELECT count(*) FROM both_src b WHERE b.symbol = s.symbol) AS BIGINT) AS n_both,
  CAST((SELECT count(*) FROM av_only a WHERE a.symbol = s.symbol) AS BIGINT) AS n_av_only
FROM (SELECT DISTINCT symbol FROM prices) s
""".strip())


@spec("source_set_ops", oracle=_SET_OPS_ORACLE, tags=("set_ops", "intersect", "except"))
def q_source_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT over per-source (symbol, date) sets — Catalyst
    plans both as aggregates + semi/anti joins on co-partitioned keys."""
    p = load_prices(spark, sf_dir)
    av = p.filter(F.col("data_source") == "alpha_vantage").select("symbol", "date").distinct()
    yf = p.filter(F.col("data_source") == "yahoo_finance").select("symbol", "date").distinct()
    both_src = av.intersect(yf).groupBy("symbol").agg(F.count("*").alias("n_both"))
    av_only = av.exceptAll(yf).groupBy("symbol").agg(F.count("*").alias("n_av_only"))
    symbols = p.select("symbol").distinct()
    return (
        symbols.join(both_src, "symbol", "left")
        .join(av_only, "symbol", "left")
        .select(
            "symbol",
            F.coalesce("n_both", F.lit(0)).alias("n_both"),
            F.coalesce("n_av_only", F.lit(0)).alias("n_av_only"),
        )
    )


# --- per-symbol statistics: exact percentiles + correlation / covariance ----
# ONE groupBy pass computes both families (formerly two queries = two scans).
# Percentiles: Spark percentile() and DuckDB quantile_cont() share the same
# linear interpolation over sorted values; computed on integer cents cast to
# double so inputs are bit-identical, making the interpolated doubles
# identical too. Correlations: co-moments accumulate in doubles with
# potentially different orders; rounding to 6 digits absorbs the ulp-level
# accumulation noise (boundary collisions are measure-zero).
_SYMBOL_STATS_ORACLE = oracle_with_prices(f"""
SELECT symbol,
  count(*) AS n_days,
  quantile_cont(CAST(close_c AS DOUBLE), 0.5) / 100.0 AS median_close,
  quantile_cont(CAST(close_c AS DOUBLE), 0.9) / 100.0 AS p90_close,
  quantile_cont(CAST(close_c AS DOUBLE), 0.99) / 100.0 AS p99_close,
  {sql_pround("corr(open, close)", 6)} AS corr_open_close,
  {sql_pround("corr(volume, close)", 6)} AS corr_volume_close,
  {sql_pround("covar_samp(open, close)", 6)} AS covar_open_close
FROM (
  SELECT symbol, open, close, volume,
    CAST(floor(close * 100 + 0.5) AS BIGINT) AS close_c
  FROM prices
) t
GROUP BY symbol
""".strip())


@spec("symbol_stats", oracle=_SYMBOL_STATS_ORACLE, tags=("percentile", "agg", "statistics"))
def q_symbol_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol exact percentiles (median / p90 / p99) + Pearson correlation
    + sample covariance in one aggregate pass. Corr/covar maintain mergeable
    O(1) co-moment state; exact percentile needs the sorted group in memory —
    fine per symbol-group here; at 100 TB switch to approx_percentile
    (t-digest) or the bounded cents-grid histogram (price_quantile_sketch is
    the demonstrated scale path)."""
    p = load_prices(spark, sf_dir)
    cents = F.floor(F.col("close") * 100 + F.lit(0.5)).cast("long").cast("double")
    t = p.select("symbol", "open", "close", "volume", cents.alias("close_c"))
    # ONE percentile aggregate over an ARRAY of percentages (round 14):
    # three scalar percentile() aggs each kept their own per-group sorted
    # buffer of every close — the array form builds the buffer once and
    # reads three ranks from it; returned doubles bit-identical (same
    # counts map, same per-q interpolation — probed on the live corpus),
    # 2.44 -> 1.77 s median at sf0.1.
    pcts = F.percentile("close_c", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        t.groupBy("symbol")
        .agg(
            F.count("*").alias("n_days"),
            pcts.alias("__pcts"),
            pround(F.corr("open", "close"), 6).alias("corr_open_close"),
            pround(F.corr("volume", "close"), 6).alias("corr_volume_close"),
            pround(F.covar_samp("open", "close"), 6).alias("covar_open_close"),
        )
        .select(
            "symbol",
            "n_days",
            (F.col("__pcts")[0] / 100.0).alias("median_close"),
            (F.col("__pcts")[1] / 100.0).alias("p90_close"),
            (F.col("__pcts")[2] / 100.0).alias("p99_close"),
            "corr_open_close",
            "corr_volume_close",
            "covar_open_close",
        )
    )


# (volume_histogram was retired in round 2 to free a registry slot for
# doc_dedup_clusters — its integer-bucket binning semantics remain
# driver-checked via source_report's distribution block and
# price_quantile_sketch's fixed-grid histogram, and equi-width bucketing
# stays available through operators/sketches.histogram_quantiles.)
