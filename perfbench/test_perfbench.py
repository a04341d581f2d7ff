"""Tests of the benchmark's own code (no Spark session needed).

Run: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os

import pytest

import checks
import datagen
import stats
from spans import parse_metric


# --- tail percentile: the highest with at least 10 samples beyond it -------


def test_tail_of_23_samples_is_p56_rank_13():
    values = [float(v) for v in range(23, 0, -1)]  # unsorted on purpose
    value, p, n = stats.tail(values)
    assert (p, n) == (56, 23)
    assert value == 13.0  # rank ceil(0.56 * 23) = 13; 10 samples lie beyond


def test_tail_rule_is_the_highest_qualifying_percentile():
    for n in range(11, 400):
        _, p, _ = stats.tail(list(range(n)))
        beyond = lambda q: n - math.ceil(q * n / 100)  # noqa: E731
        assert beyond(p) >= 10
        assert p == 99 or beyond(p + 1) < 10


def test_tail_needs_more_than_ten_samples():
    assert stats.tail(list(range(11)))[0] == 0  # p9: the minimum, 10 beyond
    with pytest.raises(ValueError):
        stats.tail(list(range(10)))


# --- fail_ratio --------------------------------------------------------------


def test_fail_ratio_counts_failed_against_attempted():
    assert stats.fail_ratio([True, False, True, True, False]) == (5, 2, 0.4)
    assert stats.fail_ratio(iter([True] * 3)) == (3, 0, 0.0)
    assert stats.fail_ratio([]) == (0, 0, 0.0)


# --- seeded batch stream -----------------------------------------------------


def _stream_bytes(seed: int, n: int) -> bytes:
    out = []
    for k in range(n):
        av, yf = datagen.provider_payloads(datagen.batch_rows(seed, k))
        out.append([av, yf])
    return json.dumps(out, sort_keys=True).encode()


def test_same_seed_gives_byte_identical_batches():
    assert _stream_bytes(11, 12) == _stream_bytes(11, 12)
    # batch k depends on (seed, k) only, not on what was generated before
    late = datagen.provider_payloads(datagen.batch_rows(11, 9))
    assert json.dumps(late, sort_keys=True).encode() in _stream_bytes(11, 12)
    assert _stream_bytes(11, 12) != _stream_bytes(12, 12)


def test_batches_have_unique_keys_a_new_day_corrections_and_replays():
    first = datagen.FIRST_GOLD_DATE
    for k in range(30):
        rows = datagen.batch_rows(5, k)
        keys = [(r["date"], r["symbol"], r["data_source"]) for r in rows]
        assert len(keys) == len(set(keys))
        day = datagen.FIRST_BATCH_DATE + dt.timedelta(days=k)
        assert sum(r["date"] == day for r in rows) == 32
        assert len(rows) == 32 + datagen.CORRECTIONS + (datagen.REPLAYS if k else 0)
        assert all(first <= r["date"] <= day for r in rows)
        assert all(r["low"] <= min(r["open"], r["close"]) and r["close"] > 0 for r in rows)
        late = rows[32:]
        assert len({r["date"] for r in late}) == len(late) and day not in {r["date"] for r in late}
        earlier = [datagen.batch_rows(5, j)[:32] for j in range(k)]
        assert all(any(r in b for b in earlier) for r in rows[32 + datagen.CORRECTIONS:])


# --- expected gold: keep-latest over the seed and the batches ----------------


def _tiny_expected():
    import duckdb

    prices = (
        "SELECT * FROM (VALUES "
        "(DATE '2001-11-01', 'SYM00', 10.0, 12.0, 9.0, 11.0, 100, 'alpha_vantage'), "
        "(DATE '2001-11-01', 'SYM00', 10.0, 12.0, 9.0, 10.5, 300, 'alpha_vantage'), "
        "(DATE '2001-11-02', 'SYM01', 20.0, 21.0, 19.0, 20.5, 200, 'yahoo_finance'), "
        "(DATE '2000-01-01', 'SYM02', 5.0, 6.0, 4.0, 5.5, 50, 'yahoo_finance')"
        ") t(date, symbol, open, high, low, close, volume, data_source)"
    )
    d1, d2, d5 = dt.date(2001, 11, 1), dt.date(2001, 11, 2), dt.date(2001, 11, 5)
    row = lambda d, s, src, o, c, v: {  # noqa: E731
        "date": d, "symbol": s, "data_source": src,
        "open": o, "high": max(o, c) + 1.0, "low": min(o, c) - 1.0, "close": c, "volume": v,
    }
    batches = [
        (0, [row(d5, "SYM00", "alpha_vantage", 8.0, 10.0, None),   # new day
             row(d2, "SYM01", "yahoo_finance", 20.0, 22.0, 7)]),   # correction
        (1, [row(d5, "SYM00", "alpha_vantage", 8.0, 10.0, None)]),  # replay
    ]
    con = duckdb.connect()
    cols, rows = checks.expected_gold(con, checks.gold_seed_sql(prices, "2001-01-01"), batches)
    con.close()
    return cols, rows


def test_expected_gold_keeps_the_latest_row_per_key():
    cols, rows = _tiny_expected()
    assert tuple(cols) == checks.GOLD_COLUMNS
    got = {(r[0], r[1], r[7]): dict(zip(cols, r)) for r in rows}
    # the seed row outside the gold window is gone; one row per key
    assert sorted(got) == [
        (dt.date(2001, 11, 1), "SYM00", "alpha_vantage"),
        (dt.date(2001, 11, 2), "SYM01", "yahoo_finance"),
        (dt.date(2001, 11, 5), "SYM00", "alpha_vantage"),
    ]
    seed = got[(dt.date(2001, 11, 1), "SYM00", "alpha_vantage")]
    assert (seed["close"], seed["volume"]) == (10.5, 300)  # lowest duplicate wins
    assert seed["processed_at"] == datagen.BASE_STAMP
    assert seed["daily_change_pct"] == 5.0 and seed["daily_volatility"] == 30.0
    fixed = got[(dt.date(2001, 11, 2), "SYM01", "yahoo_finance")]
    assert (fixed["close"], fixed["volume"]) == (22.0, 7)
    assert fixed["processed_at"] == datagen.batch_stamp(0)
    assert fixed["daily_change_pct"] == 10.0 and fixed["daily_volatility"] == 20.0
    new = got[(dt.date(2001, 11, 5), "SYM00", "alpha_vantage")]
    assert new["volume"] == 0  # null volume -> 0, as the transform does
    assert new["processed_at"] == datagen.batch_stamp(1)  # the replay is latest
    assert new["daily_change_pct"] == 25.0


def test_gold_mismatch_names_the_differing_dates():
    cols, rows = _tiny_expected()
    assert checks.gold_mismatch_dates(cols, rows, cols, list(reversed(rows))) == set()
    changed = [r if r[0] != dt.date(2001, 11, 2) else (*r[:5], 23.0, *r[6:]) for r in rows]
    assert checks.gold_mismatch_dates(cols, rows, cols, changed) == {dt.date(2001, 11, 2)}
    assert checks.gold_mismatch_dates(cols, rows, cols, rows[:-1]) == {rows[-1][0]}


# --- committed inputs and digests --------------------------------------------


def test_committed_tables_are_the_ones_expected_json_was_made_from():
    with open(os.path.join(os.path.dirname(datagen.DATA_DIR), "expected.json")) as f:
        expected = json.load(f)
    assert datagen.tables_fingerprint() == expected["inputs"]


def test_digest_is_order_insensitive_and_exact():
    a = checks.digest(["b", "A"], [(1, 0.1), (2, 0.2)])
    assert a == checks.digest(["A", "b"], [(0.2, 2), (0.1, 1)])
    assert a != checks.digest(["b", "A"], [(1, 0.1), (2, 0.20000000000000004)])
    assert a != checks.digest(["b", "A"], [(1, 0.1)])


def test_parse_status_store_metrics():
    assert parse_metric("48 ms") == pytest.approx(0.048)
    assert parse_metric("total (min, med, max (stageId: taskId))\n11.2 s (2.6 s, 2.8 s, 3.0 s (stage 0.0: task 2))") == pytest.approx(11.2)
    assert parse_metric("783.3 KiB (195.8 KiB, 195.8 KiB, 195.8 KiB (stage 0.0: task 1))") == pytest.approx(783.3 * 1024)
    assert parse_metric("100,000") == 100000
    assert parse_metric("1.5 m") == 90.0
