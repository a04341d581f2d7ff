"""``session.local_frame``: driver rows enter Spark as an Arrow
``LocalRelation`` with the same values, schema and errors as
``spark.createDataFrame(rows, schema)``.

Parity runs with the PROCESS time zone at America/New_York while the session
time zone stays UTC, so any second time-zone conversion on the Arrow path
(naive datetimes are resolved against the process zone by
``TimestampType.toInternal``) would show as a shifted timestamp."""

from __future__ import annotations

import ast
import datetime as dt
import json
import math
import os
import pathlib
import re
import time

import pytest
from pyspark.sql import types as T

from stock_etl_pipeline_spark import sources
from stock_etl_pipeline_spark.operators.merge import merge_datasets
from stock_etl_pipeline_spark.schemas import RAW_SCHEMA
from stock_etl_pipeline_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "stock_etl_pipeline_spark"

STAMP = dt.datetime(2024, 6, 1, 12, 0, 0)
DST_GAP = dt.datetime(2024, 3, 10, 2, 30)  # does not exist in New York
DST_OVERLAP = dt.datetime(2024, 11, 3, 1, 30)  # exists twice in New York


@pytest.fixture
def new_york_tz():
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


def _jvm_schema(df) -> T.StructType:
    return T.StructType.fromJson(json.loads(df._jdf.schema().json()))


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _assert_parity(spark, rows, schema):
    old = spark.createDataFrame(rows, schema)
    new = local_frame(spark, rows, schema)
    assert repr(new.collect()) == repr(old.collect())
    assert new.schema == old.schema
    assert _jvm_schema(new) == _jvm_schema(old)
    assert "LocalRelation" in _optimized(new)
    return new


def test_raw_schema_rows_match_create_dataframe(spark, new_york_tz):
    rows = [
        (dt.date(2024, 5, 31), "AAPL", None, None, None, 101.0, None,
         "alpha_vantage", DST_GAP),
        (dt.date(2024, 5, 30), "AAPL", 98.0, 100.0, 97.5, 99.5, 2000,
         "alpha_vantage", DST_OVERLAP),
        (dt.date(1969, 7, 20), "MSFT", float("nan"), -0.0, 5e-324, 1.0,
         -1, "yahoo_finance", dt.datetime(1969, 7, 20, 20, 17, 40, 123456)),
    ]
    _assert_parity(spark, rows, RAW_SCHEMA)


def test_dict_rows_and_ddl_schema(spark, new_york_tz):
    rows = [
        {"d": dt.date(1900, 1, 1), "ts": DST_OVERLAP, "x": -0.0, "s": None},
        {"d": None, "ts": None, "x": float("nan"), "s": "é"},
    ]
    _assert_parity(spark, rows, "d date, ts timestamp, x double, s string")


def test_timestamp_ntz_matches(spark, new_york_tz):
    _assert_parity(spark, [(DST_GAP,), (None,)], "t timestamp_ntz")


def test_empty_list(spark):
    new = _assert_parity(spark, [], RAW_SCHEMA)
    assert new.count() == 0


def test_double_arrays_are_bit_exact(spark):
    vals = [0.1, -0.0, 5e-324, float("inf"), float("-inf"), 1.0 / 3.0, None]
    schema = "cid int, c_dbl array<double>, nested array<array<double>>"
    rows = [(1, vals, [vals[:3], [], None]), (2, [], None), (3, None, [[2.5]])]
    old = spark.createDataFrame(rows, schema).collect()
    new = _assert_parity(spark, rows, schema).collect()

    def hexed(rs):
        return [
            [None if v is None else v.hex() for v in (r["c_dbl"] or [])]
            for r in rs
        ]

    assert hexed(new) == hexed(old)
    assert hexed(new)[0][:4] == [v.hex() for v in vals[:4]]
    assert math.isnan(
        local_frame(spark, [([float("nan")],)], "v array<double>").first()["v"][0]
    )


def test_struct_array_model_rows(spark):
    # the broadcast k-means / PQ model shape
    cents = [(0, [1.5, float("inf")], 0.1), (1, [-0.0, 5e-324], None)]
    _assert_parity(
        spark,
        [(cents,)],
        "cents array<struct<cid:int,c_dbl:array<double>,cc:double>>",
    )


@pytest.mark.parametrize(
    "rows",
    [[(None,)], [("1.0",)]],
    ids=["none_in_non_nullable", "str_in_double"],
)
def test_errors_match_create_dataframe(spark, rows):
    schema = T.StructType([T.StructField("x", T.DoubleType(), nullable=False)])
    with pytest.raises(Exception) as old:
        spark.createDataFrame(rows, schema)
    with pytest.raises(Exception) as new:
        local_frame(spark, rows, schema)
    assert type(new.value) is type(old.value)


@pytest.mark.parametrize(
    "ddl",
    ["a array<date>", "m map<string,timestamp>", "s struct<t:timestamp_ntz>"],
)
def test_nested_datetime_is_refused(spark, ddl):
    with pytest.raises(TypeError, match="nests a date/timestamp"):
        local_frame(spark, [], ddl)


def test_arrow_table_passes_through(spark):
    import pyarrow as pa

    table = pa.table({"id": pa.array([3, 1], pa.int64()),
                      "root": pa.array([1, 1], pa.int64())})
    df = local_frame(spark, table, "id long, root long")
    assert [tuple(r) for r in df.collect()] == [(3, 1), (1, 1)]
    assert "LocalRelation" in _optimized(df)


# --- plan pins: the daily batch reads no PythonRDD -----------------------

AV_PAYLOAD = {
    "2024-05-31": {"1. open": "100.0", "2. high": "101.5", "3. low": "99.0",
                   "4. close": "101.0", "5. volume": "1000"},
}
YF_RECORDS = [
    {"Date": "2024-05-31", "Open": 100.0, "High": 101.5, "Low": 99.0,
     "Close": 101.2, "Volume": 1500, "Dividends": 0.0, "Stock Splits": 0.0},
]


def test_extract_and_merge_plans_are_local_relations(spark):
    av = sources.extract_alpha_vantage(
        spark, ["AAPL"], lambda s: AV_PAYLOAD, extracted_at=STAMP
    )
    yf = sources.extract_yahoo_finance(
        spark, ["AAPL"], lambda s: YF_RECORDS, extracted_at=STAMP
    )
    for df in (av, yf, merge_datasets([av, yf])):
        plan = _optimized(df)
        assert "LocalRelation" in plan
        assert "LogicalRDD" not in plan


def test_cc_local_finish_plan_ignores_arrow_conf(spark, monkeypatch):
    """The union-find finish hands Spark an Arrow table, so its labels are
    a LocalRelation even with pandas Arrow conversion switched off (the
    driver's plain session leaves it off)."""
    from stock_etl_pipeline_spark.operators.dedup import connected_components

    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL", "1000")
    pairs = local_frame(spark, [(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long")
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        out = connected_components(pairs)
    finally:
        spark.conf.set(key, old)
    # the node set is a JVM localCheckpoint (a LogicalRDD of its own); the
    # labels relation is what must not be a PythonRDD
    assert re.search(r"LocalRelation \[id#\d+L, root#\d+L\]", _optimized(out))
    labels = {r["doc_id"]: r["keeper_id"] for r in out.collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


class _CreateDataFrameUses(ast.NodeVisitor):
    """Every ``.createDataFrame`` reference, with its innermost enclosing
    function and, when called, its argument count."""

    def __init__(self):
        self.fn = None
        self.uses = []

    def visit_FunctionDef(self, node):
        outer, self.fn = self.fn, node.name
        self.generic_visit(node)
        self.fn = outer

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        func = node.func
        if isinstance(func, ast.Attribute) and func.attr == "createDataFrame":
            self.uses.append((self.fn, len(node.args) + len(node.keywords)))
            self.visit(func.value)
            for arg in [*node.args, *node.keywords]:
                self.visit(arg)
        else:
            self.generic_visit(node)

    def visit_Attribute(self, node):
        if node.attr == "createDataFrame":
            self.uses.append((self.fn, None))  # referenced, not called
        self.generic_visit(node)


def test_create_dataframe_only_in_local_frame():
    """Driver rows enter Spark only through ``local_frame``. The one other
    allowed call is ``sources.from_records`` without a schema, which keeps
    Spark's schema inference on purpose (``createDataFrame(data)``, one
    argument)."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        v = _CreateDataFrameUses()
        v.visit(ast.parse(path.read_text()))
        rel = path.relative_to(PKG).as_posix()
        found += [(rel, fn, n_args) for fn, n_args in v.uses]
    assert sorted(found) == [
        ("session.py", "local_frame", 2),
        ("sources/__init__.py", "from_records", 1),
    ]
