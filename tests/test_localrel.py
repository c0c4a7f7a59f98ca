"""functions/localrel.py — driver-side row sets as Arrow local relations.

``local_rows_df`` must give the values and schema ``createDataFrame(list)``
gives, whatever the process time zone, plan as a ``LocalTableScan`` (no
Python-worker RDD), and reject a bad row when it is built — not as a NULL
or an error at action time, with ANSI on or off."""

from __future__ import annotations

import datetime
import decimal
import time

import pytest
from pyspark.sql import functions as F

from dataworks_audit_data_ingest_spark.functions.localrel import local_rows_df

ZONES = ("America/New_York", "Asia/Kolkata")

_TS = datetime.datetime(2031, 3, 1, 12, 0, 0, 123456)
_IST = datetime.timezone(datetime.timedelta(hours=5, minutes=30))

# (id, ddl, rows): one case per column type, plus empty input and a row
# set larger than any literal-plan cap
CASES = [
    ("string", "v string", [("a",), ("",), (None,)]),
    ("bigint", "v bigint", [(2**40,), (-1,), (None,)]),
    ("double", "v double", [(1.5,), (float("inf"),), (None,)]),
    ("boolean", "v boolean", [(True,), (False,), (None,)]),
    ("decimal", "v decimal(12,2)", [(decimal.Decimal("1234.50"),), (None,)]),
    ("date", "v date", [(datetime.date(2031, 3, 1),), (None,)]),
    ("binary", "v binary", [(b"\x00\xff",), (bytearray(b"x"),), (None,)]),
    ("timestamp", "v timestamp", [(_TS,), (_TS.replace(tzinfo=_IST),), (None,)]),
    ("timestamp_ntz", "v timestamp_ntz", [(_TS,), (None,)]),
    ("array", "v array<int>", [([1, None, 3],), ([],), (None,)]),
    ("struct", "v struct<x:int,y:string>", [((1, "a"),), ((None, None),), (None,)]),
    ("map", "v map<string,bigint>", [({"a": 1, "b": None},), (None,)]),
    ("empty", "s string, i bigint", []),
    ("rows201", "i bigint, s string", [(i, str(i)) for i in range(201)]),
]


@pytest.fixture
def local_tz(monkeypatch):
    """Set the process time zone (what naive datetimes are read in)."""

    def set_tz(tz: str) -> None:
        monkeypatch.setenv("TZ", tz)
        time.tzset()

    yield set_tz
    monkeypatch.undo()
    time.tzset()


def _assert_same(fast, slow):
    assert fast.schema == slow.schema
    assert fast.collect() == slow.collect()


@pytest.mark.parametrize("tz", ZONES)
@pytest.mark.parametrize("ddl, rows", [c[1:] for c in CASES], ids=[c[0] for c in CASES])
def test_matches_createDataFrame_per_type(spark, local_tz, tz, ddl, rows):
    local_tz(tz)
    _assert_same(local_rows_df(spark, rows, ddl), spark.createDataFrame(rows, ddl))


def test_matches_createDataFrame_values_and_schema(spark, local_tz):
    rows = [
        ("a", 1, 1.5, True, None),
        ("b", None, None, None, datetime.datetime(2031, 3, 1, 12, 0)),
    ]
    ddl = "s string, i bigint, d double, b boolean, ts timestamp"
    for tz in ZONES:
        local_tz(tz)
        fast = local_rows_df(spark, rows, ddl)
        _assert_same(fast, spark.createDataFrame(rows, ddl))
        # the instant, not just the round trip: a naive value is local time
        want = int(rows[1][4].timestamp() * 1_000_000)
        assert fast.select(F.unix_micros("ts")).collect()[1][0] == want


def test_is_a_jvm_plan_not_a_python_rdd(spark):
    for _, ddl, rows in CASES:
        plan = local_rows_df(spark, rows, ddl)._jdf.queryExecution()
        assert plan.executedPlan().toString().startswith("LocalTableScan"), ddl


def test_joins_and_writes_like_any_dataframe(spark, tmp_path):
    dim = local_rows_df(
        spark,
        [("low", 0, 10), ("high", 10, 100)],
        "band string, lo bigint, hi bigint",
    )
    fact = spark.range(20).select(F.col("id").alias("v"))
    joined = fact.join(
        F.broadcast(dim), (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))
    )
    assert joined.groupBy("band").count().count() == 2
    dim.coalesce(1).write.parquet(str(tmp_path / "dim.parquet"))
    back = spark.read.parquet(str(tmp_path / "dim.parquet"))
    assert sorted(back.collect()) == sorted(dim.collect())


def test_row_objects_are_positional(spark):
    src = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    back = local_rows_df(spark, src.collect(), src.schema)
    assert sorted(back.collect()) == sorted(src.collect())


def test_dict_rows_are_read_by_field_name(spark):
    rows = [{"v": 2, "k": 1}, {"k": 3}]
    ddl = "k bigint, v bigint"
    _assert_same(local_rows_df(spark, rows, ddl), spark.createDataFrame(rows, ddl))


def _raises_at_construction(spark, rows, ddl, ansi):
    """Building the relation itself raises — no action is run, so a bad
    value can never become a NULL that an ANSI-off cast would let by."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        with pytest.raises((TypeError, ValueError, ArithmeticError)):
            local_rows_df(spark, rows, ddl)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


_WRONG_TYPED = [
    ([(2**40,)], "i int"),
    ([("7",)], "i bigint"),
    ([(True,)], "i bigint"),
    ([(1.5,)], "i bigint"),
    ([(decimal.Decimal("1e20"),)], "d decimal(12,2)"),
]


def test_wrong_typed_value_raises_at_construction(spark):
    for rows, ddl in _WRONG_TYPED:
        _raises_at_construction(spark, rows, ddl, "true")


def test_wrong_type_never_silently_nulls_even_ansi_off(spark):
    for rows, ddl in _WRONG_TYPED:
        _raises_at_construction(spark, rows, ddl, "false")


@pytest.mark.parametrize("bad", [[("only",)]])
def test_arity_mismatch_raises(spark, bad):
    for ansi in ("true", "false"):
        _raises_at_construction(spark, bad, "a string, b string", ansi)


def test_extra_fields_raise_like_createDataFrame(spark):
    """A row longer than the schema raises; it is never truncated."""
    for ansi in ("true", "false"):
        _raises_at_construction(spark, [(1, 2)], "a bigint", ansi)


@pytest.mark.parametrize(
    "ddl, row",
    [
        ("id bigint, v timestamp_ntz", (1, _TS.replace(tzinfo=_IST))),
        ("id bigint, v timestamp_ntz", {"id": 1, "v": _TS.replace(tzinfo=_IST)}),
        ("id bigint, v array<timestamp_ntz>", (1, [_TS, _TS.replace(tzinfo=_IST)])),
        ("id bigint, v map<string,timestamp_ntz>", (1, {"k": _TS.replace(tzinfo=_IST)})),
        ("id bigint, v struct<t:timestamp_ntz>", (1, (_TS.replace(tzinfo=_IST),))),
    ],
    ids=["tuple", "dict", "array", "map", "struct"],
)
def test_aware_datetime_in_timestamp_ntz_raises_type_error(spark, ddl, row):
    """A checked ``TypeError`` naming the field, not the converter's
    ``assert`` (gone under ``python -O``)."""
    with pytest.raises(TypeError, match="field 'v'"):
        local_rows_df(spark, [(0, None), row], ddl)
