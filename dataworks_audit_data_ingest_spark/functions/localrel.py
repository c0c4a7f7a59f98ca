"""Driver-side row sets as Arrow local relations.

``spark.createDataFrame(list_of_rows)`` parallelizes the pickled rows into
an ``ExistingRDD`` whose every evaluation round-trips through Python
workers: a 2-row fold-manifest write costs ~1.3 s at local[4] (4.3 s at
local[32]). The fold manifests, forget intents, audit rows, touched-group
sets, key lists and tiny dimensions this engine builds on hot paths are
handful-of-rows relations, so :func:`local_rows_df` hands the same rows to
Spark as one ``pyarrow.Table``: the plan is a ``LocalTableScan`` with no
Python workers (~0.2 s for the same write, PERF.md "Driver-side local
relations").

Rows are checked with the verifier ``createDataFrame(list)`` runs, and
converted with the converter Spark Connect's ``createDataFrame`` runs, so
a wrong type, an out-of-range integer, a short or long row or a None in a
non-nullable field raises at construction, never as a NULL at action
time; timestamps are read as ``createDataFrame`` reads them (naive
``timestamp`` values as local time, ``timestamp_ntz`` as wall clock).
A Decimal with more fractional digits than its column rounds half-up to
the column's scale, at top level and nested, as in
``createDataFrame(list)`` (the converter alone would round half-even).
One difference remains: a tz-aware datetime anywhere in a
``timestamp_ntz`` field raises a ``TypeError`` naming the field (the
converter would stop on an ``assert``, which ``python -O`` strips, and
``createDataFrame(list)`` drops the offset).
"""

from __future__ import annotations

import decimal
from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DecimalType,
    MapType,
    StructType,
    TimestampNTZType,
    _make_type_verifier,
)


def local_rows_df(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """The values and schema ``createDataFrame(list)`` gives, planned as a
    ``LocalTableScan``. Tuples and Rows are read positionally, dicts by
    field name."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    verify = _make_type_verifier(schema)
    ntz = [i for i, f in enumerate(schema.fields) if _holds_ntz(f.dataType)]
    for row in rows:
        verify(row)
        for i in ntz:
            f = schema.fields[i]
            if _has_aware(f.dataType, _values(schema, row)[i]):
                raise TypeError(
                    f"field {f.name!r} ({f.dataType.simpleString()}) takes naive "
                    "datetimes; got a tz-aware one"
                )
    half_up = _half_up(schema)
    if half_up:
        rows = [half_up(row) for row in rows]
    table = (
        LocalDataToArrowConversion.convert(rows, schema, False)
        if rows
        else to_arrow_schema(schema).empty_table()
    )
    return spark.createDataFrame(table, schema)


def _half_up(dt: DataType) -> Callable | None:
    """A function that rounds every Decimal in a verified ``dt`` value
    half-up to its column's scale, or None when ``dt`` holds no decimal.
    Struct values come back as tuples in field order, which the converter
    reads as it reads the original."""
    if isinstance(dt, DecimalType):
        # the converter's precision, so a value too long for it still raises
        ctx = decimal.Context(prec=dt.precision, rounding=decimal.ROUND_HALF_UP)
        exp = decimal.Decimal(1).scaleb(-dt.scale)
        return lambda v: v if v is None else v.quantize(exp, context=ctx)
    if isinstance(dt, ArrayType):
        elem = _half_up(dt.elementType)
        return elem and (lambda v: v if v is None else [elem(x) for x in v])
    if isinstance(dt, MapType):
        key, val = _half_up(dt.keyType), _half_up(dt.valueType)
        if not (key or val):
            return None
        key, val = key or _same, val or _same
        return lambda v: v if v is None else {key(k): val(x) for k, x in v.items()}
    if isinstance(dt, StructType):
        fields = [_half_up(f.dataType) for f in dt.fields]
        if not any(fields):
            return None
        fields = [f or _same for f in fields]
        return lambda v: (
            v
            if v is None
            else tuple(f(x) for f, x in zip(fields, _values(dt, v)))
        )
    return None


def _same(value):
    return value


def _holds_ntz(dt: DataType) -> bool:
    return "timestamp_ntz" in dt.simpleString()


def _values(struct: StructType, row) -> Sequence:
    """A verified struct value in field order: tuples and Rows by
    position, dicts and plain objects by field name."""
    if isinstance(row, (tuple, list)):
        return row
    by_name = row if isinstance(row, dict) else vars(row)
    return [by_name.get(f.name) for f in struct.fields]


def _has_aware(dt: DataType, value) -> bool:
    """Whether ``value`` holds a tz-aware datetime where ``dt`` declares a
    ``timestamp_ntz``."""
    if value is None or not _holds_ntz(dt):
        return False
    if isinstance(dt, TimestampNTZType):
        return value.tzinfo is not None
    if isinstance(dt, ArrayType):
        return any(_has_aware(dt.elementType, v) for v in value)
    if isinstance(dt, MapType):
        return any(
            _has_aware(dt.keyType, k) or _has_aware(dt.valueType, v)
            for k, v in value.items()
        )
    # a struct: the one other type that can hold a timestamp_ntz
    return any(
        _has_aware(f.dataType, v) for f, v in zip(dt.fields, _values(dt, value))
    )
