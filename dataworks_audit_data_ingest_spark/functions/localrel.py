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
Two differences remain: a tz-aware datetime anywhere in a
``timestamp_ntz`` field raises a ``TypeError`` naming the field (the
converter would stop on an ``assert``, which ``python -O`` strips, and
``createDataFrame(list)`` drops the offset); a Decimal with more
fractional digits than its column rounds half-even here, half-up in
``createDataFrame(list)``.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DataType,
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
    table = (
        LocalDataToArrowConversion.convert(rows, schema, False)
        if rows
        else to_arrow_schema(schema).empty_table()
    )
    return spark.createDataFrame(table, schema)


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
