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
One difference remains: a Decimal with more fractional digits than its
column rounds half-even here, half-up in ``createDataFrame(list)``.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier


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
    for row in rows:
        verify(row)
    table = (
        LocalDataToArrowConversion.convert(rows, schema, False)
        if rows
        else to_arrow_schema(schema).empty_table()
    )
    return spark.createDataFrame(table, schema)
