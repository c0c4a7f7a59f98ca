"""Fixture-loader normalization: ``events.ts`` has shipped in two physical
parquet forms across driver fixture generations — INT64 TIMESTAMP(NANOS)
(rounds 1-2) and TIMESTAMP(MICROS, isAdjustedToUTC=false) i.e. Spark
TIMESTAMP_NTZ (round 3+). ``tables.table()`` must load either to the same
session-zoned ``ts: timestamp`` column with identical microsecond values,
or every downstream ``unix_micros``/``window``/``withWatermark`` breaks.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dataworks_audit_data_ingest_spark.tables import table

# 2024-03-01T12:00:00.123456789 and one second later, as epoch nanos.
_NANOS = [1709294400123456789, 1709294401123456789]


def _write_events(path, ts_array):
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 10], pa.int64()),
        }
    )
    pq.write_table(tbl, path, version="2.6", coerce_timestamps=None)


def test_events_ts_nanos_long_form(spark, tmp_path):
    _write_events(
        str(tmp_path / "events.parquet"), pa.array(_NANOS, pa.timestamp("ns"))
    )
    df = table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r.ts for r in df.orderBy("event_id").collect()]
    # nanos truncate toward zero to micros
    assert got[0] == datetime.datetime(2024, 3, 1, 12, 0, 0, 123456)


def test_events_ts_micros_ntz_form(spark, tmp_path):
    micros = pa.array([n // 1000 for n in _NANOS], pa.timestamp("us"))
    _write_events(str(tmp_path / "events.parquet"), micros)
    df = table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r.ts for r in df.orderBy("event_id").collect()]
    assert got[0] == datetime.datetime(2024, 3, 1, 12, 0, 0, 123456)


def test_both_forms_load_identically(spark, tmp_path):
    d_ns, d_us = tmp_path / "ns", tmp_path / "us"
    d_ns.mkdir()
    d_us.mkdir()
    _write_events(str(d_ns / "events.parquet"), pa.array(_NANOS, pa.timestamp("ns")))
    _write_events(
        str(d_us / "events.parquet"),
        pa.array([n // 1000 for n in _NANOS], pa.timestamp("us")),
    )
    rows_ns = table(spark, str(d_ns), "events").orderBy("event_id").collect()
    rows_us = table(spark, str(d_us), "events").orderBy("event_id").collect()
    assert rows_ns == rows_us


# ---------------------------------------------------------------------------
# spread(): the scale-adaptive map-stage parallelizer (round-12 optimization)
# ---------------------------------------------------------------------------


def test_spread_parallelizes_small_local_fixture(spark):
    from dataworks_audit_data_ingest_spark.tables import spread

    sf = "/root/testdata/sf0.001"
    df = table(spark, sf, "lineitem")
    out = spread(df, sf, "l_orderkey")
    cores = spark.sparkContext.defaultParallelism
    # default mult=1 since round 13 (one wave of tasks fills the cores;
    # cores×2 only doubled scheduling overhead — interleaved A/B)
    assert out.rdd.getNumPartitions() == cores
    # identical rows, only placement changed
    assert out.count() == df.count()


def test_spread_noop_when_input_not_statable(spark):
    """A non-local (or missing) path means the input cannot be proven tiny:
    spread must be the identity so a 100 TB scan is never re-shuffled."""
    from dataworks_audit_data_ingest_spark.tables import spread

    sf = "/root/testdata/sf0.001"
    df = table(spark, sf, "lineitem")
    out = spread(df, "hdfs://nowhere/warehouse/lineitem", "l_orderkey")
    assert out is df


def _tiny_fixture(spark, tmp_path):
    pq.write_table(
        pa.table({"doc_id": pa.array(range(8), pa.int64())}),
        str(tmp_path / "documents.parquet"),
    )
    return table(spark, str(tmp_path), "documents")


@pytest.mark.parametrize("max_bytes", ["1t", "64m"])
def test_spread_reads_spark_byte_strings(spark, tmp_path, max_bytes):
    """maxPartitionBytes takes any Spark byte string; "1t" once crashed a
    hand-rolled suffix parser with ValueError."""
    from dataworks_audit_data_ingest_spark.tables import spread

    df = _tiny_fixture(spark, tmp_path)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", max_bytes)
    try:
        out = spread(df, str(tmp_path), "doc_id")
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_gate_follows_a_changed_conf(spark, tmp_path):
    """The cached gate is keyed on maxPartitionBytes: once cores × the
    split size no longer exceeds the fixture's bytes, the next call must
    stop spreading instead of reusing the gate of the first call."""
    from dataworks_audit_data_ingest_spark.tables import spread

    df = _tiny_fixture(spark, tmp_path)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64m")
        assert spread(df, str(tmp_path), "doc_id") is not df
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
        assert spread(df, str(tmp_path), "doc_id") is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_spread_keyed_result_invariance(spark):
    """Decimal-exact aggregation is partition-invariant: spread must not
    change any aggregate value (the oracle sweep checks this end-to-end;
    this pins it at unit level)."""
    from pyspark.sql import functions as F

    from dataworks_audit_data_ingest_spark.tables import spread

    sf = "/root/testdata/sf0.001"
    df = table(spark, sf, "lineitem")
    agg = lambda d: (  # noqa: E731
        d.groupBy("l_returnflag")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("s"))
        .orderBy("l_returnflag")
        .collect()
    )
    assert agg(df) == agg(spread(df, sf, "l_orderkey"))


def test_schema_cache_invalidates_on_rewrite(spark, tmp_path):
    """The inferred-schema cache (optimization round 12) keys on
    (path, mtime_ns, size): rewriting a fixture path with a DIFFERENT
    schema must re-infer, never serve the stale cached one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "documents.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array([1], pa.int64())}), path
    )
    first = table(spark, str(tmp_path), "documents")
    assert first.columns == ["doc_id"]
    # the rewrite below changes the file SIZE, which is the invalidator
    # this case exercises (mtime granularity is covered separately by the
    # same-size test's explicit utime bump)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "text": pa.array(["a", "b"], pa.string()),
            }
        ),
        path,
    )
    second = table(spark, str(tmp_path), "documents")
    assert second.columns == ["doc_id", "text"]
    assert second.count() == 2


def test_schema_cache_invalidates_on_same_size_rewrite(spark, tmp_path):
    """A rewrite that leaves the byte size unchanged must still re-infer
    when the mtime moves (explicit utime bump — coarse-mtime filesystems
    would otherwise alias the two writes)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"aa": pa.array([1], pa.int64())}), path)
    st0 = os.stat(path)
    assert table(spark, str(tmp_path), "documents").columns == ["aa"]
    # same column width/name length → same parquet byte size
    pq.write_table(pa.table({"bb": pa.array([1], pa.int64())}), path)
    assert os.stat(path).st_size == st0.st_size, "fixture must be same-size"
    os.utime(path, ns=(st0.st_atime_ns, st0.st_mtime_ns + 1_000_000_000))
    assert table(spark, str(tmp_path), "documents").columns == ["bb"]


def test_schema_cache_is_path_keyed_not_unbounded(spark, tmp_path):
    """Rewriting one path must REPLACE its cache entry, not accumulate a
    new (path, mtime, size) entry per rewrite (ADVICE round 13)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataworks_audit_data_ingest_spark.tables import _SCHEMA_CACHE

    path = str(tmp_path / "documents.parquet")
    for n in (1, 2, 3):
        pq.write_table(
            pa.table({"doc_id": pa.array(list(range(n)), pa.int64())}), path
        )
        table(spark, str(tmp_path), "documents").count()
    assert sum(1 for k in _SCHEMA_CACHE if k == path) == 1


def test_schema_cache_skips_directories(spark, tmp_path):
    """A parquet DIRECTORY (Spark-written store) must never be served a
    cached schema: part files can be rewritten in place with the same
    names, making the dir inode a weak invalidation key, and a stale
    explicit schema would silently null-fill instead of erroring."""
    from dataworks_audit_data_ingest_spark.tables import (
        _SCHEMA_CACHE,
        _cached_schema,
    )

    d = tmp_path / "documents.parquet"
    d.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": pa.array([1], pa.int64())}), str(d / "part-0.parquet")
    )
    assert _cached_schema(spark, str(d)) is None
    assert str(d) not in _SCHEMA_CACHE
    # and table() still reads it fine via plain inference
    assert table(spark, str(tmp_path), "documents").columns == ["doc_id"]


def test_tune_confs_survive_conf_mutating_operator(spark):
    """tune() applies _RUNTIME_CONF once per session, so any operator that
    mutates a session conf MUST restore it (the invariant is implicit in
    tune-once; VERDICT round 12 asked for it to be pinned by a test). The
    one in-repo mutator is scripted_connected_components
    (spark.sql.scripting.enabled); run it, then assert every pinned conf
    still holds for the queries that follow."""
    from dataworks_audit_data_ingest_spark.functions.scripted import (
        scripted_connected_components,
    )
    from dataworks_audit_data_ingest_spark.session import _RUNTIME_CONF, tune

    tune(spark)
    before = {k: spark.conf.get(k) for k in _RUNTIME_CONF}
    assert before == _RUNTIME_CONF
    scripting_before = spark.conf.get("spark.sql.scripting.enabled", "false")

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    scripted_connected_components(spark, pairs).collect()

    # back-to-back table loads take the tuned-flag short-circuit; the
    # pinned confs must still hold on the raw session
    table(spark, "/root/testdata/sf0.001", "events").count()
    after = {k: spark.conf.get(k) for k in _RUNTIME_CONF}
    assert after == _RUNTIME_CONF
    assert spark.conf.get("spark.sql.scripting.enabled", "false") == scripting_before


def test_schema_cache_returns_identical_schema_on_hit(spark):
    """A cache hit must hand back the same schema inference would produce
    (the real fixture exercises decimals, timestamps, and arrays)."""
    sf = "/root/testdata/sf0.001"
    cached = table(spark, sf, "lineitem").schema  # second call = cache hit
    fresh = spark.read.parquet(f"{sf}/lineitem.parquet").schema
    assert cached == fresh


def test_tune_tries_each_conf_once_per_session():
    """A conf the deployment refuses is tried once, not again with a Py4J
    error on every table() load: tune() latches whatever the outcome."""
    from dataworks_audit_data_ingest_spark.session import _RUNTIME_CONF, tune

    refused = "spark.sql.legacy.parquet.nanosAsLong"
    calls = []

    class _Conf:
        def set(self, k, v):
            calls.append(k)
            if k == refused:
                raise RuntimeError(f"cannot modify {k}")

    class _Session:
        conf = _Conf()
        _dwadi_pkg_shipped = True

    session = _Session()
    assert tune(session) is session
    assert calls == list(_RUNTIME_CONF)
    tune(session)
    assert calls == list(_RUNTIME_CONF)
