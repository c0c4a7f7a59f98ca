"""Streaming rollup maintenance drill (`streaming/rollup_job.py`): after
the stream drains, the store's report equals a batch recompute over all
events; a checkpointed restart replays to identical state."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataworks_audit_data_ingest_spark.incremental.rollup import (
    read_rollup,
)
from dataworks_audit_data_ingest_spark.streaming.rollup_job import (
    start_rollup_maintenance_stream,
)
from dataworks_audit_data_ingest_spark.tables import table

SF = "/root/testdata/sf0.001"

_COLS = ("event_id", "ts", "user_id", "event_type", "value")


def _spill_chunks(spark, src, n_chunks=3):
    ev = table(spark, SF, "events").select(*_COLS)
    for c in range(n_chunks):
        ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(n_chunks)) == c).coalesce(
            1
        ).write.parquet(f"{src}/c{c}")
    return ev.schema


def _report(spark, store):
    rep = read_rollup(spark, store)
    assert rep is not None
    return sorted(tuple(r) for r in rep.collect())


def _batch_reference(spark):
    cents = F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
    return sorted(
        tuple(r)
        for r in table(spark, SF, "events")
        .select(
            F.to_date("ts").alias("day"),
            "event_type",
            "user_id",
            cents.alias("cents"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("cents").alias("sum_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .collect()
    )


def test_stream_report_equals_batch_and_restart_is_noop(spark, tmp_path):
    src = str(tmp_path / "src")
    schema = _spill_chunks(spark, src)
    store = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/c*")
    )
    q = start_rollup_maintenance_stream(stream, store, ckpt)
    q.awaitTermination()

    want = _batch_reference(spark)
    assert _report(spark, store) == want

    # restart from the same checkpoint: nothing new to process, store
    # unchanged (the replay-discipline precondition in the module docs)
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/c*")
    )
    q2 = start_rollup_maintenance_stream(stream2, store, ckpt)
    q2.awaitTermination()
    assert _report(spark, store) == want


def test_in_stream_compaction_bounds_partitions_and_preserves_report(
    spark, tmp_path
):
    """compact_every folds mid-stream (current batch excluded), the
    drained report still equals batch, and the store's partition count is
    bounded; a checkpointed restart stays a no-op."""
    import os

    src = str(tmp_path / "src")
    schema = _spill_chunks(spark, src, n_chunks=6)
    store = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/c*")
    )
    q = start_rollup_maintenance_stream(
        stream, store, ckpt, compact_every=2
    )
    q.awaitTermination()

    want = _batch_reference(spark)
    assert _report(spark, store) == want
    parts = [n for n in os.listdir(store) if n.startswith("batch_id=")]
    # 6 batches: the fold after #1 folds batch 0 alone (excl 1) into
    # __compacted__; the folds after #3 and #5 each merge that
    # __compacted__ partition with the two batches before the current
    # one ({1,2} excl 3, then {3,4} excl 5) — fold -> update ->
    # fold-over-compacted is the path under test. End state: one
    # compacted partition + the in-flight batch 5.
    assert len(parts) == 2
    assert "batch_id=__compacted__" in parts
    assert "batch_id=000000000005" in parts

    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/c*")
    )
    q2 = start_rollup_maintenance_stream(
        stream2, store, ckpt, compact_every=2
    )
    q2.awaitTermination()
    assert _report(spark, store) == want
