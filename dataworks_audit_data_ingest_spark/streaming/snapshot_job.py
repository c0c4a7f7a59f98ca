"""Streaming micro-batch commits into a snapshot-isolated table.

The file-sink problem this solves: Spark's built-in parquet streaming sink
achieves exactly-once through its own checkpoint-coupled file log, which
only Spark can read — downstream non-Spark readers (or a reader listing
the directory mid-batch) see partial output. Committing each micro-batch
through ``sinks.snapshots.SnapshotTable`` instead gives every reader —
batch Spark jobs, other engines reading the manifest, time-travel
debuggers — the same guarantee: a micro-batch is visible atomically or
not at all.

Exactly-once across replays: ``foreachBatch`` may re-run a batch whose
sink work finished but whose checkpoint offset never committed. Each
snapshot records its ``batch_id`` as a manifest property; a replayed batch
finds its id already committed and becomes a no-op, so the table never
double-appends (same idempotency contract as the (cell, batch_id) dynamic
overwrite in ``streaming/index_job.py``, expressed at the commit layer
instead of the partition layer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sinks.snapshots import SnapshotTable
from .jobs import run_foreach_batch


def start_snapshot_stream(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
):
    """Append every micro-batch to a SnapshotTable, one atomic snapshot
    per batch, replay-idempotent via the batch_id manifest property."""
    table = SnapshotTable(table_path)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if table.find_snapshot_by_property("batch_id", str(batch_id)) is not None:
            return  # replayed batch: its snapshot already committed
        table.commit_append(batch_df, properties={"batch_id": str(batch_id)})

    return run_foreach_batch(stream_df, commit_batch, checkpoint_dir)
