"""Streaming HLL distinct-count VIEW, materialized through SnapshotTable —
the composition of two components: ``hll_job``'s per-batch register store
(the sketch state) and ``sinks.snapshots``' atomic commits (the serving
layer).

Why compose them: the register store is correct but raw — a consumer has
to know the merge algebra (MAX per bucket, the m-width check, the
estimator constants) to read it. This job additionally materializes the
MERGED per-group estimate table after every micro-batch as one atomic
SnapshotTable commit, so any reader — batch Spark, another engine walking
the manifest, a dashboard — always sees a complete, consistent
"distinct users per group as of batch N" table, and time travel replays
the view's evolution batch by batch (snapshot k = the estimate after the
k-th micro-batch, a history the register store alone cannot serve
atomically).

Ordering/idempotency contract: per batch, registers land FIRST (dynamic
day=/batch_id= overwrite — replay rewrites the same partitions), then the
merged view commits with the batch_id as a manifest property. A replayed
batch whose view commit already exists is a full no-op (the view commit
existing proves the register write before it completed); a crash between
the two leaves the view one batch behind the store, and the replay closes
the gap. The view is always derived from the WHOLE store, so its content
is independent of how traffic was sliced into batches (the register-merge
associativity pinned in test_hll_job).

At scale: the view is |groups| rows — the commit cost is sketch-sized,
independent of traffic; the store grows with days × groups × m.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sinks.snapshots import SnapshotTable
from .hll_job import DEFAULT_M, hll_microbatch, read_distinct_estimates
from .jobs import run_foreach_batch


def hll_view_microbatch(
    batch_df: DataFrame,
    batch_id: int | str,
    store_dir: str,
    view_path: str,
    key_sql: str = "CAST(user_id AS STRING)",
    group_cols: tuple[str, ...] = ("event_type",),
    day_col: str = "ts",
    m: int = DEFAULT_M,
) -> bool:
    """One micro-batch: registers into the store, then the merged view as
    an atomic snapshot commit. Returns False for a replayed no-op batch.

    The view snapshot is committed with ``batch_id`` in its manifest; the
    commit existing proves the (earlier) register write completed, so a
    replay skips both legs."""
    table = SnapshotTable(view_path)
    if table.find_snapshot_by_property("batch_id", str(batch_id)) is not None:
        return False  # replayed batch: registers + view already landed
    hll_microbatch(
        batch_df, batch_id, store_dir, key_sql, group_cols, day_col, m
    )
    view = read_distinct_estimates(
        batch_df.sparkSession, store_dir, group_cols, m
    )
    table.commit_overwrite(view, properties={"batch_id": str(batch_id)})
    return True


def start_hll_view_stream(
    event_stream: DataFrame,
    store_dir: str,
    view_path: str,
    checkpoint_dir: str,
    key_sql: str = "CAST(user_id AS STRING)",
    group_cols: tuple[str, ...] = ("event_type",),
    day_col: str = "ts",
    m: int = DEFAULT_M,
):
    """foreachBatch driver for :func:`hll_view_microbatch`."""

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        hll_view_microbatch(
            batch_df,
            batch_id,
            store_dir,
            view_path,
            key_sql,
            group_cols,
            day_col,
            m,
        )

    return run_foreach_batch(event_stream, one_batch, checkpoint_dir)
