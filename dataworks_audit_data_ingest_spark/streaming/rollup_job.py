"""Streaming continuous-aggregate maintenance: keep the rollup store
(`incremental/rollup.py`) current over an unbounded event stream, one
micro-batch at a time.

Why foreachBatch rather than a stateful streaming aggregation: the store
must outlive the query (batch jobs, ad-hoc reports, and GDPR forget all
read/mutate the SAME parquet state), must support exact
``COUNT(DISTINCT user_id)`` at read time, and must stay compactable —
none of which Structured Streaming's internal state store exposes. The
update path is write-only and O(micro-batch); the standing report is
``read_rollup(store)`` at any moment, equal to a batch recompute over
every event ingested so far (drill-pinned, late days included — a late
event's partial simply lands in its arrival batch).

Replay discipline is the family's: partials are keyed by micro-batch id
(dynamic overwrite ⇒ crash replay rewrites identical rows); restart from
the SAME checkpoint so batch slicing is stable. Compaction between runs
must exclude `~..incremental.store.checkpoint_replayable_ids`.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

from ..incremental.rollup import update_rollup_store
from ..incremental.store import resolve_stream_batch_id
from .jobs import run_foreach_batch

logger = logging.getLogger(__name__)


def start_rollup_maintenance_stream(
    events_stream: DataFrame,
    rollup_store: str,
    checkpoint_dir: str,
    *,
    ts_col: str = "ts",
    type_col: str = "event_type",
    user_col: str = "user_id",
    value_col: str = "value",
    compact_every: int | None = None,
):
    """foreachBatch rollup maintenance over a (ts, event_type, user_id,
    value, ...) stream: after every micro-batch the store's merged report
    covers all events ingested so far. Returns the started query.

    ``compact_every=N`` folds the store every N micro-batches, keeping
    the partition count O(1) over a long-lived stream. The CURRENT batch
    is always excluded from the fold: its store partition is committed,
    but the checkpoint's commit-log entry lands only after this callback
    returns — a crash in between replays the batch, and a replay
    rewriting an already-folded partition would double-count. Batches
    before it are checkpoint-committed and can never replay under the
    same checkpoint (the compact_store precondition, derived not
    hand-guessed)."""

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..incremental.rollup import compact_rollup_store

        # the family-wide padded id convention (store.pad_batch_id),
        # with the bare-id replay guard for stores written pre-padding
        bid = resolve_stream_batch_id(
            batch_df.sparkSession, rollup_store, batch_id
        )
        update_rollup_store(
            batch_df.sparkSession,
            rollup_store,
            batch_df,
            bid,
            ts_col=ts_col,
            type_col=type_col,
            user_col=user_col,
            value_col=value_col,
        )
        logger.info("rollup maintenance: committed batch %s", bid)
        if compact_every and (batch_id + 1) % compact_every == 0:
            folded = compact_rollup_store(
                batch_df.sparkSession,
                rollup_store,
                exclude=(bid,),
            )
            logger.info(
                "rollup maintenance: folded %d partitions after batch %d",
                folded,
                batch_id,
            )

    return run_foreach_batch(events_stream, one_batch, checkpoint_dir)
