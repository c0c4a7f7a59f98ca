"""Streaming maintenance of the materialized equi-join view
(`incremental/joinview.py`) over a MULTIPLEXED change stream — one
topic/directory carrying inserts for BOTH sides of the join, each row
tagged with the side it belongs to (the usual shape of a CDC changefeed
fanned into one channel: Debezium-style `source.table` routing keys).

Why foreachBatch rather than a stream-stream join: Structured
Streaming's stream-stream inner join materializes matches only inside
the watermark window and keeps its state inside the engine — here the
view must be a STANDING parquet table (batch jobs, ad-hoc readers, GDPR
forget all address it), must survive the query, and must match an
unbounded-history join exactly. foreachBatch + the store contract gives
all three: the micro-batch id keys every write (dynamic overwrite ⇒
crash replay rewrites identical partitions), the old sides live in
parquet, and the view equals a from-scratch join after every batch
(drill-pinned, `tests/test_joinview_job.py`).

Replay discipline is the family's (`incremental/store.py` module doc):
restart from the SAME checkpoint so batch slicing is stable; compaction
between runs must exclude
`~..incremental.store.checkpoint_replayable_ids`.
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..incremental.store import resolve_stream_batch_id
from ..incremental.joinview import (
    JoinViewSpec,
    compact_join_view,
    update_join_view,
)
from .jobs import run_foreach_batch

logger = logging.getLogger(__name__)


def split_sides(
    batch_df: DataFrame,
    side_col: str,
    left_cols: Sequence[str],
    right_cols: Sequence[str],
) -> tuple[DataFrame, DataFrame]:
    """Project a multiplexed change micro-batch into its (left, right)
    deltas, failing LOUDLY on any unknown or NULL side tag. The coalesce
    matters: a NULL tag makes ``isin()`` NULL, which a bare NOT-filter
    silently passes over — the row would vanish from both deltas and its
    joins would be missing forever. Shared by the plain maintenance
    stream and the cascade job (`streaming/cascade_job.py`)."""
    stray = (
        batch_df.filter(
            ~F.coalesce(
                F.col(side_col).isin("left", "right"), F.lit(False)
            )
        )
        .limit(1)
        .collect()
    )
    if stray:
        raise ValueError(
            f"change row with unknown {side_col}="
            f"{stray[0][side_col]!r}; expected 'left' or 'right'"
        )
    return (
        batch_df.filter(F.col(side_col) == "left").select(*left_cols),
        batch_df.filter(F.col(side_col) == "right").select(*right_cols),
    )


def start_join_view_maintenance_stream(
    changes_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    spec: JoinViewSpec,
    *,
    side_col: str = "side",
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    compact_every: int | None = None,
):
    """Maintain the join view from a tagged change stream; returns the
    started query.

    ``side_col`` must hold ``"left"`` or ``"right"`` per row; a row
    tagged anything else fails the batch loudly (a typo'd tag silently
    dropped would silently drop its joins forever). ``left_cols`` /
    ``right_cols`` project each side out of the multiplexed superset
    schema. ``compact_every=N`` folds all three stores every N
    micro-batches, current batch excluded (it may replay — the
    `compact_store` precondition)."""
    left_cols = list(left_cols)
    right_cols = list(right_cols)

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        # the family-wide padded id convention (store.pad_batch_id),
        # with the bare-id replay guard for stores written pre-padding
        bid = resolve_stream_batch_id(spark, f"{root}/left", batch_id)
        ld, rd = split_sides(batch_df, side_col, left_cols, right_cols)
        counts = update_join_view(
            spark,
            root,
            bid,
            spec,
            left_delta=ld,
            right_delta=rd,
        )
        logger.info("join-view maintenance: batch %s %s", bid, counts)
        if compact_every and (batch_id + 1) % compact_every == 0:
            folded = compact_join_view(
                spark, root, spec, exclude=(bid,)
            )
            logger.info(
                "join-view maintenance: folded %s after batch %d",
                folded,
                batch_id,
            )

    return run_foreach_batch(changes_stream, one_batch, checkpoint_dir)
