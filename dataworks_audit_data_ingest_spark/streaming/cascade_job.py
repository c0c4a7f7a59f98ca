"""Streaming IVM cascade — the maintained JOIN view and the rollup
store it feeds, updated by ONE ``foreachBatch`` per micro-batch:
enrich incrementally, aggregate incrementally, one ingestion point.

q264 proves the cascade as a BATCH composition (view change feed →
rollup fold); this is its streaming twin. Composing both stores inside
a single callback is what makes the pair effectively transactional
without any cross-store commit protocol: every write in both stores is
keyed by the SAME micro-batch id under the shared replay contract
(`incremental/store.py`), and the checkpoint's commit-log entry lands
only after the callback returns — so a crash anywhere between the two
store commits replays the whole batch, `update_join_view` recomputes
the identical view delta (reads exclude the batch's own partitions),
`read_join_view_delta` re-yields identical rows, and the rollup's
dynamic overwrite rewrites exactly its own partition. Both stores
converge to the clean-run state; the crash window is drill-pinned
(`tests/test_cascade_job.py`).

The cascade consumes the view's change feed, so the view store's
compaction (which folds delta partitions away) is safe here by
construction: the feed is read in the same callback that produced it,
before any fold can touch it, and ``compact_every`` always excludes
the current batch (it may replay — the compact_store precondition).
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..incremental import joinview as _jv
from ..incremental import rollup as _rl
from ..incremental.joinview import JoinViewSpec
from ..incremental.store import resolve_stream_batch_id
from .jobs import run_foreach_batch
from .joinview_job import split_sides

logger = logging.getLogger(__name__)


def start_enriched_rollup_cascade_stream(
    changes_stream: DataFrame,
    jv_root: str,
    rollup_store: str,
    checkpoint_dir: str,
    spec: JoinViewSpec,
    *,
    side_col: str = "side",
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    ts_col: str = "ts",
    type_col: str = "event_type",
    user_col: str = "user_id",
    value_col: str = "value",
    compact_every: int | None = None,
):
    """Maintain ``A ⋈ B`` AND its continuous aggregate from one tagged
    change stream; returns the started query.

    Per micro-batch: ``update_join_view`` applies the two side deltas
    (exactly-once pair emission), the batch's view CHANGE FEED flows
    into ``update_rollup_store`` under the same batch id, and — every
    ``compact_every`` batches — all four stores fold with the current
    batch excluded. The rollup column args name the view-delta columns
    the aggregate is built over (q264's shape: ts=o_orderdate,
    type=c_mktsegment, user=c_custkey, value=o_totalprice)."""
    left_cols = list(left_cols)
    right_cols = list(right_cols)

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        # the family-wide padded id convention (store.pad_batch_id),
        # with the bare-id replay guard for stores written pre-padding
        bid = resolve_stream_batch_id(spark, f"{jv_root}/left", batch_id)
        ld, rd = split_sides(batch_df, side_col, left_cols, right_cols)
        counts = _jv.update_join_view(
            spark,
            jv_root,
            bid,
            spec,
            left_delta=ld,
            right_delta=rd,
        )
        delta = _jv.read_join_view_delta(spark, jv_root, bid)
        if delta is not None:
            _rl.update_rollup_store(
                spark,
                rollup_store,
                delta,
                bid,
                ts_col=ts_col,
                type_col=type_col,
                user_col=user_col,
                value_col=value_col,
            )
        logger.info(
            "cascade: batch %s view=%s rollup_rows=%s",
            bid,
            counts,
            counts["view_delta_rows"],
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            folded_jv = _jv.compact_join_view(
                spark, jv_root, spec, exclude=(bid,)
            )
            folded_rl = _rl.compact_rollup_store(
                spark, rollup_store, exclude=(bid,)
            )
            logger.info(
                "cascade: folded view=%s rollup=%d after batch %d",
                folded_jv,
                folded_rl,
                batch_id,
            )

    return run_foreach_batch(changes_stream, one_batch, checkpoint_dir)
