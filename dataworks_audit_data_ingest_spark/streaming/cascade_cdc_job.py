"""Streaming IVM cascade under FULL CDC — the CDC-maintained join view
(`incremental/joinview_cdc.py`) AND an additive rollup maintained
PURELY from the view's signed change feed, updated by ONE
``foreachBatch`` per micro-batch. `streaming/cascade_job.py` is the
insert-only cascade; this is its retraction-aware twin: deletes
subtract, updates retract-then-reinsert, and the rollup never reads
the view (q267's proven math — contribution × ``__diff__`` folds to
per-batch partials, their sum is the report).

Effectively transactional without a cross-store commit protocol, for
the same reason as the insert-only cascade: every write in all four
stores (two CDC op logs, the z-set view, the additive partials store)
is keyed by the SAME padded micro-batch id under the shared replay
contract (`incremental/store.py`), and the checkpoint's commit-log
entry lands only after the callback returns — a crash anywhere between
the store commits replays the whole batch, `update_join_view_cdc`
recomputes the identical signed delta (reads exclude the batch's own
partitions), `read_join_view_cdc_delta` re-yields identical rows, and
the partials' dynamic overwrite rewrites exactly its own partition.
Drill-pinned in `tests/test_cascade_cdc_job.py`.

The rollup grain must be ADDITIVE (counts, sums) — the signed fold is
exact under retractions by construction. Non-retractable grains
(min/max, distinct users) cannot subtract; they take the
recompute-on-retract path (`incremental/rollup.py`'s maintained store
plus `joinview_cdc`'s retraction detection), not this rung.

Ordering/consume-before-fold contracts are the CDC rung's
(`joinview_cdc_job` module docstring): commit-order delivery or a
``seq_col``, feeds consumed inside the callback BEFORE ``compact_every``
can fold the early deltas away.
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..incremental.joinview import JoinViewSpec
from ..incremental.joinview_cdc import (
    DIFF_COL,
    compact_join_view_cdc,
    read_join_view_cdc_delta,
    update_join_view_cdc,
)
from ..incremental.store import (
    commit_batch_partition,
    compact_store,
    pad_batch_id,
    read_store,
)
from .jobs import run_foreach_batch
from .joinview_cdc_job import _resolve_by_seq, split_cdc_ops

logger = logging.getLogger(__name__)

_DN = "__dn__"
_DV = "__dv__"


def fold_signed_feed(
    feed: DataFrame,
    group_cols: Sequence[str],
    value_expr: str | None,
) -> DataFrame:
    """One batch's signed change feed → additive partial rows:
    ``sum(diff)`` is the group's count delta, ``sum(value × diff)`` its
    value delta (0 when no ``value_expr``). Map-side combinable; the
    output is |groups touched this batch| rows regardless of history
    size."""
    dv = (
        F.sum(F.expr(value_expr) * F.col(DIFF_COL))
        if value_expr is not None
        else F.sum(F.lit(0))
    )
    return feed.groupBy(*group_cols).agg(
        F.sum(DIFF_COL).cast("bigint").alias(_DN),
        dv.cast("bigint").alias(_DV),
    )


def read_additive_rollup(
    spark: SparkSession, store: str, group_cols: Sequence[str]
) -> DataFrame | None:
    """The maintained report: merge every committed partial, net the
    signs, drop groups whose every pair was retracted (net zero rows in
    the final state must not appear). Columns: ``group_cols + (n,
    total)``; ``None`` when no partial is committed (nothing yet, or a
    fold of a fully retracted store). Reads through `store.read_store`,
    never the store root, so a fold a crash left beside its originals is
    finished first instead of counted twice."""
    df = read_store(spark, store)
    if df is None:
        return None
    return (
        df.groupBy(*group_cols)
        .agg(
            F.sum(_DN).cast("bigint").alias("n"),
            F.sum(_DV).cast("bigint").alias("total"),
        )
        .filter(F.col("n") > 0)
    )


def compact_additive_rollup(
    spark: SparkSession,
    store: str,
    group_cols: Sequence[str],
    exclude: tuple[str, ...] = (),
) -> int:
    """Fold the partials store to one net row per group under the
    family's one crash protocol (`incremental/store.py::compact_store`).
    Zero-net groups (count AND value both zero — fully retracted) are
    dropped: future feeds only ever ADD new partials, so a net-zero
    group can never be revived by subtraction. Same hard precondition as
    every compactor: ``exclude`` replayable batches."""
    cols = list(group_cols)

    def _fold(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(*cols)
            .agg(
                F.sum(_DN).cast("bigint").alias(_DN),
                F.sum(_DV).cast("bigint").alias(_DV),
            )
            .filter((F.col(_DN) != 0) | (F.col(_DV) != 0))
        )

    return compact_store(spark, store, exclude, fold=_fold)


def start_cdc_rollup_cascade_stream(
    changes_stream: DataFrame,
    jv_root: str,
    rollup_store: str,
    checkpoint_dir: str,
    spec: JoinViewSpec,
    *,
    side_col: str = "side",
    op_col: str = "op",
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    seq_col: str | None = None,
    group_cols: Sequence[str],
    value_expr: str | None = None,
    compact_every: int | None = None,
):
    """Maintain the CDC view AND its additive rollup from one (side,
    op)-tagged change stream; returns the started query.

    ``group_cols`` name the rollup grain (columns of the JOINED view),
    ``value_expr`` an optional SQL expression over view columns whose
    signed sum the rollup tracks alongside the count. ``compact_every=N``
    folds all four stores every N micro-batches, current batch
    excluded."""
    left_cols = list(left_cols)
    right_cols = list(right_cols)
    group_cols = list(group_cols)

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        if seq_col is not None:
            batch_df = _resolve_by_seq(
                batch_df, spec, side_col, seq_col
            ).localCheckpoint(eager=True)
        legs = split_cdc_ops(
            batch_df, spec, side_col, op_col, left_cols, right_cols,
            seq_col=seq_col,
        )
        bid = pad_batch_id(batch_id)
        counts = update_join_view_cdc(
            spark, jv_root, bid, spec, seq_col=seq_col, **legs
        )
        feed = read_join_view_cdc_delta(spark, jv_root, bid)
        if feed is not None:
            commit_batch_partition(
                fold_signed_feed(feed, group_cols, value_expr),
                rollup_store,
                bid,
            )
        logger.info("cdc cascade: batch %s view=%s", bid, counts)
        if compact_every and (batch_id + 1) % compact_every == 0:
            folded_jv = compact_join_view_cdc(
                spark, jv_root, spec, exclude=(bid,), seq_col=seq_col
            )
            folded_rl = compact_additive_rollup(
                spark, rollup_store, group_cols, exclude=(bid,)
            )
            logger.info(
                "cdc cascade: folded view=%s rollup=%d after batch %s",
                folded_jv,
                folded_rl,
                bid,
            )

    return run_foreach_batch(changes_stream, one_batch, checkpoint_dir)
