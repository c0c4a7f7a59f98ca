"""Streaming maintenance of the CDC join view
(`incremental/joinview_cdc.py`) over a MULTIPLEXED change stream — one
channel carrying BOTH sides and BOTH op kinds, each row tagged with
``side`` ("left"/"right") and ``op`` ("upsert"/"delete"): exactly the
shape a Debezium-style changefeed fans into one topic, now including
the delete/update records the insert-only rung
(`streaming/joinview_job.py`) cannot express.

foreachBatch for the same three reasons as the insert-only rung (the
view must be a standing parquet table, survive the query, and match an
unbounded-history join exactly), plus one CDC-specific mapping: the
micro-batch id is ZERO-PADDED into the store's batch id ("10" sorts
before "9" as a bare string, and the CDC store orders op history
lexicographically — `update_join_view_cdc` would rightly reject bare
ints at batch 10). Replay discipline is the family's: restart from the
SAME checkpoint; compaction between runs must exclude
`~..incremental.store.checkpoint_replayable_ids` (padded the same way).

ORDERING PRECONDITION (CDC-specific): the channel must deliver changes
in commit order — a single Kafka partition, or file sources with
strictly increasing modification times (Spark's file source orders by
mtime in MILLISECONDS; a fast writer that ties several files leaves the
tie-break undefined). The insert-only rung tolerates reordering because
appends commute; CDC ops do not — a delete observed before its row's
re-insert is a no-op tombstone and the stale version survives. The
drill pins one order via explicit mtimes.

``seq_col`` lifts the single-partition half of that precondition: when
the feed carries a monotone per-entity sequence (an LSN, a Debezium
``ts_ms``+ordinal, a source offset), each micro-batch is RESOLVED by it
— per ``(side, key, id)`` only the highest-seq op survives, so a
multi-partition source that interleaves a delete after its row's
re-insert inside one micro-batch folds to the correct final op instead
of corrupting the z-set, and a top-seq TIE on the same version (order
genuinely unrecoverable) fails loudly. This also accepts the Debezium
encoding of a same-key UPDATE as delete(old image) + insert(new image),
which the core batch API rejects as ambiguous. Cross-batch order is
ENFORCED too (round 12): the resolved ops commit WITH their seq, the
op log keeps each version's latest seq — tombstones included — and
`update_join_view_cdc(seq_col=...)` rejects any later op whose seq
does not advance past it, so a same-key stream split across partitions
(order the source already lost) fails loudly at the batch boundary
instead of leaving a stale version alive. A feed keyed by the CDC key
(the Debezium default, one key → one partition → offsets consumed in
order) never trips either check.
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..incremental.joinview import JoinViewSpec
from ..incremental.joinview_cdc import (
    compact_join_view_cdc,
    update_join_view_cdc,
)
from .jobs import run_foreach_batch

logger = logging.getLogger(__name__)

# the family-wide id convention now lives beside the store contract it
# serves; re-exported here because this rung defined it first
from ..incremental.store import pad_batch_id  # noqa: E402,F401


def split_cdc_ops(
    batch_df: DataFrame,
    spec: JoinViewSpec,
    side_col: str,
    op_col: str,
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    seq_col: str | None = None,
) -> dict[str, DataFrame | None]:
    """One micro-batch of a (side, op)-tagged multiplexed change stream
    → the four feed legs `update_join_view_cdc` takes (None for an
    empty leg). ONE driver round-trip answers both questions — is every
    tag in the domain, and which of the four legs are non-empty —
    instead of a stray-probe collect plus a limit(1) probe per leg
    (five fixed jobs per micro-batch, dominating small-batch wall
    time). NULL tags surface as None keys and fail the domain check:
    a typo'd op silently dropped would silently freeze its row
    forever. Shared by the plain CDC rung and the CDC cascade."""
    tags = {
        (r[0], r[1]): r[2]
        for r in batch_df.groupBy(side_col, op_col).count().collect()
    }
    bad = [
        t
        for t in tags
        if t[0] not in ("left", "right") or t[1] not in ("upsert", "delete")
    ]
    if bad:
        raise ValueError(
            f"change row with unknown tags {side_col}={bad[0][0]!r} / "
            f"{op_col}={bad[0][1]!r}; expected side in (left, right), "
            "op in (upsert, delete)"
        )

    extra = [seq_col] if seq_col is not None else []

    def leg(side: str, op: str, cols: Sequence[str]) -> DataFrame | None:
        if not tags.get((side, op)):
            return None
        rows = batch_df.filter(
            (F.col(side_col) == side) & (F.col(op_col) == op)
        )
        if op == "delete":
            id_col = spec.left_id if side == "left" else spec.right_id
            sel = [spec.key] if spec.key == id_col else [spec.key, id_col]
            return rows.select(*sel, *extra)
        return rows.select(*cols, *extra)

    return {
        "left_upserts": leg("left", "upsert", left_cols),
        "left_deletes": leg("left", "delete", left_cols),
        "right_upserts": leg("right", "upsert", right_cols),
        "right_deletes": leg("right", "delete", right_cols),
    }


def _resolve_by_seq(
    batch_df: DataFrame,
    spec: JoinViewSpec,
    side_col: str,
    seq_col: str,
) -> DataFrame:
    """Collapse one micro-batch to its final op per ``(side, key, id)``
    by the feed's sequence column — the within-batch half of the CDC
    ordering contract. A NULL seq (unorderable row) and a duplicated
    TOP seq on the same version (two ops claiming to be last — order
    genuinely unrecoverable) both fail the batch loudly; silently
    picking one would be the exact z-set corruption the module
    docstring warns about. A key-moving pair lands in two different
    ``(key, id)`` groups, so delete(old key) + upsert(new key) both
    survive resolution — the batch API's expected idiom."""
    from pyspark.sql.window import Window

    if seq_col not in batch_df.columns:
        raise ValueError(f"seq_col {seq_col!r} not in the change stream")
    if batch_df.filter(F.col(seq_col).isNull()).limit(1).collect():
        raise ValueError(
            f"NULL {seq_col!r} in the change stream — every CDC row must"
            " be orderable"
        )
    id_expr = F.when(
        F.col(side_col) == "left",
        F.col(spec.left_id).cast("string"),
    ).otherwise(F.col(spec.right_id).cast("string"))
    grp = Window.partitionBy(
        F.col(side_col), F.col(spec.key), id_expr
    )
    ranked = (
        batch_df.withColumn(
            "__rn__",
            F.row_number().over(grp.orderBy(F.col(seq_col).desc())),
        )
        .withColumn(
            "__top_ties__",
            F.count(F.lit(1)).over(
                Window.partitionBy(
                    F.col(side_col),
                    F.col(spec.key),
                    id_expr,
                    F.col(seq_col),
                )
            ),
        )
    )
    top = ranked.filter(F.col("__rn__") == 1)
    tie = top.filter(F.col("__top_ties__") > 1).limit(1).collect()
    if tie:
        r = tie[0]
        raise ValueError(
            f"two ops share the top {seq_col}={r[seq_col]!r} for the same"
            f" (side, {spec.key}, id) version — within-batch order is"
            " unrecoverable; fix the feed's sequence assignment"
        )
    return top.drop("__rn__", "__top_ties__")


def start_cdc_join_view_stream(
    changes_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    spec: JoinViewSpec,
    *,
    side_col: str = "side",
    op_col: str = "op",
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    seq_col: str | None = None,
    compact_every: int | None = None,
):
    """Maintain the CDC view from a (side, op)-tagged change stream;
    returns the started query.

    Upsert rows carry the side's full columns; delete rows need only
    the ``(key, id)`` pair populated (the old row image every real CDC
    feed ships — extra columns are ignored). Unknown or NULL tags in
    EITHER column fail the batch loudly: a typo'd op silently dropped
    would silently freeze its row forever. ``seq_col`` names a monotone
    per-entity sequence column; each micro-batch is then resolved
    latest-op-wins per ``(side, key, id)`` (module docstring — the
    multi-partition ordering story). ``compact_every=N`` folds the
    stores semantically every N micro-batches, current batch
    excluded."""
    left_cols = list(left_cols)
    right_cols = list(right_cols)

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
            spark, root, bid, spec, seq_col=seq_col, **legs
        )
        logger.info("cdc join view: batch %s %s", bid, counts)
        if compact_every and (batch_id + 1) % compact_every == 0:
            folded = compact_join_view_cdc(
                spark, root, spec, exclude=(bid,), seq_col=seq_col
            )
            logger.info(
                "cdc join view: folded %s after batch %s", folded, bid
            )

    return run_foreach_batch(changes_stream, one_batch, checkpoint_dir)
