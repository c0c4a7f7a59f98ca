"""Z-set replication transport for the CDC-maintained join view.

A replica of the view needs NO merge logic of its own: the view store
is a z-set (signed batch partitions, netted on read), so replication is
literally copying the signed delta partitions and the replica's net is
the view. Three verbs cover the whole lifecycle:

- :func:`ship_view_deltas` — CATCH-UP transport: commit every view
  delta partition the replica does not have yet, in batch order. A
  resumed shipper needs no cursor state — the replica's own partition
  listing IS the cursor (idempotent: re-shipping an existing batch is
  a dynamic overwrite with identical rows). The primary's compacted
  partition is never shipped: it is the folded PREFIX of history and
  may replace batches the replica already holds; a gap the fold
  swallowed is reported so the caller can fall back to repair.
- :func:`read_replica` — the replica's net-positive rows (the same
  merge-on-read as `read_join_view_cdc`, over shipped partitions).
- :func:`repair_replica` — anti-entropy convergence when catch-up
  cannot close the gap (lost partition, fold-swallowed batch, bit
  rot): commit a SIGNED CORRECTION batch — (primary ∖ replica) at
  ``+1`` and (replica ∖ primary) at ``-1``, optionally scoped to a
  keyed subset — proportional to the divergence, not the table.
  Detection/localization is the caller's (per-month fingerprints:
  `functions/checksum.py`; `examples/cdc_replication_pipeline.py`).

Scale shape: shipping moves only missing delta partitions (no reads of
the view); repair reads both nets once, scoped to the diverged slice
when the caller localized first. Reference scope:
dwp/dataworks-audit-data-ingest (audit_data_ingest.py:1-313) copies
day files; this is the engine's replication story for MAINTAINED
state, which the reference does not have.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .joinview import side_path
from .joinview_cdc import (
    DIFF_COL,
    net_positive,
    read_join_view_cdc,
    read_join_view_cdc_delta,
)
from .store import (
    COMPACTED_ID,
    _list_partitions,
    commit_batch_partition,
    read_store,
)


def ship_view_deltas(
    spark: SparkSession, root: str, replica: str
) -> dict[str, object]:
    """Ship every un-shipped view delta partition to the replica, in
    batch order. Returns ``{"shipped": [ids...], "audit_recommended":
    bool}``. ``audit_recommended`` is True when the primary holds a
    compacted partition: the fold is the collapsed PREFIX of history
    and carries no record of which batch ids it absorbed, so catch-up
    alone cannot prove the replica saw all of them — a replica that
    fell behind a fold needs the fingerprint audit, and a diverged one
    :func:`repair_replica` (a replica that kept up is unaffected: its
    already-shipped partitions net to the same prefix the fold
    collapsed)."""
    listed = _list_partitions(spark, side_path(root, "view"))
    if listed is None:
        return {"shipped": [], "audit_recommended": False}
    _, _, src_dirs = listed
    r_listed = _list_partitions(spark, replica)
    have = set(r_listed[2]) if r_listed is not None else set()
    missing = sorted(set(src_dirs) - {COMPACTED_ID} - have)
    for bid in missing:
        commit_batch_partition(
            read_join_view_cdc_delta(spark, root, bid), replica, bid
        )
    return {
        "shipped": missing,
        "audit_recommended": COMPACTED_ID in src_dirs,
    }


def read_replica(spark: SparkSession, replica: str) -> DataFrame | None:
    """The replica's net-positive rows — the view, as replicated."""
    df = read_store(spark, replica)
    return None if df is None else net_positive(df)


def repair_replica(
    spark: SparkSession,
    root: str,
    replica: str,
    batch_id: str,
    scope: DataFrame | None = None,
    scope_cols: tuple[str, ...] = (),
) -> dict[str, int]:
    """Converge the replica on the primary with one signed correction
    batch: multiset difference each way, committed under ``batch_id``.
    ``scope``/``scope_cols`` restrict the comparison to a keyed subset
    (the diverged months a fingerprint audit localized) so the repair
    reads only the damaged slice. Idempotent at the net level: after a
    repair the differences are empty, so a re-run commits nothing."""
    view = read_join_view_cdc(spark, root)
    rep = read_replica(spark, replica)
    if view is None:
        raise ValueError("primary view has no committed state to repair from")
    if rep is None:
        rep = spark.createDataFrame([], view.schema)
    if scope is not None:
        cols = list(scope_cols)
        view = view.join(F.broadcast(scope), on=cols, how="left_semi")
        rep = rep.join(F.broadcast(scope), on=cols, how="left_semi")
    rep = rep.select(*view.columns)
    plus = view.exceptAll(rep).withColumn(DIFF_COL, F.lit(1))
    minus = rep.exceptAll(view).withColumn(DIFF_COL, F.lit(-1))
    corrections = plus.unionByName(minus).localCheckpoint(eager=True)
    n = corrections.count()
    if n:
        commit_batch_partition(corrections, replica, batch_id)
    return {"correction_rows": int(n)}
