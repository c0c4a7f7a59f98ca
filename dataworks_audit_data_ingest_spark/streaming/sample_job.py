"""Streaming weighted reservoir: maintain a k-row weighted sample of
everything ever ingested, updated per micro-batch.

The kernel is q183's integer bottom-k priority
(`functions/sampling.py`): priorities are a pure function of
(id, weight, seed), so the reservoir update is a MERGE — union the
batch's own bottom-k with the standing reservoir and re-take bottom-k —
and a replayed micro-batch re-derives identical priorities and merges to
an identical reservoir (no dedup bookkeeping, no batch_id fencing
needed; `dropDuplicates` on the id collapses re-offered rows).

State is one k-row parquet maintained with the shared
write-staged-then-swap protocol (`incremental/swap.py`): recover before
read, staged overwrite after merge. A crash anywhere re-runs the batch
against either the pre-batch or post-batch reservoir — both merge to the
same result, so the reservoir is exactly-once WITHOUT relying on the
checkpoint (the checkpoint only prevents re-reading source files).

At 100 TB: each micro-batch contributes at most k rows past its own
TakeOrderedAndProject; the merge sorts 2k rows. Reservoir cost is
independent of corpus size — the property that makes "keep a standing
weighted sample of the whole corpus" viable at all.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

from ..functions.sampling import merge_reservoirs, weighted_bottom_k
from ..functions.localrel import local_rows_df
from ..incremental.swap import recover_swapped, staged_overwrite, swapped_exists
from .jobs import run_foreach_batch

logger = logging.getLogger(__name__)


def load_reservoir(spark: SparkSession, path: str) -> DataFrame | None:
    """OWNER-side read: the standing reservoir, repairing an interrupted
    swap first; None when no reservoir exists yet (fresh stream).

    Only the job that maintains the reservoir may call this — the repair
    MUTATES the swap state, and a second mutator racing the owner's own
    swap window could steal its staged directory mid-rename
    (`incremental/swap.py`'s one-owner contract). External consumers use
    :func:`read_reservoir`."""
    recover_swapped(spark, path)
    if not swapped_exists(spark, path):
        return None
    return spark.read.parquet(path)


def read_reservoir(spark: SparkSession, path: str) -> DataFrame | None:
    """CONSUMER-side read: never mutates swap state, so it is safe to call
    while the owning stream runs. A read racing the exact swap window
    (path momentarily absent) falls back to the aside copy — the
    previous reservoir, one merge staler, still a valid sample; None
    only when no reservoir has ever been committed.

    The result is MATERIALIZED (k rows by contract — driver-small)
    before returning: a lazy frame over the swap directory would resolve
    its file listing now but execute later, after the owner may have
    renamed/deleted those exact files, failing the consumer's action
    with a confusing FileNotFoundException."""
    from ..incremental.swap import _aside

    aside = _aside(path)
    # Bounded retry: the owner can rename path->aside->delete under us
    # between the existence check and the materializing read; once its
    # swap completes the NEW reservoir stands at `path`, so a later
    # attempt lands unless nothing was ever committed.
    def _try_read(p: str) -> DataFrame | None:
        if not swapped_exists(spark, p):
            return None
        try:
            df = spark.read.parquet(p)
            return local_rows_df(spark, df.collect(), df.schema)
        except Exception as e:  # noqa: BLE001 — re-raise non-race errors
            java = getattr(e, "java_exception", None)
            klass = java.getClass().getName() if java is not None else ""
            if "AnalysisException" in type(e).__name__ or klass.endswith(
                "FileNotFoundException"
            ):
                return None  # the owner moved it mid-read — race, retry
            raise

    for _ in range(3):
        for p in (path, aside):
            got = _try_read(p)
            if got is not None:
                return got
        if not swapped_exists(spark, path) and not swapped_exists(spark, aside):
            return None  # genuinely nothing committed yet
    # retries exhausted while directories kept appearing: read `path`
    # directly and let any real error surface instead of masking it as
    # "no reservoir"
    df = spark.read.parquet(path)
    return local_rows_df(spark, df.collect(), df.schema)


def update_reservoir(
    spark: SparkSession,
    reservoir_path: str,
    batch_df: DataFrame,
    k: int,
    id_col: str,
    weight_col: str,
    seed: str = "wsamp",
) -> None:
    """One merge step: bottom-k of (standing reservoir ∪ batch bottom-k),
    swapped into place. Safe to re-run with the same batch (idempotent
    merge — deterministic priorities)."""
    batch_k = weighted_bottom_k(batch_df, k, id_col, weight_col, seed).select(
        id_col, weight_col, "priority"
    )
    standing = load_reservoir(spark, reservoir_path)
    parts = [batch_k] if standing is None else [standing, batch_k]
    merged = merge_reservoirs(parts, k, id_col)
    # materialize BEFORE the swap: merged reads the standing reservoir,
    # and staged_overwrite would otherwise rewrite the directory while
    # the plan still scans it
    rows = merged.collect()  # <= k rows by construction — driver-small
    # Arrow local relation: a python-RDD-backed write costs ~4 s per
    # micro-batch at local[32] (functions/localrel.py)
    staged_overwrite(
        local_rows_df(spark, rows, merged.schema), reservoir_path
    )


def start_weighted_sample_stream(
    docs_stream: DataFrame,
    reservoir_path: str,
    checkpoint_dir: str,
    k: int = 100,
    id_col: str = "doc_id",
    weight_col: str = "weight",
    seed: str = "wsamp",
):
    """foreachBatch weighted reservoir over a document stream: after every
    micro-batch, ``reservoir_path`` holds the exact k-row weighted
    bottom-k sample of ALL rows ingested so far — identical to sampling
    the full corpus in one batch (pinned by test)."""

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        update_reservoir(
            batch_df.sparkSession,
            reservoir_path,
            batch_df,
            k,
            id_col,
            weight_col,
            seed,
        )
        logger.info("weighted reservoir: merged batch %d", batch_id)

    return run_foreach_batch(docs_stream, one_batch, checkpoint_dir)
