"""Streaming skew-aware enrichment join — the streaming twin of
``incremental/enrich.py::run_enriched_incremental``.

Facts arrive as a stream; each micro-batch is joined to the dimension
table with the salting decision taken from the SAME persisted skew
report the batch job maintains (`functions/skew.py::key_skew_report`),
then appended under ``batch_id=`` with dynamic partition overwrite so a
replayed micro-batch rewrites exactly its own output (the incremental
family's exactly-once discipline, `incremental/store.py`).

Report lifecycle per micro-batch (identical contract to the batch rung):

- **Recover**: ``recover_skew_report`` repairs a crash inside a previous
  refresh's swap window before any read.
- **Decide**: ``load_skew_milli`` loads ONE number from the standing
  report — zero histogram scans in the join plan (pinned by test: the
  probe function is patched to raise and the stream still runs).
- **Bootstrap**: the first ever micro-batch has no report; it probes
  itself once and persists, so even batch 0 joins off a persisted
  number.
- **Refresh**: AFTER the batch's output commits, the report is refreshed
  from the batch — advisory state, so a crash between output and refresh
  costs one cadence of report freshness, never a wrong or duplicated
  output partition (the checkpoint replays the batch; dynamic overwrite
  rewrites it; the refresh re-runs).

At 100 TB: micro-batches are the ingest cadence. Skew drifts batch to
batch (a hot customer burst, a bot key), and this job tracks it at that
cadence for free — batch N's decision uses batch N-1's histogram, and
the refresh rides the same rows the join already materialized (the
batch frame is persisted across join + refresh).
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame

from ..functions.skew import load_skew_milli, maybe_salted_join
from ..incremental.enrich import (
    recover_skew_report,
    refresh_skew_report,
    report_exists,
)
from ..incremental.store import commit_batch_partition
from .jobs import run_foreach_batch

logger = logging.getLogger(__name__)


def start_enriched_stream(
    facts_stream: DataFrame,
    dim_path: str,
    key: str,
    out_dir: str,
    skew_report_path: str,
    checkpoint_dir: str,
    salt_buckets: int = 16,
    skew_threshold_milli: int = 10_000,
    transform: Callable[[DataFrame], DataFrame] | None = None,
):
    """foreachBatch enrichment: recover report → decide from the persisted
    skew_milli → (maybe-salted) join to the dimension → land under
    batch_id= → refresh the report from the batch.

    The dimension is re-read per micro-batch (``spark.read.parquet``), so
    dimension updates land on the next batch without a restart — at
    scale the dim read is a broadcast-sized scan per trigger, which is
    the standard stream-static join cost.
    """

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_skew_report(spark, skew_report_path)
        batch_df = batch_df.persist()  # join + report refresh ride one scan
        bootstrapped = False
        try:
            if not report_exists(spark, skew_report_path):
                # bootstrap: probe batch 0 once and persist, so even the
                # first decision comes from a persisted number
                logger.info(
                    "enrich stream: bootstrapping skew report at %s",
                    skew_report_path,
                )
                refresh_skew_report(batch_df, key, skew_report_path)
                bootstrapped = True
            milli = load_skew_milli(spark, skew_report_path)
            logger.info(
                "enrich stream: batch %d joining with skew_milli=%d",
                batch_id,
                milli,
            )
            dim = spark.read.parquet(dim_path)
            out = maybe_salted_join(
                batch_df,
                dim,
                key,
                salt_buckets=salt_buckets,
                skew_threshold_milli=skew_threshold_milli,
                skew_milli=milli,
            )
            if transform is not None:
                out = transform(out)
            commit_batch_partition(out, out_dir, str(batch_id))
            # refresh AFTER the output commits: advisory state only — a
            # crash here replays the batch (dynamic overwrite makes the
            # rewrite idempotent) and re-runs the refresh. The bootstrap
            # batch skips it: its report already IS this batch's
            # histogram (a second refresh would rewrite it identically)
            if not bootstrapped:
                refresh_skew_report(batch_df, key, skew_report_path)
        finally:
            batch_df.unpersist()

    return run_foreach_batch(facts_stream, one_batch, checkpoint_dir)
