"""Streaming traffic monitoring: per-micro-batch (day, hour, event_type)
volume cells appended to a cell store, plus per-batch anomaly alerts
against the store's own historical baseline.

The streaming form of q116 (anomaly band) and q123 (seasonal baseline):
the cell table those queries collapse events into is maintained
incrementally here — each batch writes ONLY its own cells (keyed by
batch_id for replay idempotency, the hll_job/index_job discipline), and
alerting reads baseline from cells of EARLIER batches, so a late replay
of batch N sees exactly the baseline it saw the first time.

At scale: per batch, one partial-aggregated collapse of batch events to
cells (group count rows, not event rows), one cell-sized write, one read
of the KB-sized store for the baseline join. Raw events are never
retained by the monitor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..incremental.store import commit_batch_partition
from .jobs import run_foreach_batch


def batch_cells(df: DataFrame, day_col: str = "ts") -> DataFrame:
    """(day, hr, event_type, n_events) volume cells for one batch."""
    return df.groupBy(
        F.to_date(F.date_trunc("day", day_col)).alias("day"),
        F.hour(day_col).alias("hr"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))


def monitor_microbatch(
    batch_df: DataFrame,
    batch_id: int | str,
    store_dir: str,
    alerts_dir: str,
    dev_pct_band: int = 50,
    day_col: str = "ts",
) -> None:
    """Collapse the batch to cells, alert against the pre-existing store,
    then append this batch's cells (batch_id-partitioned, dynamic
    overwrite). Alert rows carry the deviation in scaled-integer percent
    (q116's arithmetic): dev_pct = (100·n) DIV baseline − 100, with
    baseline the mean count of the SAME (hr, event_type) cell over prior
    batches' days. Cells with no history alert as 'new_cell'."""
    spark = batch_df.sparkSession
    cells = batch_cells(batch_df, day_col).localCheckpoint(eager=True)

    from ..sources.readers import read_parquet_store_or_none

    # path-missing ⇒ first batch; corrupt/permission/IO errors propagate
    # (a swallowed read error would silently re-baseline the monitor)
    prior = read_parquet_store_or_none(spark, store_dir)
    if prior is not None:
        prior = prior.filter(F.col("batch_id") != str(batch_id))

    if prior is not None:
        baseline = prior.groupBy("hr", "event_type").agg(
            F.expr("SUM(n_events) DIV COUNT(DISTINCT day)").alias("base")
        )
        alerts = (
            cells.join(F.broadcast(baseline), ["hr", "event_type"], "left")
            .select(
                "day",
                "hr",
                "event_type",
                "n_events",
                F.when(F.col("base").isNull(), F.lit("new_cell"))
                .when(
                    ~F.expr("(100 * n_events) DIV base - 100").between(
                        -dev_pct_band, dev_pct_band
                    ),
                    F.lit("volume_anomaly"),
                )
                .alias("alert"),
                F.when(
                    F.col("base").isNotNull(),
                    F.expr("(100 * n_events) DIV base - 100"),
                ).alias("dev_pct"),
            )
            .filter(F.col("alert").isNotNull())
        )
    else:
        alerts = cells.select(
            "day",
            "hr",
            "event_type",
            "n_events",
            F.lit("new_cell").alias("alert"),
            F.lit(None).cast("bigint").alias("dev_pct"),
        )

    commit_batch_partition(alerts, alerts_dir, str(batch_id))
    commit_batch_partition(cells, store_dir, str(batch_id))


def start_monitor_stream(
    event_stream: DataFrame,
    store_dir: str,
    alerts_dir: str,
    checkpoint_dir: str,
    dev_pct_band: int = 50,
    day_col: str = "ts",
):
    """foreachBatch monitoring via :func:`monitor_microbatch`."""

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        monitor_microbatch(
            batch_df, batch_id, store_dir, alerts_dir, dev_pct_band, day_col
        )

    return run_foreach_batch(event_stream, one_batch, checkpoint_dir)
