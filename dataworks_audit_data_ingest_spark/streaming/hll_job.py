"""Streaming cardinality maintenance: per-micro-batch HyperLogLog register
tables, merged at read time into period distinct counts.

The streaming twin of q111's daily rollup (registers and estimator:
``functions/sketches.py``). Each micro-batch collapses to its own
(day, group, bucket, M_j) register rows — at most m × groups × days rows
per batch, written under day=/batch_id= partitions with dynamic overwrite.
Because the register build is a pure deterministic aggregation of the
batch, a replayed micro-batch rewrites exactly the partitions it wrote
before — the same (partition-key ⊇ batch_id) idempotency discipline as
the index/curation/snapshot jobs.

Reading "distinct users this week" then never touches raw events: MAX per
(group, bucket) over the stored KB-sized register rows, any date range,
any grouping rollup — MAX is associative and commutative, so batch
boundaries are invisible in the merged result (pinned by
``tests/test_hll_job.py``).

At scale: per batch, one map + one partial-aggregated reduction to
register rows + one register-sized write. The store grows with
days × groups × m, not with traffic; merges are sketch-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import sketches as SK
from .jobs import run_foreach_batch

DEFAULT_M = 32


def batch_registers(
    df: DataFrame,
    key_sql: str,
    group_cols: tuple[str, ...] = ("event_type",),
    day_col: str = "ts",
    m: int = DEFAULT_M,
) -> DataFrame:
    """(day, *group_cols, bucket, m_j) register rows for one batch.
    ``key_sql`` is a Spark-SQL string expression for the counted key
    (e.g. ``"CAST(user_id AS STRING)"``)."""
    return df.groupBy(
        F.to_date(F.date_trunc("day", day_col)).alias("day"),
        *group_cols,
        F.expr(SK.hll_bucket_sql(key_sql, m, "spark")).alias("bucket"),
    ).agg(F.max(F.expr(SK.hll_rho_sql(key_sql, m, "spark"))).alias("m_j"))


def hll_microbatch(
    batch_df: DataFrame,
    batch_id: int | str,
    out_dir: str,
    key_sql: str,
    group_cols: tuple[str, ...] = ("event_type",),
    day_col: str = "ts",
    m: int = DEFAULT_M,
) -> None:
    """Build this batch's registers and land them under day=/batch_id=
    partitions (dynamic overwrite — replay rewrites its own partitions)."""
    regs = batch_registers(batch_df, key_sql, group_cols, day_col, m)
    (
        regs.withColumn("m", F.lit(m))
        .withColumn("batch_id", F.lit(str(batch_id)))
        .write.mode("overwrite")
        .partitionBy("day", "batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out_dir)
    )


def start_hll_stream(
    event_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_sql: str = "CAST(user_id AS STRING)",
    group_cols: tuple[str, ...] = ("event_type",),
    day_col: str = "ts",
    m: int = DEFAULT_M,
):
    """foreachBatch register maintenance via :func:`hll_microbatch`."""

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        hll_microbatch(
            batch_df, batch_id, out_dir, key_sql, group_cols, day_col, m
        )

    return run_foreach_batch(event_stream, one_batch, checkpoint_dir)


def read_distinct_estimates(
    spark: SparkSession,
    store_dir: str,
    group_cols: tuple[str, ...] = ("event_type",),
    m: int = DEFAULT_M,
    where: str = "TRUE",
) -> DataFrame:
    """Merge stored registers (optionally filtered by ``where``, e.g.
    ``"day BETWEEN '2026-08-01' AND '2026-08-07'"``) and return one row
    per group: ``(*group_cols, est_distinct)``. Sketch-sized work only."""
    regs = spark.read.parquet(store_dir).filter(F.expr(where))
    if "m" in regs.columns:
        widths = [r.m for r in regs.select("m").distinct().collect()]
        if widths and widths != [m]:
            raise ValueError(
                f"register store was written with m={widths}, read asked m={m} "
                "— estimates would silently use the wrong alpha/shift"
            )
    merged = regs.groupBy(*group_cols, "bucket").agg(F.max("m_j").alias("m_j"))
    sums = merged.groupBy(*group_cols).agg(
        F.sum(F.expr(SK.hll_term_sql("m_j", m, "spark"))).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    return sums.select(
        *group_cols,
        F.expr(SK.hll_estimate_sql("s_present", "n_present", m, "spark")).alias(
            "est_distinct"
        ),
    )
