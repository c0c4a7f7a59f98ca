"""Streaming ANN index maintenance: embedding vectors arrive as a stream;
each micro-batch is routed to its nearest trained IVF cell (broadcast
centroid table — `similarity/kmeans.py::assign_cells`), optionally int8-
quantized (`similarity/quantize.py`), and appended to a cell-partitioned
parquet store. The store is immediately queryable with
``knn_join(method="ivf", cell_col="cell")`` and each probe is partition
pruning — a continuously-growing corpus indexes incrementally, never
re-indexed wholesale.

Exactly-once: output partitions are keyed (cell, batch_id) with dynamic
partition overwrite, and cell assignment is deterministic (exact decimal
distances, lowest-cell tie-break), so a replayed micro-batch rewrites
exactly the partitions it wrote before — the same idempotency discipline
as the curation job (`streaming/curation_job.py`) and, before it, the
reference's commit-after-success day loop.

At scale: per batch, one broadcast (k·dim centroid doubles), one map over
the batch, one write of batch-sized data — no shuffle of the existing
store, whose size never enters the per-batch cost. Periodic centroid
retraining (distribution drift) is a batch `train_cells` run plus a
one-time store rewrite; the job takes the new centroid table on restart.

WHEN to retrain is its own loop, closed here the same way the skew loop
closes (`functions/skew.py`: persisted report → decision, no rescan):
every indexed micro-batch also lands a one-row QUALITY record — its
vector count and exact decimal sum of squared quantization error (the
distance each vector sits from its assigned centroid). The records are
additive and carry ``src_batch`` identity, so the store compacts exactly
like the topk grids (`streaming/topk_job.py` module docstring).
:func:`should_retrain` then reads the trailing window of quality rows
and compares the recent mean error against the training-time baseline
(:func:`quality_milli` over the training assignment) — distribution
drift shows up as new vectors landing systematically farther from every
trained centroid. The decision consumes ONLY the persisted report: no
re-assignment, no corpus scan (pinned by test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..incremental.store import (
    commit_batch_partition,
    read_store,
)
from ..similarity.kmeans import assign_cells
from ..similarity.quantize import quantize_int8
from .jobs import run_foreach_batch

VEC_SCHEMA = "vec_id long, embedding array<double>"

# Exact accumulator type for squared-distance mass: per-element
# double→decimal conversion is deterministic and decimal addition is
# associative, so the sum is identical under any partitioning.
_QDEC = "DECIMAL(38,18)"


def stream_embeddings_json(
    spark: SparkSession,
    src_dir: str,
    schema: StructType | str = VEC_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema).format("json")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(src_dir)


def index_microbatch(
    batch_df: DataFrame,
    batch_id: int | str,
    centroids: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = True,
    quality_dir: str | None = None,
) -> None:
    """One micro-batch of index maintenance: route → (optionally) quantize
    → write under cell=/batch_id= partitions with dynamic overwrite.
    Replay-idempotent BY CONSTRUCTION: assignment is deterministic, so a
    replay touches exactly the (cell, batch_id) partitions the first
    attempt wrote and dynamic overwrite replaces them in place — pinned by
    `tests/test_index_job.py::test_replayed_microbatch_is_idempotent`.

    With ``quality_dir`` set, the batch's one-row quality record (module
    docstring) lands there under the same batch id — deterministic, so
    equally replay-idempotent."""
    pts = batch_df.select(
        F.col(id_col).alias("id"),
        F.expr(f"TRANSFORM({vec_col}, x -> CAST(x AS DOUBLE))").alias("vec"),
    )
    scored = assign_cells(pts, centroids)
    if quality_dir is not None:
        commit_batch_partition(
            _quality_row(scored).select(
                F.lit(str(batch_id)).alias("src_batch"), "*"
            ),
            quality_dir,
            batch_id,
        )
    assigned = scored.select(F.col("id").alias(id_col), "cell")
    rows = batch_df.join(assigned, id_col)
    if quantize:
        rows = quantize_int8(rows, vec_col)
    (
        rows.withColumn("batch_id", F.lit(str(batch_id)))
        .write.mode("overwrite")
        .partitionBy("cell", "batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out_dir)
    )


def _quality_row(scored: DataFrame) -> DataFrame:
    """(n_vecs, sum_sq) over an ``assign_cells`` result — the additive
    quality record: exact decimal squared-error mass plus its count."""
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(F.expr(f"CAST(sq_dist AS {_QDEC})"))
        .cast(_QDEC)
        .alias("sum_sq"),
    )


def quality_milli(scored: DataFrame) -> int:
    """Mean squared quantization error in milli-units over an
    ``assign_cells`` result — the training-time BASELINE for
    :func:`should_retrain` (compute it over the training corpus's own
    assignment right after ``train_cells``; it is inertia/n).  Raises on
    an empty assignment: a baseline of "nothing" would make every later
    comparison quietly meaningless."""
    row = _quality_row(scored).collect()[0]
    if not row.n_vecs:
        raise ValueError("quality baseline over zero vectors")
    return int((1000 * row.sum_sq) / row.n_vecs)


def should_retrain(
    spark: SparkSession,
    quality_dir: str,
    baseline_milli: int,
    window: int = 5,
    ratio_milli: int = 1500,
    min_vecs: int = 1,
) -> bool:
    """Decide retraining from the PERSISTED quality store alone: over the
    trailing ``window`` batches (numeric ``src_batch`` order — Spark
    batch ids), is the mean squared quantization error more than
    ``ratio_milli``/1000 times the training-time ``baseline_milli``?

    A missing or empty store raises — like ``load_skew_milli``, a
    silent False would quietly disable the loop exactly when the
    monitor is miswired.  Fewer than ``min_vecs`` recent vectors return
    False (not enough evidence to trigger a retrain).  Rows are
    dedup'd on (src_batch, ...) identity first, so the compaction crash
    window cannot double-weight a batch (module docstring)."""
    rows = read_store(spark, quality_dir)
    if rows is None:
        raise ValueError(
            f"{quality_dir}: no quality records — the index stream was "
            "started without quality_dir, or the path is wrong"
        )
    recent = (
        rows.select("src_batch", "n_vecs", "sum_sq")
        .distinct()
        .orderBy(F.col("src_batch").cast("bigint").desc())
        .limit(window)
        .agg(
            F.sum("n_vecs").alias("n"),
            F.sum("sum_sq").cast(_QDEC).alias("sum_sq"),
        )
        .collect()[0]
    )
    if recent.n is None or recent.n < min_vecs:
        return False
    recent_milli = int((1000 * recent.sum_sq) / recent.n)
    return recent_milli * 1000 > baseline_milli * ratio_milli


def start_index_stream(
    vec_stream: DataFrame,
    centroids: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = True,
    quality_dir: str | None = None,
):
    """foreachBatch indexing via :func:`index_microbatch`. ``centroids`` is
    a (cell, cvec) table from ``train_cells`` (or any partitioner with that
    shape).  ``quality_dir`` additionally lands per-batch quality records
    for :func:`should_retrain`."""

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        index_microbatch(
            batch_df,
            batch_id,
            centroids,
            out_dir,
            id_col=id_col,
            vec_col=vec_col,
            quantize=quantize,
            quality_dir=quality_dir,
        )

    return run_foreach_batch(vec_stream, index_batch, checkpoint_dir)
