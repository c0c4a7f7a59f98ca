"""Streaming heavy hitters: per-micro-batch count-min grids + candidate
sets, merged at read time into period top-k — q87's sketch as a
maintained stream artifact (the same store discipline as hll_job).

Count-min cells are SUM-mergeable (each cell is a plain counter), so
per-batch d×w grids written under ``batch_id=`` partitions roll up to the
exact whole-stream sketch by cell-wise addition — batch boundaries are
invisible (pinned by the merge test). The candidate set is each batch's
local top-m keys: a key heavy over the period is heavy in at least one
batch whenever batches are not adversarially skewed (the standard
practical heuristic; a key spread THINLY below every batch's top-m is the
documented miss mode — widen ``m_candidates`` to tighten it, the grid
itself never loses mass).

At scale per batch: one map-side partial aggregation to ≤ d·w rows per
task, one sketch-sized write, one top-m candidate selection (map-side
WindowGroupLimit bounds it). The store grows with batches × (d·w + m),
not with traffic; reads are sketch-sized.

Long-lived maintenance: both sub-stores live under the shared
incremental contract (`incremental/store.py`), so `compact_store` folds
old ``batch_id=`` partitions — with one twist.  The shared compaction is
SET-semantics (it folds with ``distinct()``; crash-window duplicates are
tolerated because the hash stores consume membership through joins), but
count-min cells and candidate counts are ADDITIVE: two batches whose
grids happen to contain an identical (row_idx, cell, c) row would
collapse into one and silently UNDER-count.  Every stored row therefore
carries its originating batch id as a DATA column (``src_batch``) —
rows are unique per (src_batch, cell)/(src_batch, key), which makes the
``distinct()`` fold exact, and the readers re-apply ``distinct()`` on
that identity so a crash between compaction's write and delete steps
(rows present in ``__compacted__`` AND the originals) cannot
double-count either.  The usual HARD PRECONDITION stands: batches the
checkpoint may still replay must be in ``exclude``
(`checkpoint_replayable_ids` derives the list — the CDC drill recipe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import spark_hash32, universal_hash
from ..incremental.store import (
    _READ_ALL_ID,
    commit_batch_partition,
    read_store_excluding_batch,
)
from .jobs import run_foreach_batch

CMS_D = 4  # depth (independent hash rows) — same family as q87
CMS_W = 1024  # width (cells per row)


def _stack_cells() -> str:
    args = ", ".join(
        f"{i}, ({universal_hash('h', i)}) % {CMS_W}" for i in range(CMS_D)
    )
    return f"STACK({CMS_D}, {args}) AS (row_idx, cell)"


def batch_sketch(df: DataFrame, key_sql: str) -> DataFrame:
    """(row_idx, cell, c) — this batch's count-min grid (≤ d·w rows)."""
    hashed = df.select(F.expr(spark_hash32(key_sql, "cms")).alias("h"))
    cells = hashed.select(F.expr(_stack_cells()))
    return cells.groupBy("row_idx", "cell").agg(F.count(F.lit(1)).alias("c"))


def batch_candidates(df: DataFrame, key_sql: str, m: int) -> DataFrame:
    """(key, batch_count) — the batch-local top-m keys (ties → key asc)."""
    counts = (
        df.select(F.expr(key_sql).alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("batch_count"))
    )
    w = Window.orderBy(F.desc("batch_count"), F.asc("key"))
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= m)
        .drop("_rk")
    )


def topk_microbatch(
    batch_df: DataFrame,
    batch_id: int | str,
    out_dir: str,
    key_sql: str,
    m_candidates: int = 32,
) -> None:
    """Land this batch's grid + candidates under batch_id= partitions
    (dynamic overwrite — replay rewrites exactly its own partitions).
    ``src_batch`` rides along as a data column: the row identity that
    makes set-semantics compaction exact for additive counts (module
    docstring)."""
    commit_batch_partition(
        batch_sketch(batch_df, key_sql).select(
            F.lit(str(batch_id)).alias("src_batch"), "*"
        ),
        f"{out_dir}/sketch",
        batch_id,
    )
    commit_batch_partition(
        batch_candidates(batch_df, key_sql, m_candidates).select(
            F.lit(str(batch_id)).alias("src_batch"), "*"
        ),
        f"{out_dir}/candidates",
        batch_id,
    )


def start_topk_stream(
    event_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_sql: str = "event_type",
    m_candidates: int = 32,
):
    """foreachBatch heavy-hitter maintenance via :func:`topk_microbatch`."""

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        topk_microbatch(batch_df, batch_id, out_dir, key_sql, m_candidates)

    return run_foreach_batch(event_stream, one_batch, checkpoint_dir)


def merged_sketch(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Cell-wise SUM over all stored batch grids — the whole-stream
    count-min, exactly as if built in one pass; ``None`` before any
    batch.  ``distinct()`` first: compaction-crash duplicates collapse
    on (src_batch, cell) row identity before the additive sum (module
    docstring)."""
    rows = read_store_excluding_batch(spark, f"{out_dir}/sketch", _READ_ALL_ID)
    if rows is None:
        return None
    return (
        rows.select("src_batch", "row_idx", "cell", "c")
        .distinct()
        .groupBy("row_idx", "cell")
        .agg(F.sum("c").alias("c"))
    )


def read_topk(spark: SparkSession, out_dir: str, k: int) -> DataFrame | None:
    """(key, est_count, seen_count, rnk) — period top-k: candidate keys
    (union of batch-local heavies) point-queried against the merged grid
    (MIN over the key's d cells — the one-sided count-min estimate).
    ``seen_count`` — the sum of the key's own stored batch counts — is an
    exact lower bound: est_count >= true >= seen_count.  ``None`` before
    any batch."""
    cand_rows = read_store_excluding_batch(
        spark, f"{out_dir}/candidates", _READ_ALL_ID
    )
    sketch = merged_sketch(spark, out_dir)
    if cand_rows is None or sketch is None:
        return None
    cand = (
        cand_rows.select("src_batch", "key", "batch_count")
        .distinct()
        .groupBy("key")
        .agg(F.sum("batch_count").alias("seen"))
    )
    probes = cand.withColumn(
        "h", F.expr(spark_hash32("key", "cms"))
    ).select("key", "seen", F.expr(_stack_cells()))
    est = (
        probes.join(F.broadcast(sketch), ["row_idx", "cell"])
        .groupBy("key")
        .agg(
            F.min("c").cast("bigint").alias("est_count"),
            F.max("seen").cast("bigint").alias("seen_count"),
        )
    )
    w = Window.orderBy(F.desc("est_count"), F.asc("key"))
    return (
        est.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("key", "est_count", "seen_count", "rnk")
    )
