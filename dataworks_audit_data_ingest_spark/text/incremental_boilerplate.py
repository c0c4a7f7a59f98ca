"""Incremental boilerplate discovery: a line document-frequency store.

q193 / ``strip_boilerplate_lines`` classify boilerplate from ONE corpus
snapshot. At crawl scale the evidence accumulates batch by batch — a
cookie banner appearing 5× per daily crawl crosses the df threshold only
after several days — so the df table must persist and merge across
batches (the reference's per-day cadence, `audit_data_ingest.py:50-68`,
applied to curation state).

Store contract (`incremental/store.py`): one ``batch_id=`` partition per
batch, dynamic-overwrite commit (replay ⇒ identical rewrite), reads
exclude the in-flight batch. Line df is ADDITIVE (docs never span
batches, so per-batch distinct-doc counts sum to the corpus df), which
is the topk_job regime, not the membership-set regime: ``compact_store``
folds with ``distinct()``, so every stored row carries its originating
batch id as a DATA column (``src_batch``) — rows are unique per
(src_batch, line_hash), the set-fold is exact, and readers re-apply
``distinct()`` on that identity so the compaction crash window (rows in
``__compacted__`` AND the originals) cannot double-count.

Lines travel as 8-byte portable hashes, never text — the q193 docstring's
at-scale note, executed: the df exchange and the store are both
hash-sized. The documented trade-off: a true-content line colliding with
a boilerplate hash (2^-32 per pair) is over-stripped; widen to a
two-seed 64-bit key if that matters for a given corpus.

Classification is prospective, not retroactive: a line crossing the
threshold at batch N is stripped from batch N onward; batches cleaned
earlier keep their copies until a recuration pass re-runs them (the
standard crawl-pipeline behavior — state monotonically improves, history
is immutable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import spark_hash32
from ..incremental.store import (
    _READ_ALL_ID,
    BATCH_COL,
    commit_batch_partition,
    read_store_excluding_batch,
)

_LINE_SEED = "bpline"


def _line_hash(col: str) -> str:
    return spark_hash32(col, _LINE_SEED)


def _lined(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _i, _lh) — one row per line position, hash-keyed."""
    return docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_i", "_line"),
    ).select("_id", "_i", F.expr(_line_hash("_line")).alias("_lh"))


def line_df_batch(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """This batch's df contribution: (line_hash, df) with df = distinct
    docs containing the line WITHIN the batch. One line-hash-keyed
    partial aggregation; repeats within a doc collapse map-side."""
    return (
        _lined(docs, id_col, text_col)
        .groupBy(F.col("_lh").alias("line_hash"))
        .agg(F.countDistinct("_id").alias("df"))
    )


def read_line_df(
    spark: SparkSession, store_path: str, exclude_batch: str = _READ_ALL_ID
) -> DataFrame | None:
    """Merged (line_hash, df) over every committed batch except
    ``exclude_batch``; ``None`` if nothing is committed yet. The
    ``distinct()`` on (src_batch, line_hash, df) row identity makes the
    read exact across the compaction crash window."""
    store = read_store_excluding_batch(spark, store_path, exclude_batch)
    if store is None:
        return None
    return (
        store.select("src_batch", "line_hash", "df")
        .distinct()
        .groupBy("line_hash")
        .agg(F.sum("df").alias("df"))
    )


def strip_boilerplate_batch(
    spark: SparkSession,
    store_path: str,
    batch: DataFrame,
    batch_id: str,
    min_docs: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Process one crawl batch against the df store.

    1. read the store EXCLUDING this batch (replay-safe: a crashed
       attempt's own partition never feeds its re-run),
    2. add this batch's contribution — classification sees the batch's
       own evidence too, so a template line saturating a single batch
       fires immediately,
    3. strip lines whose MERGED df >= ``min_docs`` and reassemble each
       document in order (documents left empty are dropped),
    4. commit the batch contribution (src_batch identity column, then
       partition overwrite — idempotent replay).

    Returns the cleaned batch with ``text_col`` replaced and all other
    columns passed through. The boilerplate set (df >= threshold) is
    broadcast-joined; the only corpus-shaped exchanges are the batch's
    own df aggregation and the doc-keyed rebuild.
    """
    contrib = line_df_batch(batch, id_col, text_col).localCheckpoint()

    prior = read_line_df(spark, store_path, exclude_batch=batch_id)
    merged = (
        contrib
        if prior is None
        else prior.unionByName(contrib)
        .groupBy("line_hash")
        .agg(F.sum("df").alias("df"))
    )
    bp = merged.filter(F.col("df") >= min_docs).select(
        F.col("line_hash").alias("_lh")
    )
    # materialize before the commit moves the store under the lazy plan
    cleaned = _strip_lines(batch, bp, id_col, text_col).localCheckpoint()

    commit_batch_partition(
        contrib.withColumn("src_batch", F.lit(str(batch_id))),
        store_path,
        batch_id,
    )
    return cleaned


def _strip_lines(
    docs: DataFrame, bp: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Strip every line whose hash is in ``bp`` (column ``_lh``),
    reassemble documents in order, drop documents left empty; all other
    columns pass through."""
    lined_txt = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_i", "_line"),
    ).withColumn("_lh", F.expr(_line_hash("_line")))
    kept = lined_txt.join(F.broadcast(bp), "_lh", "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.expr(
                "TRANSFORM(ARRAY_SORT(COLLECT_LIST(STRUCT(_i, _line))),"
                " x -> x._line)"
            ),
            "\n",
        ).alias("_clean")
    )
    return (
        docs.join(rebuilt, F.col(id_col) == F.col("_id"), "inner")
        .drop("_id")
        .withColumn(text_col, F.col("_clean"))
        .drop("_clean")
        .filter(F.length(text_col) > 0)
    )


def recurate_history(
    spark: SparkSession,
    out_dir: str,
    store_path: str,
    min_docs: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Re-clean the committed output history against the CURRENT df store
    — the retroactive half of the boilerplate loop. Prospective
    classification (``strip_boilerplate_batch``) strips a line only from
    its crossing batch FORWARD; this pass re-strips every committed
    ``batch_id=`` partition with today's boilerplate set, so a template
    convicted at batch N also leaves batches 0..N-1. Returns the number
    of documents whose text changed (or were dropped as empty).

    The df STORE is untouched: it records raw-arrival frequencies (the
    evidence), not the cleaned state — recuration is idempotent and can
    run on any maintenance cadence (pair it with ``compact_store`` on
    the same schedule). Classification-only read: the full merged df,
    no exclusion, threshold as at ingest. Output partitions rewrite via
    the same dynamic-overwrite discipline as the original commits; a
    crash mid-pass leaves some partitions recurated and some not, and a
    re-run converges (each partition's rewrite is deterministic).
    """
    merged = read_line_df(spark, store_path)
    if merged is None:
        return 0
    bp = merged.filter(F.col("df") >= min_docs).select(
        F.col("line_hash").alias("_lh")
    )
    history = spark.read.parquet(out_dir)
    cleaned = _strip_lines(history, bp, id_col, text_col)
    # count rewrites before overwriting the directory the plan reads
    changed = (
        history.select(F.col(id_col).alias("_hid"), F.col(text_col).alias("_htx"))
        .join(
            cleaned.select(
                F.col(id_col).alias("_hid"), F.col(text_col).alias("_ctx")
            ),
            "_hid",
            "left",
        )
        .filter(
            F.col("_ctx").isNull() | (F.col("_ctx") != F.col("_htx"))
        )
        .count()
    )
    cleaned = cleaned.localCheckpoint()
    (
        cleaned.write.mode("overwrite")
        .partitionBy(BATCH_COL)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out_dir)
    )
    return changed
