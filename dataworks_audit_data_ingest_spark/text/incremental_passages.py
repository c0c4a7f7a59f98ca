"""Incremental passage store: re-crawls only re-embed CHANGED windows.

The expensive stage of a RAG/embedding pipeline is the encoder, not the
chunker — at crawl scale most of every refresh is pages that did not
change, and re-embedding their passages burns the GPU budget on
no-ops. This rung puts `pipeline.chunk_passages` (overlapping fixed
windows, q216's spans) behind the shared incremental store contract
(`incremental/store.py` — per-batch partitions, dynamic-overwrite
commit, read-excludes-own-batch): each batch chunks its documents,
anti-joins the passage-hash store, and emits ONLY novel passages for
the embedding stage. An edited page re-embeds just the windows its
edit touched (plus the overlap neighbors whose text shifted) — the
drill test pins exactly that.

Store rows are ``(passage_hash, n_words)`` plus the committing batch id
— 8-byte portable hashes (`functions/hashing.py` MD5-32, seed "psg",
the SAME seed as q216 so store hashes and the oracle census can never
disagree), never passage text. Same replay discipline as the chunk
store: the read excludes the in-flight batch, a replayed batch
re-derives its identical partition, and `compact_store` applies with
the usual checkpoint-derived exclude list.

Reference scope note: the reference (dwp/dataworks-audit-data-ingest,
audit_data_ingest.py:1-313) has no text operators; this is part of the
training-data/RAG surface the build brief adds beyond the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import spark_hash32
from .pipeline import chunk_passages

PASSAGE_HASH_SEED = "psg"


def hash_passages(passages: DataFrame) -> DataFrame:
    """Attach the portable 32-bit passage hash (column ``passage_hash``)
    used by q216, the store, and any downstream index."""
    return passages.withColumn(
        "passage_hash",
        F.expr(spark_hash32("passage_text", PASSAGE_HASH_SEED)),
    )


def incremental_passage_batch(
    spark: SparkSession,
    store_path: str,
    batch: DataFrame,
    batch_id: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
) -> tuple[DataFrame, DataFrame]:
    """Process one crawl batch against the passage-hash store.

    Returns ``(novel_passages, doc_stats)``: the passages whose hash
    appears neither in the store nor earlier in this batch (the only
    rows the embedding stage must process), and per-document
    ``(id_col, n_passages, n_novel)`` — every batch document gets a row.
    Side effect: novel ``(passage_hash, n_words)`` commit under
    ``batch_id=`` via dynamic overwrite (replay-idempotent).
    """
    from ..incremental.store import (
        commit_batch_partition,
        read_store,
    )

    passages = hash_passages(
        chunk_passages(
            batch.select(F.col(id_col), F.col(text_col)),
            window=window,
            stride=stride,
            id_col=id_col,
            text_col=text_col,
        )
    ).localCheckpoint()

    w_h = Window.partitionBy("passage_hash").orderBy(id_col, "passage_idx")
    firsts = (
        passages.withColumn("_rk", F.row_number().over(w_h))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    store = read_store(spark, store_path, exclude=(batch_id,))
    if store is not None:
        novel = firsts.join(
            store.select("passage_hash").distinct(), "passage_hash", "left_anti"
        )
    else:
        novel = firsts
    novel = novel.localCheckpoint()

    novel_per_doc = novel.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    doc_stats = (
        batch.select(id_col)
        .distinct()
        .join(
            passages.groupBy(id_col).agg(
                F.count(F.lit(1)).alias("n_passages")
            ),
            id_col,
            "left",
        )
        .join(novel_per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_passages", F.lit(0)).cast("bigint").alias("n_passages"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        )
    )
    commit_batch_partition(
        novel.select("passage_hash", "n_words"), store_path, batch_id
    )
    return novel, doc_stats
