"""Streaming CDC chunk dedup: documents arrive as a stream; each
micro-batch is chunked at content-defined boundaries and deduplicated at
CHUNK granularity against everything previously ingested — the
re-crawl-resilient rung of the incremental family (lexical bands:
``curation_job``; semantic signatures: ``incremental_semantic``;
perceptual hashes: ``incremental_phash``; content chunks: here).

Why chunk-level for streams: a re-crawl of a page with one edited
paragraph is NOT a near-duplicate the signature stores necessarily catch
cheaply, but every unchanged chunk hashes identically — the sink stores
only the novel chunks and a per-document novelty score (re-crawled
boilerplate scores ~0), so storage grows with NEW content, not with crawl
frequency. State is the external (chunk_hash, chunk_len) store from
``text/cdc.py`` — batch_id-partitioned, dynamic-overwrite idempotent, the
same exactly-once discipline as the other incremental jobs.

Recovery precondition (shared by every job in the incremental family):
replay idempotency holds only when a restart REUSES the checkpoint, so
the stream re-slices into the SAME (batch_id → files) assignment and
dynamic overwrite rewrites exactly the partitions the failed run wrote.
A fresh checkpoint with different slicing (e.g. a changed
``maxFilesPerTrigger``) restarts batch_ids from 0 but leaves the old
run's higher-batch_id store partitions in place — their chunk hashes
still match the left-anti join, so genuinely re-arriving content looks
non-novel. On a fresh-checkpoint restart either point at a fresh
``store_path``/``out_dir`` or delete store partitions with batch_id at
or beyond the restart point first.

Long-lived maintenance: fold old store partitions with
``incremental.store.compact_store``, deriving the exclude list from the
checkpoint via ``incremental.store.checkpoint_replayable_ids`` (offsets
minus commits = the batches a restart may re-run) — the end-to-end
drill lives in ``tests/test_store_compaction.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..text.cdc import DEFAULT_DIV, DEFAULT_WIN, incremental_cdc_batch
from .jobs import run_foreach_batch


def start_cdc_stream(
    docs_stream: DataFrame,
    out_dir: str,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    win: int = DEFAULT_WIN,
    div: int = DEFAULT_DIV,
):
    """foreachBatch CDC dedup: chunk → dedup vs the chunk store → land the
    novel chunks and the per-doc novelty stats under batch_id=
    (dynamic overwrite ⇒ replayed batches rewrite their own output)."""

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        novel, doc_stats = incremental_cdc_batch(
            spark,
            store_path,
            batch_df,
            str(batch_id),
            id_col=id_col,
            text_col=text_col,
            win=win,
            div=div,
        )
        from ..incremental.store import commit_batch_partition

        for sub, df in (("chunks", novel), ("doc_stats", doc_stats)):
            commit_batch_partition(df, f"{out_dir}/{sub}", str(batch_id))

    return run_foreach_batch(docs_stream, one_batch, checkpoint_dir)
