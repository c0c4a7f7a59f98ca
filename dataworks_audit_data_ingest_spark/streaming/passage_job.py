"""Streaming passage novelty: crawl documents arrive as a stream; each
micro-batch chunks to overlapping windows and emits ONLY passages whose
hash the store has never seen — the embedding stage's work queue, kept
minimal across re-crawls (`text/incremental_passages.py` is the batch
rung; this is its foreachBatch twin, the same pairing as
curation/cdc/boilerplate jobs).

Exactly-once discipline (shared with every incremental job): the novel
hashes commit under the batch's own partition via dynamic overwrite,
the store read excludes the in-flight batch, and the novel-passage
output lands batch_id-partitioned — a replayed batch rewrites exactly
its own state and output. Compaction uses the checkpoint-derived
exclude list (`incremental/store.py::checkpoint_replayable_ids`), the
cdc_job contract unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..text.incremental_passages import incremental_passage_batch
from .jobs import run_foreach_batch


def start_passage_stream(
    docs_stream: DataFrame,
    out_dir: str,
    store_path: str,
    checkpoint_dir: str,
    *,
    window: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch passage novelty: per micro-batch, chunk → anti-join
    the passage-hash store → land novel passages (with text, for the
    embedding stage) under ``batch_id=``."""

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        novel, _stats = incremental_passage_batch(
            spark,
            store_path,
            batch_df,
            str(batch_id),
            id_col=id_col,
            text_col=text_col,
            window=window,
            stride=stride,
        )
        from ..incremental.store import commit_batch_partition

        commit_batch_partition(novel, out_dir, str(batch_id))

    return run_foreach_batch(docs_stream, one_batch, checkpoint_dir)
