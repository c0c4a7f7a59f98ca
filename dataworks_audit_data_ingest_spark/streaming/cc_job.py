"""Streaming cluster maintenance: a standing near-dup CLUSTER view of an
unbounded crawl, one micro-batch at a time.

Composes the two incremental stores end-to-end per micro-batch:

1. `text/incremental_dedup.py::incremental_dedup_batch` bands the batch
   and surfaces its duplicate pairs against everything already ingested
   (signature store — O(batch) new text read, never history);
2. `incremental/cc.py::update_cc_store` folds those pairs into the
   persisted min-label store (merge-only: work proportional to the
   components the batch touched).

After every micro-batch, ``read_cc_labels(cc_store)`` is the cluster
labeling that a batch CC over every pair ever surfaced would produce
(drill-pinned), so downstream keep-one-representative curation reads a
standing view instead of recomputing a corpus-wide CC per refresh.

Replay discipline: BOTH stores key their partitions by the micro-batch
id, and both updates read excluding their own partition — a crashed
batch re-runs to identical state (the CC store additionally tolerates
later-batch replays through its monotone MIN fold). The recovery
precondition is the shared one (`incremental/store.py` module docs):
restart from the SAME checkpoint so batch slicing is stable.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

from ..incremental.cc import update_cc_store
from ..text.incremental_dedup import incremental_dedup_batch
from .jobs import run_foreach_batch

logger = logging.getLogger(__name__)


def start_cluster_maintenance_stream(
    docs_stream: DataFrame,
    sig_store: str,
    cc_store: str,
    checkpoint_dir: str,
):
    """foreachBatch near-dup cluster maintenance over a (doc_id, text, ...)
    stream: after every micro-batch the CC label store reflects all
    duplicate pairs surfaced so far. Returns the started query."""

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _, dup_pairs = incremental_dedup_batch(
            spark, sig_store, batch_df, str(batch_id)
        )
        delta = update_cc_store(
            spark, cc_store, dup_pairs, str(batch_id)
        )
        logger.info(
            "cluster maintenance: batch %d wrote %d label rows",
            batch_id,
            delta.count(),
        )

    return run_foreach_batch(docs_stream, one_batch, checkpoint_dir)
