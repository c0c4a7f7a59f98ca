"""Streaming boilerplate removal: crawl documents arrive as a stream;
each micro-batch is cleaned against the ACCUMULATED line document-
frequency store (`text/incremental_boilerplate.py`) and the cleaned
batch lands under ``batch_id=`` partitions — the streaming rung of the
boilerplate loop, alongside the lexical (``curation_job``), chunk
(``cdc_job``), semantic, and perceptual rungs.

The property that makes this a STREAM operator and not a per-batch one:
classification evidence accumulates across micro-batches, so a site
template no single micro-batch could convict (df below threshold) is
convicted mid-stream and stripped from that batch FORWARD — earlier
batches' outputs are immutable history (the prospective-classification
contract, pinned by the drill test).

Exactly-once discipline (shared with every incremental job): the df
contribution commits under the batch's own partition via dynamic
overwrite, the store read excludes the in-flight batch, and the cleaned
output lands batch_id-partitioned — a replayed batch rewrites exactly
its own state and output. The fresh-checkpoint precondition and the
compaction recipe (exclude = ``checkpoint_replayable_ids``) are the
cdc_job contract, unchanged — see that module's docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..text.incremental_boilerplate import strip_boilerplate_batch
from .jobs import run_foreach_batch


def start_boilerplate_stream(
    docs_stream: DataFrame,
    out_dir: str,
    store_path: str,
    checkpoint_dir: str,
    min_docs: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch boilerplate removal: clean each micro-batch against
    the merged df store (batch's own contribution included, so a
    saturating batch convicts immediately), commit the contribution,
    land the cleaned docs under ``batch_id=`` (dynamic overwrite ⇒
    replayed batches rewrite their own output)."""

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cleaned = strip_boilerplate_batch(
            spark,
            store_path,
            batch_df,
            str(batch_id),
            min_docs=min_docs,
            id_col=id_col,
            text_col=text_col,
        )
        from ..incremental.store import commit_batch_partition

        commit_batch_partition(cleaned, out_dir, str(batch_id))

    return run_foreach_batch(docs_stream, one_batch, checkpoint_dir)


def maintain_boilerplate_store(
    spark,
    out_dir: str,
    store_path: str,
    checkpoint_dir: str,
    min_docs: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """The scheduled maintenance command for a standing boilerplate
    stream — the two maintenance halves COMPOSED in their safe order:

    1. ``compact_store`` with the exclude list derived from the stream's
       own checkpoint (``checkpoint_replayable_ids`` — offsets minus
       commits; empty after a clean availableNow termination, the
       in-flight batch after a crash), restoring O(1) store partitions.
    2. ``recurate_history`` against the now-compacted store, re-cleaning
       every committed output partition with today's full evidence.

    Compact-then-recurate is safe BECAUSE compaction preserves the
    merged df exactly (the ``src_batch`` row identity makes the
    distinct-fold lossless — `text/incremental_boilerplate.py` module
    docstring), so recuration reads the same boilerplate set either
    side of the fold; the drill test pins the composition against an
    uncompacted control run byte-for-byte. Running recurate first would
    also work, but would re-list the unfolded partition sprawl the
    compaction exists to remove — maintenance cost, not correctness.

    Returns ``{"folded": <partitions removed>, "recurated": <docs
    rewritten>}``. Idempotent: a crash between the halves re-runs
    cleanly (compaction converges from its crash window, recuration is
    deterministic per partition).
    """
    from ..incremental.store import checkpoint_replayable_ids, compact_store
    from ..text.incremental_boilerplate import recurate_history

    exclude = checkpoint_replayable_ids(spark, checkpoint_dir)
    folded = compact_store(spark, store_path, exclude=exclude)
    recurated = recurate_history(
        spark,
        out_dir,
        store_path,
        min_docs=min_docs,
        id_col=id_col,
        text_col=text_col,
    )
    return {"folded": folded, "recurated": recurated}
