"""Streaming DSIR selection: maintain a k-document importance-sampled
training subset of an unbounded crawl, updated per micro-batch with O(k)
state.

The batch API (`text/dsir.py::select_dsir`) scores a corpus against
itself; a standing stream can't — per-batch models would re-weight the
same document differently batch to batch and the reservoir merge would
stop being well-defined. This job runs the fit-then-freeze recipe (the
DSIR paper's own deployment shape: fit hashed n-gram models once on
target+raw samples, then score the full crawl):

1. **Fit** (batch, scheduled): `fit_dsir_model` persists the bits grid,
   the out-of-vocabulary bits, and the weight floor to ``model_path``.
2. **Score + sample** (per micro-batch): score the batch against the
   broadcast frozen grid (`score_with_model` — pure function of
   document text and the model), then merge its weighted bottom-k into
   the standing reservoir (`sample_job.update_reservoir`).

Why this composes exactly: the priority is a pure function of
(doc_id, weight, seed) and the weight a pure function of (text, frozen
model), so the reservoir after N micro-batches equals the batch
selection over their union with the same model — pinned by the drill
test — and a replayed batch re-derives identical priorities (merge is a
no-op). Retraining the model is a separate maintenance action: refit,
then rebuild the reservoir from the archive if re-scoring history
matters, or let the stream converge forward (both documented in the
index_job retrain playbook — same decision shape).

At 100 TB: the grid broadcasts (vocab-sized under any Zipf-bounded
vocabulary); each micro-batch contributes at most k rows past its own
TakeOrderedAndProject; reservoir cost is independent of corpus size.

Reference scope note: the reference system (dwp/dataworks-audit-data-
ingest, audit_data_ingest.py:1-313) has no selection operators; this is
part of the training-data-pipeline surface the build brief adds beyond
the reference.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

from ..text.dsir import DEFAULT_SEED, score_with_model
from .jobs import run_foreach_batch
from .sample_job import update_reservoir

logger = logging.getLogger(__name__)


def start_dsir_selection_stream(
    docs_stream: DataFrame,
    model_path: str,
    reservoir_path: str,
    checkpoint_dir: str,
    k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = ("source",),
    seed: str = DEFAULT_SEED,
):
    """foreachBatch DSIR selection: after every micro-batch,
    ``reservoir_path`` holds the k-row importance-weighted sample of ALL
    documents ingested so far, scored against the frozen model at
    ``model_path`` (fit it first with ``fit_dsir_model``). The model is
    re-read per batch — a refit between batches takes effect on the next
    batch without restarting the stream."""

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        scored = score_with_model(
            spark,
            batch_df,
            model_path,
            text_col=text_col,
            id_col=id_col,
            extra_cols=extra_cols,
        )
        update_reservoir(
            spark, reservoir_path, scored, k, id_col, "weight", seed
        )
        logger.info("dsir selection: merged batch %d", batch_id)

    return run_foreach_batch(docs_stream, one_batch, checkpoint_dir)
