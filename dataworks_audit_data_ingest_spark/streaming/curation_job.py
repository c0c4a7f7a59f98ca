"""Streaming corpus curation: documents arrive as a stream, each micro-batch
is PII-redacted, quality-gated, and near-dup-checked against EVERYTHING
previously ingested, then appended to the curated corpus.

State model: Spark's own streaming state cannot hold a corpus-lifetime
signature index (it is watermark-bounded), so cross-batch dedup state lives
in the external signature store (`text/incremental_dedup.py`) — bands only,
thousands of times smaller than text, updated idempotently per micro-batch
inside ``foreachBatch``. Exactly-once: the batch_id keys the store
partition, so a replayed micro-batch overwrites its own bands and the
curated sink is keyed the same way.

This is the streaming twin of the batch curation pipeline
(`text/pipeline.py`) with identical per-batch semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..incremental.store import commit_batch_partition
from ..text.incremental_dedup import incremental_dedup_batch
from ..text.pipeline import annotate_quality, redact_pii
from .jobs import run_foreach_batch

DOC_SCHEMA = "doc_id long, text string, lang string, source string"


def stream_documents_json(
    spark: SparkSession,
    src_dir: str,
    schema: StructType | str = DOC_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema).format("json")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(src_dir)


def start_curation_stream(
    docs_stream: DataFrame,
    out_dir: str,
    store_path: str,
    checkpoint_dir: str,
    min_tokens: int = 10,
):
    """foreachBatch curation: redact → quality gate → incremental near-dup
    vs the signature store → append curated parquet under batch_id=."""

    def curate_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cleaned = redact_pii(batch_df)
        kept = annotate_quality(cleaned, min_tokens=min_tokens).filter(
            F.col("quality_verdict") == "keep"
        )
        unique_docs, _ = incremental_dedup_batch(
            spark, store_path, kept, batch_id=str(batch_id)
        )
        commit_batch_partition(unique_docs, out_dir, str(batch_id))

    return run_foreach_batch(docs_stream, curate_batch, checkpoint_dir)
