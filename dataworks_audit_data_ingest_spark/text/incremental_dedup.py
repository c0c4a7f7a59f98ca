"""Incremental near-dup detection against a persistent signature store.

The 100 TB curation reality: the corpus arrives day by day (the reference's
per-day batches, `audit_data_ingest.py:50-68`), and each new batch must be
deduplicated against *everything already ingested* without re-reading any
historical text. The store holds only MinHash LSH bands (~12 ints + band
hashes per doc — thousands of times smaller than the text); each round:

  1. band the new batch (queries/dedup.py's signature pipeline),
  2. join new bands against the store's bands on (band_idx, band_hash)
     (bucket-capped, same skew guard as q51) → cross-batch duplicate pairs,
  3. self-join the new bands → within-batch pairs,
  4. append the surviving docs' bands to the store (idempotent per batch id:
     a re-run of a failed batch overwrites its own partition only).

The store is partitioned by ``batch_id`` so re-ingest idempotency is
partition overwrite — the same commit discipline as the ingest watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.dedup import (
    _LSH_BUCKET_CAP,
    _spark_bands,
    _spark_sigs,
    lsh_candidate_pairs,
)


def band_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) for a batch of (doc_id, text) rows."""
    return _spark_bands(_spark_sigs(docs.select("doc_id", "text")))


def incremental_dedup_batch(
    spark: SparkSession,
    store_path: str,
    batch: DataFrame,
    batch_id: str,
    bucket_cap: int | None = _LSH_BUCKET_CAP,
) -> tuple[DataFrame, DataFrame]:
    """Process one batch against the signature store.

    Returns ``(unique_docs, dup_pairs)``:
    - ``dup_pairs``: (doc_a, doc_b) where doc_b is a new doc near-duplicating
      doc_a (an older stored doc or an earlier doc of this batch).
    - ``unique_docs``: the batch rows that duplicated nothing — the set a
      curation pipeline forwards downstream.

    Side effect: the unique docs' bands are written to
    ``{store_path}/batch_id={batch_id}`` (overwrite ⇒ idempotent re-run).
    """
    new_bands = band_documents(batch).localCheckpoint()

    from ..incremental.store import read_store

    store = read_store(spark, store_path, exclude=(batch_id,))
    have_store = store is not None

    # within-batch pairs (doc_a < doc_b: keep the earlier, drop the later)
    within = lsh_candidate_pairs(new_bands, bucket_cap=bucket_cap)

    if have_store:
        # cross-batch: stored doc is always the kept side (doc_a)
        s, n = store.alias("s"), new_bands.alias("n")
        if bucket_cap is not None:
            from pyspark.sql import Window

            wb = Window.partitionBy("band_idx", "band_hash")
            s = (
                store.withColumn("_n", F.count(F.lit(1)).over(wb))
                .filter(F.col("_n") <= bucket_cap)
                .drop("_n")
                .alias("s")
            )
        cross = (
            s.join(
                n,
                (F.col("s.band_idx") == F.col("n.band_idx"))
                & (F.col("s.band_hash") == F.col("n.band_hash")),
            )
            .select(
                F.col("s.doc_id").alias("doc_a"), F.col("n.doc_id").alias("doc_b")
            )
            .distinct()
        )
        dup_pairs = cross.unionByName(within).distinct()
    else:
        dup_pairs = within

    dup_ids = dup_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    unique_docs = batch.join(dup_ids, "doc_id", "left_anti")

    # persist the unique docs' bands under this batch's partition
    from ..incremental.store import commit_batch_partition

    commit_batch_partition(
        new_bands.join(dup_ids, "doc_id", "left_anti"), store_path, batch_id
    )
    return unique_docs, dup_pairs
