"""Incremental perceptual media dedup against a persistent aHash store —
the media twin of `text/incremental_dedup.py` (lexical bands) and
`text/incremental_semantic.py` (embedding signatures), completing the
incremental trio.

The store holds each kept document's aHash LSH bands (4×16-bit values per
payload — the bands ARE the full 64-bit signature, so the Hamming verify
needs nothing else). Per batch:

  1. decode pixels → aHash bands (`multimodal/ops.py`),
  2. new bands ⋈ store bands on (band, bval) → cross-batch candidates,
     verified by exact band-wise Hamming; the STORED doc is always the
     kept side,
  3. new ⋈ new (id_a < id_b) → within-batch pairs, same verify,
  4. surviving docs' bands append under ``batch_id=`` (dynamic overwrite
     ⇒ replay idempotent, and the read excludes the current batch's
     partition so a replay never self-matches — the lesson the lexical
     store learned in round 3).

At scale each batch costs one decode pass + band joins whose fan-out is
bounded by bucket populations; the store grows by 4 small ints per kept
payload, thousands of times smaller than the media itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ops import average_hash_bands, extract_pixels, with_media_payload

_N_PIXELS = 64
_N_BANDS = 4


def band_media(batch: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, band, bval) aHash bands for a batch of (doc_id, text)
    payload rows."""
    return average_hash_bands(
        extract_pixels(with_media_payload(batch, text_col=text_col)),
        n_pixels=_N_PIXELS,
        n_bands=_N_BANDS,
    )


def _sigs(bands: DataFrame, id_alias: str, sig_alias: str) -> DataFrame:
    return bands.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("band", "bval"))).alias(sig_alias)
    ).withColumnRenamed("doc_id", id_alias)


def _verified(cand: DataFrame, bands_a, bands_b, max_hamming: int) -> DataFrame:
    """(doc_a, doc_b, hamming ≤ max) for candidate id pairs, Hamming
    recomputed from the two sides' full band sets."""
    ham = (
        "AGGREGATE(ZIP_WITH(_sa, _sb, (x, y) -> "
        "BIT_COUNT(CAST(x.bval AS BIGINT) ^ CAST(y.bval AS BIGINT))), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return (
        cand.join(_sigs(bands_a, "doc_a", "_sa"), "doc_a")
        .join(_sigs(bands_b, "doc_b", "_sb"), "doc_b")
        .withColumn("hamming", F.expr(ham))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming"))
    )


def incremental_phash_batch(
    spark: SparkSession,
    store_path: str,
    batch: DataFrame,
    batch_id: str,
    max_hamming: int = 6,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Process one media batch against the aHash store.

    Returns ``(unique_docs, dup_pairs)`` — ``doc_b`` is always the new
    document, ``doc_a`` the kept one (stored, or earlier in this batch).
    Side effect: surviving docs' bands land under
    ``{store_path}/batch_id={batch_id}``."""
    new_bands = band_media(batch, text_col=text_col).localCheckpoint()

    from ..incremental.store import read_store

    store = read_store(spark, store_path, exclude=(batch_id,))
    have_store = store is not None

    a = new_bands.select(
        F.col("doc_id").alias("doc_a"), "band", F.col("bval").alias("bv")
    )
    b = new_bands.select(
        F.col("doc_id").alias("doc_b"), "band", F.col("bval").alias("bv")
    )
    within_cand = (
        a.join(b, ["band", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pairs = _verified(within_cand, new_bands, new_bands, max_hamming)

    if have_store:
        s = store.select(
            F.col("doc_id").alias("doc_a"), "band", F.col("bval").alias("bv")
        )
        cross_cand = (
            s.join(b, ["band", "bv"]).select("doc_a", "doc_b").distinct()
        )
        cross = _verified(cross_cand, store, new_bands, max_hamming)
        pairs = pairs.unionByName(cross).distinct()

    dup_ids = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    unique_docs = batch.join(dup_ids, "doc_id", "left_anti")

    from ..incremental.store import commit_batch_partition

    commit_batch_partition(
        new_bands.join(dup_ids, "doc_id", "left_anti"), store_path, batch_id
    )
    return unique_docs, pairs
