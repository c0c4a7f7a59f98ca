"""Content-defined chunking (CDC) — the production API behind q93.

Rabin/Gear-style chunking cuts a document where the rolling hash of the
trailing ``win``-char window ≡ 0 (mod ``div``): an insertion early in a
document re-aligns at most one chunk instead of every fixed-size block
(q86's failure mode), so chunk-level dedup stays effective across edits —
the property CDC storage systems (LBFS, restic, borg) are built on, here
as a corpus-dedup primitive for training-data pipelines (near-identical
crawl snapshots share almost all chunks).

Reference semantics: the reference pipeline moves whole files as opaque
blobs (`/root/reference/audit_data_ingest.py:118-120`); CDC is the
north-star extension that makes re-ingested, slightly-edited content
dedupe at sub-document granularity.

Scale design (the q93 verdict note, productionized):

- The position explode (rows = corpus characters) is NARROW and filtered
  map-side: only ~1/div of positions survive to any exchange.
- The span→text rejoin is a KEYED join on the id column — never a
  broadcast of document text (q93's ``F.broadcast(docs)`` is safe only
  because that oracle query is bounded to a 200-doc fixture slice; at
  100 TB the text side must shuffle by key, and AQE may still choose a
  broadcast when a filtered input genuinely fits).
- The incremental path mirrors text/incremental_dedup.py: a
  batch_id-partitioned chunk-hash store, replay-idempotent via dynamic
  overwrite, current batch's partition excluded on read, and only
  PATH_NOT_FOUND treated as first batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import cdc_window_hash

DEFAULT_WIN = 8  # rolling-window width, characters
DEFAULT_DIV = 64  # boundary divisor -> expected chunk length ~div chars


def chunk_documents_cdc(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    win: int = DEFAULT_WIN,
    div: int = DEFAULT_DIV,
    with_text: bool = False,
) -> DataFrame:
    """Chunk every document at content-defined boundaries.

    Returns one row per chunk: ``(id_col, chunk_idx, start_pos, end_pos,
    chunk_len, chunk_hash)`` with 1-based inclusive character offsets and
    ``chunk_hash`` the md5 of the chunk text (``with_text=True`` also
    carries ``chunk_text`` — opt-in, it widens every downstream row).
    Documents shorter than ``win`` produce a single whole-document chunk.

    Plan shape: explode positions → map-side boundary filter (~1/div
    survival) → one id-keyed window for span assembly → one KEYED join
    back to the text (both sides hash-partitioned by id — document text
    is never broadcast) → substr + md5 map-side.
    """
    d = docs.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        *[c for c in docs.columns if c not in (id_col, text_col)],
    )
    # null/empty text short-circuits to zero chunks: the final-cut union
    # below would otherwise emit a degenerate row per empty doc
    # (start_pos=1 > end_pos=0, md5('')) and a null-hash row per null doc
    # — and a null chunk_hash never matches incremental_cdc_batch's
    # left-anti store join, so such docs would be re-marked novel and
    # re-written to the store every batch.
    d = d.filter(F.col("_t").isNotNull() & (F.length("_t") > 0))
    long_enough = d.filter(F.length("_t") >= win)
    pos = long_enough.select(
        id_col,
        "_t",
        F.explode(F.sequence(F.lit(1), F.length("_t") - (win - 1))).alias("p"),
    )
    bounds = pos.filter(
        F.expr(f"({cdc_window_hash('_t', 'p', win)}) % {div} = 0")
    ).select(id_col, (F.col("p") + (win - 1)).alias("end_pos"))
    # every document ends at length(text) — also the sole cut of short docs
    cuts = bounds.unionByName(
        d.select(id_col, F.length("_t").cast("bigint").alias("end_pos"))
    ).distinct()
    w = Window.partitionBy(id_col).orderBy("end_pos")
    spans = cuts.select(
        id_col,
        "end_pos",
        (F.coalesce(F.lag("end_pos").over(w), F.lit(0)) + 1).alias("start_pos"),
        (F.row_number().over(w)).cast("bigint").alias("chunk_idx"),
    )
    # keyed rejoin — the production difference vs q93's bounded broadcast
    joined = spans.join(d.select(id_col, "_t"), id_col)
    chunk_expr = F.expr(
        "substr(_t, CAST(start_pos AS INT), CAST(end_pos - start_pos + 1 AS INT))"
    )
    out = joined.select(
        id_col,
        "chunk_idx",
        "start_pos",
        "end_pos",
        (F.col("end_pos") - F.col("start_pos") + 1).alias("chunk_len"),
        F.md5(chunk_expr).alias("chunk_hash"),
        *([chunk_expr.alias("chunk_text")] if with_text else []),
    )
    return out


def cdc_dedup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
    win: int = DEFAULT_WIN,
    div: int = DEFAULT_DIV,
) -> DataFrame:
    """Chunk-level dedup report: per ``group_col`` (or corpus-wide with a
    literal ``'all'`` group), chunk count, unique-chunk count, total and
    max chunk length — q93's aggregate over the API chunker."""
    chunks = chunk_documents_cdc(docs, id_col, text_col, win, div)
    if group_col is not None:
        chunks = chunks.join(docs.select(id_col, group_col), id_col)
        key = F.col(group_col)
    else:
        key = F.lit("all").alias("group")
        group_col = "group"
    return (
        chunks.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("chunk_hash").alias("n_unique_chunks"),
            F.sum("chunk_len").alias("total_chars"),
            F.max("chunk_len").alias("max_chunk_len"),
        )
        .orderBy(group_col)
    )


def incremental_cdc_batch(
    spark: SparkSession,
    store_path: str,
    batch: DataFrame,
    batch_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    win: int = DEFAULT_WIN,
    div: int = DEFAULT_DIV,
) -> tuple[DataFrame, DataFrame]:
    """Process one document batch against the persistent chunk-hash store.

    Returns ``(novel_chunks, doc_stats)``:

    - ``novel_chunks``: chunk rows (as :func:`chunk_documents_cdc`) whose
      ``chunk_hash`` appears neither in the store nor earlier in this
      batch (within-batch first occurrence ordered by ``(id, chunk_idx)``)
      — the only content a downstream sink must store or re-process.
    - ``doc_stats``: per-document ``(id_col, n_chunks, n_novel,
      novel_chars)`` — a novelty score usable as a crawl-dedup signal
      (re-crawled boilerplate scores ~0). EVERY batch document gets a
      row: null/empty-text docs (zero chunks by contract) appear with
      all-zero counts rather than vanishing.

    Side effect: novel chunks' ``(chunk_hash, chunk_len)`` land under
    ``{store_path}/batch_id={batch_id}`` (dynamic overwrite ⇒ replay
    re-derives the identical partition — idempotent). The store read
    excludes the current batch's partition so a replay does not
    self-match, and only PATH_NOT_FOUND means first batch (real read
    errors propagate) — both inherited from incremental_dedup.py's
    hardening.

    Scale: the store side is ``(hash, len)`` pairs only — document text
    never enters the store or the comparison shuffle; per-batch cost is
    one chunking pass + one hash-keyed left-anti join against the store.
    """
    from ..incremental.store import (
        commit_batch_partition,
        read_store,
    )

    chunks = chunk_documents_cdc(batch, id_col, text_col, win, div)
    chunks = chunks.localCheckpoint()

    # within-batch: keep the first occurrence of every hash
    w_h = Window.partitionBy("chunk_hash").orderBy(id_col, "chunk_idx")
    firsts = (
        chunks.withColumn("_rk", F.row_number().over(w_h))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )

    store = read_store(spark, store_path, exclude=(batch_id,))
    if store is not None:
        novel = firsts.join(
            store.select("chunk_hash"), "chunk_hash", "left_anti"
        )
    else:
        novel = firsts

    novel = novel.localCheckpoint()

    novel_per_doc = novel.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_novel"),
        F.sum("chunk_len").alias("novel_chars"),
    )
    doc_stats = (
        chunks.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_chunks"))
        .join(novel_per_doc, id_col, "left")
        .select(
            id_col,
            "n_chunks",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.coalesce("novel_chars", F.lit(0)).alias("novel_chars"),
        )
    )
    # per-document means EVERY batch document: docs that produced zero
    # chunks (null/empty text, short-circuited by chunk_documents_cdc)
    # still get an all-zero row, so "was this doc processed?" checks
    # keyed on doc_stats never report them missing
    zero_chunk_docs = (
        batch.select(F.col(id_col))
        .distinct()
        .join(chunks.select(id_col).distinct(), id_col, "left_anti")
        .select(
            id_col,
            F.lit(0).cast("bigint").alias("n_chunks"),
            F.lit(0).cast("bigint").alias("n_novel"),
            F.lit(0).cast("bigint").alias("novel_chars"),
        )
    )
    doc_stats = doc_stats.unionByName(zero_chunk_docs)

    commit_batch_partition(
        novel.select("chunk_hash", "chunk_len"), store_path, batch_id
    )
    return novel, doc_stats
