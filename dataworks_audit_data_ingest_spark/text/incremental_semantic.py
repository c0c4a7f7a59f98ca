"""Incremental SEMANTIC (embedding-level) dedup against a persistent
signature store — the embedding-side twin of `incremental_dedup.py`'s
lexical MinHash store, for the same 100 TB reality: batches arrive day by
day and each must be deduplicated against everything already ingested
without re-reading (or even re-storing) historical embeddings at full
precision.

Per historical document the store holds ONE row:

- ``fullsig`` — the 32-bit SRP sign signature (the same integer-quantized
  projections as `drop_semantic_duplicates` / q90, so store and batch
  signatures are join-compatible forever), from which the banded
  (band, bval) blocking keys are RE-DERIVED on read — no exploded band
  rows, 12× fewer store rows than the lexical store's band layout;
- the int8 quantization of the embedding (`similarity/quantize.py`:
  levels + two affine scalars, 64 bytes + 16 at d=64 — 8× smaller than
  the double form) used to VERIFY candidate cosines against new batches.

Each round:

  1. sign + quantize the new batch (one map, no shuffle);
  2. candidates = exact-``fullsig`` matches (new×store and new×new anchor
     stars — the near-identical piles) plus shared (band, bval) buckets
     under the q51-style cap (single-band agreers: few flipped bits);
  3. verify with cosine ≥ threshold — batch side at full precision,
     store side DEQUANTIZED (error per element ≤ scale/2 ⇒ cosine error
     O(1e-3) at d=64; pick ``threshold`` with that margin in mind — the
     store trades exactness of the VERIFIER, never of the signatures);
  4. append the surviving docs' rows to the store, partitioned by
     ``batch_id`` (dynamic overwrite ⇒ idempotent re-run, and the read
     side excludes the current batch's partition so a replay never
     self-matches — the lesson baked into `incremental_dedup.py`).

At scale: the store is ~80 bytes/doc; candidate generation shuffles
(band, bval) keys and signature-equality keys only; dequantized
verification touches candidate pairs, never the store×batch product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..similarity.knn import _srp_bands_expr, _with_norm, cosine_expr
from ..similarity.quantize import quantize_int8

_SEM_BANDS = 4
_SEM_BITS = 8
_SEM_BUCKET_CAP = 64


def sign_and_quantize(
    docs: DataFrame, id_col: str = "doc_id", vec_col: str = "embedding"
) -> DataFrame:
    """(doc_id, fullsig, q_levels, q_min, q_scale) — one store-shaped row
    per document; all map-side expressions."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"TRANSFORM({vec_col}, x -> CAST(x AS DOUBLE))").alias("_v"),
    )
    proj, _ = _srp_bands_expr("_v", _SEM_BANDS, _SEM_BITS, "srp")
    n_bits = _SEM_BANDS * _SEM_BITS
    fullsig = "CONCAT(" + ", ".join(
        f"CASE WHEN _sig[{j}] >= 0 THEN '1' ELSE '0' END" for j in range(n_bits)
    ) + ")"
    return (
        quantize_int8(base, "_v")
        .withColumn("_sig", F.expr(proj))
        .select(
            "doc_id",
            F.expr(fullsig).alias("fullsig"),
            "q_levels",
            "q_min",
            "q_scale",
        )
    )


def _bands_from_sig(df: DataFrame) -> DataFrame:
    """(doc_id, band, bval) re-derived from the stored ``fullsig`` string —
    little-endian per band, matching `_srp_bands_expr`'s packing."""
    return (
        df.select(
            "doc_id",
            "fullsig",
            F.explode(F.sequence(F.lit(0), F.lit(_SEM_BANDS - 1))).alias("band"),
        )
        .withColumn(
            "bval",
            F.expr(
                f"AGGREGATE(SEQUENCE(0, {_SEM_BITS - 1}), 0, (acc, r) -> "
                f"acc + SHIFTLEFT(CAST(SUBSTRING(fullsig, band * {_SEM_BITS} + r + 1, 1) "
                f"AS INT), r))"
            ),
        )
        .drop("fullsig")
    )


def _dequant_expr() -> str:
    return "TRANSFORM(q_levels, l -> q_min + CAST(l AS DOUBLE) * q_scale)"


def incremental_semantic_batch(
    spark: SparkSession,
    store_path: str,
    batch: DataFrame,
    batch_id: str,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    bucket_cap: int = _SEM_BUCKET_CAP,
) -> tuple[DataFrame, DataFrame]:
    """Process one batch of (id, embedding) rows against the store.

    Returns ``(unique_docs, dup_pairs)``: ``dup_pairs`` is (doc_a, doc_b)
    with doc_b the new near-duplicate and doc_a its kept counterpart (a
    stored doc, or an earlier-id doc of this batch); ``unique_docs`` is
    the batch minus every doc_b. Side effect: unique docs' store rows are
    written to ``{store_path}/batch_id={batch_id}`` (dynamic overwrite ⇒
    idempotent replay)."""
    sq = sign_and_quantize(batch, id_col, vec_col).localCheckpoint()
    new_vecs = _with_norm(
        batch.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("_v")),
        "_v",
    ).select("doc_id", "_v", F.col("_nrm").alias("_n"))

    from ..incremental.store import read_store

    store = read_store(spark, store_path, exclude=(batch_id,))
    have_store = store is not None

    # -- candidates, level 1: exact full-signature agreement --
    w_sig = Window.partitionBy("fullsig")
    within_sig = (
        sq.withColumn("_anchor", F.min("doc_id").over(w_sig))
        .filter(F.col("doc_id") != F.col("_anchor"))
        .select(F.col("_anchor").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    # -- candidates, level 2: shared (band, bval) buckets under the cap.
    # Bucket sizes are counted over store ∪ batch (a bucket hot in the
    # store stays excluded when the batch lands in it), then pairs are
    # formed with the stored doc ALWAYS the kept side (doc_a) regardless
    # of id, and within-batch pairs ordered doc_a < doc_b. Store×store
    # pairs are never formed — those rounds already ran.
    new_bands = _bands_from_sig(sq).withColumn("_new", F.lit(True))
    if have_store:
        all_bands = new_bands.unionByName(
            _bands_from_sig(store).withColumn("_new", F.lit(False))
        )
    else:
        all_bands = new_bands
    wb = Window.partitionBy("band", "bval")
    capped = all_bands.withColumn("_bn", F.count(F.lit(1)).over(wb)).filter(
        F.col("_bn") <= bucket_cap
    )
    cn = capped.filter(F.col("_new")).alias("b")
    within_buckets = (
        capped.filter(F.col("_new"))
        .alias("a")
        .join(cn, ["band", "bval"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    if have_store:
        cross_buckets = (
            capped.filter(~F.col("_new"))
            .alias("a")
            .join(cn, ["band", "bval"])
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
        )
        bucket_pairs = within_buckets.unionByName(cross_buckets)
    else:
        bucket_pairs = within_buckets
    cross_sig = None
    if have_store:
        s, n = store.alias("s"), sq.alias("n")
        cross_sig = (
            s.join(n, F.col("s.fullsig") == F.col("n.fullsig"))
            .select(
                F.col("s.doc_id").alias("doc_a"), F.col("n.doc_id").alias("doc_b")
            )
        )
    cand = within_sig.unionByName(bucket_pairs)
    if cross_sig is not None:
        cand = cand.unionByName(cross_sig)
    cand = cand.distinct()

    # -- verify: cosine >= threshold; store side dequantized --
    if have_store:
        stored_vecs = _with_norm(
            store.select("doc_id", F.expr(_dequant_expr()).alias("_v")), "_v"
        ).select("doc_id", "_v", F.col("_nrm").alias("_n"))
        vecs = new_vecs.unionByName(stored_vecs)
    else:
        vecs = new_vecs
    scored = (
        cand.join(
            vecs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("_v").alias("_va"),
                F.col("_n").alias("_na"),
            ),
            "doc_a",
        )
        .join(
            vecs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("_v").alias("_vb"),
                F.col("_n").alias("_nb"),
            ),
            "doc_b",
        )
        .withColumn("_cos", F.expr(cosine_expr("_va", "_vb", "_na", "_nb")))
    )
    dup_pairs = scored.filter(F.col("_cos") >= threshold).select("doc_a", "doc_b")

    dup_ids = dup_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    unique_docs = batch.withColumnRenamed(id_col, "doc_id").join(
        dup_ids, "doc_id", "left_anti"
    ).withColumnRenamed("doc_id", id_col)

    from ..incremental.store import commit_batch_partition

    commit_batch_partition(
        sq.join(dup_ids, "doc_id", "left_anti"), store_path, batch_id
    )
    return unique_docs, dup_pairs
