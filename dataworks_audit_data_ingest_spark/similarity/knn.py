"""KNN join API — the programmatic form of q55/q56.

``knn_join(queries, corpus, k)`` returns the top-k cosine neighbors per
query vector. Methods:

- ``brute``: exact — queries broadcast against one corpus scan; right up to
  ~10⁶ queries × any corpus size (the corpus is the streamed side).
- ``ivf``: approximate — route each query to its ``n_probe`` nearest cells
  and search only those; the corpus should be stored partitioned by
  ``cell_col`` so the probe is partition pruning, not a scan.
- ``srp``: approximate, zero-training (q89's shape) — sign-random-projection
  signatures from portable-hash hyperplanes, banded; candidates are vectors
  sharing ≥1 band with the query. Signatures are pure map-side expressions
  (no shuffle to index; new corpus vectors index on write), so the only
  shuffle is the (band, bval) candidate join. Use when no centroid training
  pass is possible; recall/candidate trade-off per banding is measured in
  PERF.md ("SRP-LSH ANN parameters").

Cosines run as JVM ZIP_WITH/AGGREGATE expressions with decimal-exact sums
(deterministic under any partitioning); no Python in the scoring path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_DEC = "DECIMAL(28,18)"


def _fold(expr: str) -> str:
    return (
        f"AGGREGATE({expr}, CAST(0 AS {_DEC}), (acc, v) -> CAST(acc + v AS {_DEC}))"
    )


def cosine_expr(a: str, b: str, na: str, nb: str) -> str:
    """Cosine from two array<double> columns and their precomputed norms."""
    dot = _fold(f"ZIP_WITH({a}, {b}, (p, v) -> CAST(p * v AS {_DEC}))")
    return f"CAST({dot} AS DOUBLE) / ({na} * {nb})"


def _with_norm(df: DataFrame, vec_col: str) -> DataFrame:
    sq = _fold(f"TRANSFORM({vec_col}, x -> CAST(x * x AS {_DEC}))")
    return df.withColumn(vec_col, F.expr(f"TRANSFORM({vec_col}, x -> CAST(x AS DOUBLE))")).withColumn(
        "_nrm", F.expr(f"SQRT(CAST({sq} AS DOUBLE))")
    )


def _srp_bands_expr(
    vec: str, bands: int, bits: int, seed: str
) -> tuple[str, str]:
    """(projection-array expr, (band, bval) STACK expr) for sign-random-
    projection signatures, computed entirely map-side: hyperplane component
    (j, p) is a portable-hash integer in [-500, 500] (same hash family and
    seed as q89, via `functions.hashing.spark_hash32`, so signatures are
    bit-identical to the oracle-checked query — pinned by
    `tests/test_knn.py::test_knn_srp_matches_q89`; the /1000 normalization
    is a positive scale, dropped as sign-preserving), the projection is an
    integer-quantized BIGINT fold (`functions.hashing.SRP_SCALE`), bits
    pack little-endian per band."""
    from ..functions.hashing import spark_hash32

    h32 = spark_hash32(
        "CONCAT(CAST(j AS STRING), ':', CAST(p AS STRING))", seed
    )
    h = f"{h32} % 1001 - 500"
    # integer-quantized projection terms (FLOOR(v*h*SRP_SCALE), BIGINT
    # sum) — the shared constant keeps this expression-for-expression
    # aligned with q89; the parity test pins it
    from ..functions.hashing import SRP_SCALE

    proj = (
        f"TRANSFORM(SEQUENCE(0, {bands * bits - 1}), j -> "
        f"AGGREGATE(ZIP_WITH({vec}, "
        f"TRANSFORM(SEQUENCE(0, SIZE({vec}) - 1), p -> {h}), "
        f"(x, hh) -> CAST(FLOOR(x * hh * {SRP_SCALE}) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v))"
    )
    args = []
    for band in range(bands):
        packed = " + ".join(
            f"SHIFTLEFT(CASE WHEN _sig[{band * bits + r}] >= 0 "
            f"THEN 1 ELSE 0 END, {r})"
            for r in range(bits)
        )
        args += [str(band), f"({packed})"]
    return proj, f"STACK({bands}, {', '.join(args)}) AS (band, bval)"


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "brute",
    cell_col: str | None = None,
    n_probe: int = 1,
    srp_bands: int = 4,
    srp_bits: int = 4,
    neg_group_col: str | None = None,
    pos_group_col: str | None = None,
    filter_expr: str | None = None,
) -> DataFrame:
    """Top-k neighbors per query: (query_id, neighbor_id, rnk, cosine).

    ``neg_group_col``: when set (a column present on BOTH inputs), only
    pairs whose groups DISAGREE are candidates — the hard-negative
    mining mode (q209): nearest vectors that are NOT from the query's
    own class/source/cluster. ``pos_group_col`` is the mirror (groups
    must AGREE — positive mining for contrastive pairs); setting both is
    an error. Either filter sits inside the pair join, so pruned
    candidates never reach a cosine.

    ``filter_expr``: FILTERED ANN (q231) — a SQL boolean predicate over
    the corpus's own columns, evaluated INSIDE candidate generation
    (filter-then-rank): the returned top-k is over qualifying vectors
    only, never a post-filter of an unfiltered top-k (which can starve
    below k). For ``method="ivf"`` the index geometry is untouched —
    centroids are computed over the FULL corpus, and the predicate
    prunes members of the probed cells only, exactly how a static IVF
    index serves a per-request metadata filter at 100 TB (the predicate
    rides into the cell-partitioned scan as an ordinary pushed filter).
    """
    if neg_group_col and pos_group_col:
        raise ValueError("set at most one of neg_group_col / pos_group_col")
    g = neg_group_col or pos_group_col
    q = _with_norm(
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(vec_col),
            *([F.col(g).alias("_qg")] if g else []),
        ),
        vec_col,
    ).select(
        "query_id",
        F.col(vec_col).alias("_qv"),
        F.col("_nrm").alias("_qn"),
        *(["_qg"] if g else []),
    )
    c = _with_norm(
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            F.col(vec_col),
            *([F.col(cell_col).alias("_cell")] if cell_col else []),
            *([F.col(g).alias("_cg")] if g else []),
            *([F.expr(filter_expr).alias("_keep")] if filter_expr else []),
        ),
        vec_col,
    ).select(
        "neighbor_id",
        F.col(vec_col).alias("_cv"),
        F.col("_nrm").alias("_cn"),
        *(["_cell"] if cell_col else []),
        *(["_cg"] if g else []),
        *(["_keep"] if filter_expr else []),
    )
    # the candidate view the predicate has pruned; for ivf, c (unfiltered)
    # still feeds the centroid derivation — the index is built once over
    # the full corpus, the filter applies per probe.
    c_f = c.filter("_keep").drop("_keep") if filter_expr else c

    cos = cosine_expr("_qv", "_cv", "_qn", "_cn")
    if not g:
        disagree = F.lit(True)
    elif neg_group_col:
        disagree = F.col("_qg") != F.col("_cg")
    else:
        disagree = F.col("_qg") == F.col("_cg")
    if method == "brute":
        pairs = F.broadcast(q).join(
            c_f, (F.col("neighbor_id") != F.col("query_id")) & disagree
        )
    elif method == "ivf":
        if not cell_col:
            raise ValueError("ivf requires cell_col (the corpus partition/cell key)")
        # centroids in long form → exact decimal means (q56's routing)
        elems = c.select(
            "_cell", F.posexplode("_cv").alias("pos", "v")
        )
        centroids = elems.groupBy("_cell", "pos").agg(
            (F.sum(F.col("v").cast(_DEC)).cast("double") / F.count(F.lit(1))).alias("cv")
        )
        q_elems = q.select("query_id", F.posexplode("_qv").alias("pos", "qv"))
        routing = (
            q_elems.join(F.broadcast(centroids), "pos")
            .groupBy("query_id", "_cell")
            .agg(
                (
                    F.sum(F.expr(f"CAST(qv * cv AS {_DEC})")).cast("double")
                ).alias("dot")
            )
        )
        w_route = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("_cell"))
        probes = (
            routing.withColumn("_pr", F.row_number().over(w_route))
            .filter(F.col("_pr") <= n_probe)
            .select("query_id", "_cell")
        )
        pairs = (
            F.broadcast(q.join(probes, "query_id"))
            .join(c_f, ["_cell"])
            .filter((F.col("neighbor_id") != F.col("query_id")) & disagree)
        )
    elif method == "srp":
        proj, stack = _srp_bands_expr("_qv", srp_bands, srp_bits, "srp")
        q_bands = q.withColumn("_sig", F.expr(proj)).select(
            "query_id", F.expr(stack)
        )
        proj_c, stack_c = _srp_bands_expr("_cv", srp_bands, srp_bits, "srp")
        c_bands = c_f.withColumn("_sig", F.expr(proj_c)).select(
            "neighbor_id", F.expr(stack_c)
        )
        cand = (
            F.broadcast(q_bands)
            .join(c_bands, ["band", "bval"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
        pairs = (
            cand.join(F.broadcast(q), "query_id")
            .join(c_f, "neighbor_id")
            .filter(disagree)
        )
    else:
        raise ValueError(f"unknown method {method!r}")

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", F.expr(cos).alias("cosine"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "cosine")
    )


def mutual_knn(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """Reciprocal-kNN pairs: unordered (vec_a < vec_b) pairs where EACH
    vector ranks inside the other's cosine top-k — the standard
    kNN-graph-construction / curation primitive (mutual edges are the
    high-precision subset of a kNN graph; one-directional edges are
    hub-induced noise).

    ``cell_col`` bounds the candidate space IVF-style: pairs are scored
    only within a cell (equijoin on the cell key), so the cost is
    sum-of-cell-sizes squared, never corpus squared — at 100 TB the cell
    key is an IVF assignment (q56) and the scoring join co-locates by
    cell partition. ``cell_col=None`` is the exact quadratic path for
    small corpora (broadcast-nested-loop). Each unordered pair is scored
    ONCE (id < id) then mirrored for ranking, halving the dot products;
    the mutual reduction is a single keyed aggregation with map-side
    combine (no self-join on the edge list).

    Output: ``vec_a, vec_b, [cell_col,] rank_ab, rank_ba, cosine`` with
    ranks BIGINT. Registered as q191 with a DuckDB oracle.
    """
    cell = [F.col(cell_col).alias("_cell")] if cell_col else []
    base = _with_norm(
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col), *cell),
        vec_col,
    )
    a = base.select(
        F.col("_id").alias("_ida"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
        *(["_cell"] if cell_col else []),
    )
    b = base.select(
        F.col("_id").alias("_idb"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
        *([F.col("_cell").alias("_cellb")] if cell_col else []),
    )
    cond = F.col("_ida") < F.col("_idb")
    if cell_col:
        cond = (F.col("_cell") == F.col("_cellb")) & cond
    scored = a.join(b, cond).select(
        "_ida",
        "_idb",
        *(["_cell"] if cell_col else []),
        F.expr(cosine_expr("_va", "_vb", "_na", "_nb")).alias("cosine"),
    )
    keep = ["_cell"] if cell_col else []
    directed = scored.select(
        F.col("_ida").alias("src"), F.col("_idb").alias("dst"), *keep, "cosine"
    ).unionByName(
        scored.select(
            F.col("_idb").alias("src"), F.col("_ida").alias("dst"), *keep, "cosine"
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    edges = directed.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )
    out = (
        edges.groupBy(
            F.least("src", "dst").alias("vec_a"),
            F.greatest("src", "dst").alias("vec_b"),
        )
        .agg(
            *(
                [F.any_value("_cell").alias(cell_col)]
                if cell_col
                else []
            ),
            F.max(F.when(F.col("src") < F.col("dst"), F.col("rnk")))
            .cast("bigint")
            .alias("rank_ab"),
            F.max(F.when(F.col("src") > F.col("dst"), F.col("rnk")))
            .cast("bigint")
            .alias("rank_ba"),
            F.any_value("cosine").alias("cosine"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") == 2)
        .drop("_n")
    )
    return out


def mine_hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    m: int,
    *,
    group_col: str,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "brute",
    cell_col: str | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: per
    query, the ``m`` highest-cosine corpus vectors whose ``group_col``
    (class label, source, dedup cluster) DIFFERS from the query's — the
    near-miss examples a ranker learns the most from. Thin wrapper over
    :func:`knn_join`'s ``neg_group_col`` mode; ``method="ivf"`` routes
    through trained cells for the at-scale path (hard negatives are by
    definition near the query, so cell-local candidates are exactly the
    right pool)."""
    return knn_join(
        queries,
        corpus,
        m,
        query_id=query_id,
        corpus_id=corpus_id,
        vec_col=vec_col,
        method=method,
        cell_col=cell_col,
        n_probe=n_probe,
        neg_group_col=group_col,
    )


def mine_triplets(
    anchors: DataFrame,
    corpus: DataFrame,
    *,
    group_col: str,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "brute",
    cell_col: str | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """Contrastive training triplets: per anchor, its best same-group
    neighbor (positive) and best different-group neighbor (hard
    negative), with both cosines and the margin between them — the
    quantity a triplet/InfoNCE loss trains on, and the census that
    tells you whether mining is producing learnable pairs (margin ≈ 0)
    or trivial ones (margin large). Anchors whose group has no second
    member yield no row (no positive exists).

    Returns (query_id, pos_id, neg_id, pos_cos, neg_cos, margin).
    """
    kw = dict(
        query_id=query_id,
        corpus_id=corpus_id,
        vec_col=vec_col,
        method=method,
        cell_col=cell_col,
        n_probe=n_probe,
    )
    pos = knn_join(anchors, corpus, 1, pos_group_col=group_col, **kw).select(
        "query_id",
        F.col("neighbor_id").alias("pos_id"),
        F.col("cosine").alias("pos_cos"),
    )
    neg = knn_join(anchors, corpus, 1, neg_group_col=group_col, **kw).select(
        "query_id",
        F.col("neighbor_id").alias("neg_id"),
        F.col("cosine").alias("neg_cos"),
    )
    return pos.join(neg, "query_id").withColumn(
        "margin", F.col("pos_cos") - F.col("neg_cos")
    )
