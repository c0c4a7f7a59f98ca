"""Recompute-on-retract drills (`incremental/rollup_cdc.py`): after
every CDC batch — deletes that shift a group's MIN/MAX, a group whose
last row is retracted, inserts stacking on top of a snapshot — the
maintained report equals a full recompute from the net view; folding
the store mid-history changes nothing; the distinct-key grain stays
exact under deletes."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dataworks_audit_data_ingest_spark.incremental import JoinViewSpec
from dataworks_audit_data_ingest_spark.incremental.joinview_cdc import (
    read_join_view_cdc,
    read_join_view_cdc_delta,
    update_join_view_cdc,
)
from dataworks_audit_data_ingest_spark.incremental.rollup_cdc import (
    compact_cdc_rollup,
    read_cdc_rollup,
    update_cdc_rollup,
)

SPEC = JoinViewSpec(key="k", left_id="lid", right_id="rid")
L = "lid int, k int, price int"
R = "rid int, k int, seg string"


def _run_batch(spark, root, store, bid, *, group_cols=("seg",), **kw):
    update_join_view_cdc(spark, root, bid, SPEC, **kw)
    feed = read_join_view_cdc_delta(spark, root, bid)
    view = read_join_view_cdc(spark, root)
    update_cdc_rollup(
        spark,
        store,
        feed,
        view,
        bid,
        group_cols=group_cols,
        value_expr="price",
    )


def _maintained(spark, store, group_cols=("seg",)):
    df = read_cdc_rollup(spark, store, group_cols)
    return sorted(tuple(r) for r in df.collect()) if df is not None else []


def _recomputed(spark, root, group_cols=("seg",)):
    view = read_join_view_cdc(spark, root)
    if view is None:
        return []
    agg = view.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("price").cast("bigint").alias("total"),
        F.min("price").cast("bigint").alias("vmin"),
        F.max("price").cast("bigint").alias("vmax"),
    )
    return sorted(tuple(r) for r in agg.collect())


def test_min_max_survive_deletes_and_match_full_recompute(spark, tmp_path):
    root, store = str(tmp_path / "jv"), str(tmp_path / "rl")
    # b0: seg A holds prices {5, 9}, seg B {7}
    _run_batch(
        spark, root, store, "b0",
        left_upserts=spark.createDataFrame(
            [(1, 10, 5), (2, 20, 7), (3, 10, 9)], L
        ),
        right_upserts=spark.createDataFrame(
            [(100, 10, "A"), (101, 20, "B")], R
        ),
    )
    assert _maintained(spark, store) == [
        ("A", 2, 14, 5, 9), ("B", 1, 7, 7, 7)
    ]
    # b1: DELETE lid 3 — A's max must shift 9 -> 5 (the non-additive
    # case no signed fold can express)
    _run_batch(
        spark, root, store, "b1",
        left_deletes=spark.createDataFrame([(3, 10)], "lid int, k int"),
    )
    assert _maintained(spark, store) == _recomputed(spark, root) == [
        ("A", 1, 5, 5, 5), ("B", 1, 7, 7, 7)
    ]
    # b2: retract B's last row (group must VANISH, not resurrect from
    # b0's add partial) and insert a new A min
    _run_batch(
        spark, root, store, "b2",
        left_upserts=spark.createDataFrame([(4, 10, 2)], L),
        left_deletes=spark.createDataFrame([(2, 20)], "lid int, k int"),
    )
    assert _maintained(spark, store) == _recomputed(spark, root) == [
        ("A", 2, 7, 2, 5)
    ]
    # b3: a pure add AFTER the snapshot stacks on top of it
    _run_batch(
        spark, root, store, "b3",
        left_upserts=spark.createDataFrame([(5, 10, 11)], L),
    )
    assert _maintained(spark, store) == _recomputed(spark, root) == [
        ("A", 3, 18, 2, 11)
    ]
    # folding the whole history to one snapshot per group changes nothing
    assert compact_cdc_rollup(spark, store, ("seg",)) == 4
    assert _maintained(spark, store) == [("A", 3, 18, 2, 11)]
    # and a post-fold batch still maintains correctly
    _run_batch(
        spark, root, store, "b4",
        left_deletes=spark.createDataFrame([(5, 10)], "lid int, k int"),
    )
    assert _maintained(spark, store) == _recomputed(spark, root) == [
        ("A", 2, 7, 2, 5)
    ]


def test_update_is_replay_idempotent(spark, tmp_path):
    """Replaying a batch (same id, same feed) rewrites its own
    partition with identical rows — the family's crash contract."""
    root, store = str(tmp_path / "jv"), str(tmp_path / "rl")
    _run_batch(
        spark, root, store, "b0",
        left_upserts=spark.createDataFrame([(1, 10, 5), (3, 10, 9)], L),
        right_upserts=spark.createDataFrame([(100, 10, "A")], R),
    )
    _run_batch(
        spark, root, store, "b1",
        left_deletes=spark.createDataFrame([(3, 10)], "lid int, k int"),
    )
    want = _maintained(spark, store)
    # replay b1's rollup leg only (the view store already holds b1)
    feed = read_join_view_cdc_delta(spark, root, "b1")
    view = read_join_view_cdc(spark, root)
    update_cdc_rollup(
        spark, store, feed, view, "b1",
        group_cols=("seg",), value_expr="price",
    )
    assert _maintained(spark, store) == want == [("A", 1, 5, 5, 5)]


def test_distinct_key_grain_exact_under_deletes(spark, tmp_path):
    """COUNT(DISTINCT lid) per segment under deletes: key-in-group
    grain rows survive exactly when the key still has live pairs."""
    root, store = str(tmp_path / "jv"), str(tmp_path / "rl")
    grain = ("seg", "lid")
    _run_batch(
        spark, root, store, "b0", group_cols=grain,
        left_upserts=spark.createDataFrame(
            [(1, 10, 5), (2, 10, 7), (3, 20, 9)], L
        ),
        right_upserts=spark.createDataFrame(
            [(100, 10, "A"), (101, 20, "A")], R
        ),
    )
    _run_batch(
        spark, root, store, "b1", group_cols=grain,
        left_deletes=spark.createDataFrame([(2, 10)], "lid int, k int"),
    )
    report = read_cdc_rollup(spark, store, grain)
    distinct = (
        report.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .collect()
    )
    assert {(r.seg, r.n_keys) for r in distinct} == {("A", 2)}


SF = "/root/testdata/sf0.001"


def test_q269_partition_invariant(spark):
    from dataworks_audit_data_ingest_spark.queries.streaming_shaped import (
        q269_cdc_minmax_rollup,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        rows = {}
        for n in ("7", before):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            rows[n] = [
                tuple(r) for r in q269_cdc_minmax_rollup(spark, SF).collect()
            ]
        assert rows["7"] == rows[before]
        assert rows[before]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_forget_key_from_grain_store(spark, tmp_path):
    """GDPR over the key-in-grain store: the shared partition-rewrite
    forget erases the subject's grain rows (adds AND snapshots) across
    every batch partition, other groups' state untouched — the same
    erasure story as the additive rollup store, retraction machinery
    included."""
    from dataworks_audit_data_ingest_spark.incremental.forget import (
        forget_ids_from_store,
    )

    root, store = str(tmp_path / "jv"), str(tmp_path / "rl")
    grain = ("seg", "lid")
    _run_batch(
        spark, root, store, "b0", group_cols=grain,
        left_upserts=spark.createDataFrame(
            [(1, 10, 5), (2, 10, 7), (3, 20, 9)], L
        ),
        right_upserts=spark.createDataFrame(
            [(100, 10, "A"), (101, 20, "A")], R
        ),
    )
    # a retraction so the subject also has a SNAPSHOT row in history
    _run_batch(
        spark, root, store, "b1", group_cols=grain,
        left_deletes=spark.createDataFrame([(3, 20)], "lid int, k int"),
    )
    removed = forget_ids_from_store(spark, store, [1], id_col="lid")
    assert sum(removed.values()) > 0
    raw = spark.read.parquet(store)
    assert raw.filter(F.col("lid") == 1).count() == 0
    report = read_cdc_rollup(spark, store, grain)
    assert {(r.seg, r.lid) for r in report.collect()} == {("A", 2)}


def test_read_finishes_a_fold_left_beside_its_originals(spark, tmp_path):
    """Crash after the fold's rename, before its originals are deleted:
    the new ``__compacted__`` snapshot, the restored originals and the
    committed ``_jv_fold_commit_<tok>`` naming them. The report must be
    the one before the crash — the originals' adds must not stack on
    the snapshot that already folded them."""
    import shutil

    root, store = str(tmp_path / "jv"), str(tmp_path / "rl")
    _run_batch(
        spark, root, store, "b0",
        left_upserts=spark.createDataFrame(
            [(1, 10, 5), (2, 10, 3), (3, 20, 7)], L
        ),
        right_upserts=spark.createDataFrame(
            [(100, 10, "x"), (101, 20, "y")], R
        ),
    )
    _run_batch(
        spark, root, store, "b1",
        left_upserts=spark.createDataFrame([(4, 10, 0)], L),
    )
    want = _maintained(spark, store)
    assert want == [("x", 3, 8, 0, 5), ("y", 1, 7, 7, 7)]
    backup = str(tmp_path / "backup")
    shutil.copytree(store, backup)
    assert compact_cdc_rollup(spark, store, ("seg",)) == 2
    originals = ["batch_id=b0", "batch_id=b1"]
    for d in originals:
        shutil.copytree(f"{backup}/{d}", f"{store}/{d}")
    spark.createDataFrame([(d,) for d in originals], "dir string").coalesce(
        1
    ).write.parquet(f"{store}/_jv_fold_commit_cafecafe0001")
    assert _maintained(spark, store) == want
    assert [
        n for n in os.listdir(store) if n.startswith(("batch_id=", "_jv"))
    ] == ["batch_id=__compacted__"]
