"""Drills for the incrementally maintained equi-join view
(`incremental/joinview.py`).

The invariant under test everywhere: after ANY prefix of batches, the
materialized view equals a from-scratch ``A_all ⋈ B_all`` (multiset
equality via two-sided exceptAll — duplicates and fan-out included)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dataworks_audit_data_ingest_spark.incremental import (
    JoinViewSpec,
    compact_join_view,
    forget_left_ids_from_join_view,
    forget_right_ids_from_join_view,
    read_join_side,
    read_join_view,
    update_join_view,
)
from dataworks_audit_data_ingest_spark.incremental.joinview import (
    _old_side,
    side_path,
)
SPEC = JoinViewSpec(key="k", left_id="lid", right_id="rid")


def _left(spark, rows):
    return spark.createDataFrame(rows, "lid int, k int, lval string")


def _right(spark, rows):
    return spark.createDataFrame(rows, "rid int, k int, rval string")


# batches exercising every arrival order: left-first, right-first,
# same-batch pair, one-sided batches, fan-out (one right key matched by
# many lefts), keys that never match
BATCHES = [
    # (left rows, right rows)
    ([(1, 10, "a"), (2, 20, "b")], None),
    (None, [(100, 10, "X"), (101, 30, "Y")]),  # 10 matches cross-batch
    (
        [(3, 30, "c"), (4, 40, "d")],  # 30 matches cross-batch
        [(102, 40, "Z"), (103, 99, "W")],  # 40 matches SAME batch
    ),
    ([(5, 10, "e"), (6, 10, "f")], None),  # fan-out onto right key 10
    (None, None),  # empty batch is a no-op
]


def _apply_all(spark, root, spec, batches=BATCHES):
    lefts, rights = [], []
    for i, (lrows, rrows) in enumerate(batches):
        ld = _left(spark, lrows) if lrows else None
        rd = _right(spark, rrows) if rrows else None
        update_join_view(
            spark, root, str(i), spec, left_delta=ld, right_delta=rd
        )
        lefts += lrows or []
        rights += rrows or []
        yield i, lefts, rights


def _expected(spark, lefts, rights):
    if not lefts or not rights:
        return None
    return _left(spark, lefts).join(_right(spark, rights), on="k")


def _assert_same_multiset(got, want):
    if want is None:
        assert got is None or got.count() == 0
        return
    got = got.select(*want.columns)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_view_equals_full_join_after_every_batch(spark, tmp_path):
    root = str(tmp_path / "jv")
    for _i, lefts, rights in _apply_all(spark, root, SPEC):
        _assert_same_multiset(
            read_join_view(spark, root), _expected(spark, lefts, rights)
        )
    # side audit reads return exactly the accumulated inputs
    assert sorted(
        read_join_side(spark, root, "left").collect()
    ) == sorted(_left(spark, lefts).collect())
    assert sorted(
        read_join_side(spark, root, "right").collect()
    ) == sorted(_right(spark, rights).collect())


def _store_snapshot(spark, root):
    out = {}
    for side in ("left", "right", "view"):
        df = (
            read_join_view(spark, root)
            if side == "view"
            else read_join_side(spark, root, side)
        )
        out[side] = sorted(map(tuple, df.collect())) if df is not None else None
    return out


def test_replay_of_middle_batch_is_idempotent(spark, tmp_path):
    root = str(tmp_path / "jv")
    list(_apply_all(spark, root, SPEC))
    before = _store_snapshot(spark, root)
    # replay batch 2 (both-sided, contains the same-batch match) verbatim
    lrows, rrows = BATCHES[2]
    update_join_view(
        spark,
        root,
        "2",
        SPEC,
        left_delta=_left(spark, lrows),
        right_delta=_right(spark, rrows),
    )
    assert _store_snapshot(spark, root) == before


def test_bucketed_layout_matches_flat_and_prunes(spark, tmp_path):
    flat_root, bkt_root = str(tmp_path / "flat"), str(tmp_path / "bkt")
    bspec = JoinViewSpec(key="k", left_id="lid", right_id="rid", n_buckets=8)
    list(_apply_all(spark, flat_root, SPEC))
    list(_apply_all(spark, bkt_root, bspec))
    _assert_same_multiset(
        read_join_view(spark, bkt_root), read_join_view(spark, flat_root)
    )
    # the pruned old-side read carries a PARTITION filter on the bucket
    # column — directory-level pruning, not a post-scan row filter
    probe = _right(spark, [(200, 10, "p")])
    pruned = _old_side(
        spark, side_path(bkt_root, "left"), "zz", bspec, probe
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*__jv_bucket__[^\]]*\]", plan)
    assert m, f"no bucket partition filter in scan:\n{plan}"
    full = _old_side(spark, side_path(bkt_root, "left"), "zz", bspec, None)
    assert pruned.count() < full.count()


@pytest.mark.parametrize("n_buckets", [0, 8])
def test_compaction_preserves_view_semantics(spark, tmp_path, n_buckets):
    root = str(tmp_path / "jv")
    spec = JoinViewSpec(
        key="k", left_id="lid", right_id="rid", n_buckets=n_buckets
    )
    list(_apply_all(spark, root, spec, BATCHES[:3]))
    removed = compact_join_view(spark, root, spec, exclude=("2",))
    assert removed["left"] > 0 and removed["view"] > 0
    # post-compaction updates still see the full old sides
    lefts = [r for b in BATCHES[:3] if b[0] for r in b[0]] + [(7, 99, "g")]
    rights = [r for b in BATCHES[:3] if b[1] for r in b[1]] + [
        (104, 20, "V")
    ]
    update_join_view(
        spark,
        root,
        "3",
        spec,
        left_delta=_left(spark, [(7, 99, "g")]),  # matches right key 99
        right_delta=_right(spark, [(104, 20, "V")]),  # matches left key 20
    )
    _assert_same_multiset(
        read_join_view(spark, root), _expected(spark, lefts, rights)
    )


def test_forget_left_and_right(spark, tmp_path):
    root = str(tmp_path / "jv")
    list(_apply_all(spark, root, SPEC))
    ids = spark.createDataFrame([(5,), (6,)], "lid int")
    removed = forget_left_ids_from_join_view(spark, root, ids, SPEC)
    assert removed == {"left_rows_removed": 2, "view_rows_removed": 2}
    assert read_join_side(spark, root, "left").filter(
        F.col("lid").isin(5, 6)
    ).count() == 0
    assert read_join_view(spark, root).filter(
        F.col("lid").isin(5, 6)
    ).count() == 0
    # idempotent repeat
    again = forget_left_ids_from_join_view(spark, root, ids, SPEC)
    assert again == {"left_rows_removed": 0, "view_rows_removed": 0}
    # a LATER right-side arrival on the same key cannot resurrect the
    # forgotten left rows — their source rows are gone from the store
    update_join_view(
        spark,
        root,
        "9",
        SPEC,
        right_delta=_right(spark, [(105, 10, "new")]),
    )
    assert read_join_view(spark, root).filter(
        F.col("lid").isin(5, 6)
    ).count() == 0
    # right-side erasure removes the view rows of right id 100 (key 10)
    rids = spark.createDataFrame([(100,)], "rid int")
    rrem = forget_right_ids_from_join_view(spark, root, rids, SPEC)
    assert rrem["right_rows_removed"] == 1
    assert rrem["view_rows_removed"] > 0
    assert read_join_view(spark, root).filter(
        F.col("rid") == 100
    ).count() == 0


def test_rejects_duplicate_ids_within_batch(spark, tmp_path):
    root = str(tmp_path / "jv")
    dup = _left(spark, [(1, 10, "a"), (1, 11, "b")])
    with pytest.raises(ValueError, match="repeats lid"):
        update_join_view(spark, root, "0", SPEC, left_delta=dup)


def test_rejects_overlapping_nonkey_columns(spark, tmp_path):
    root = str(tmp_path / "jv")
    ld = _left(spark, [(1, 10, "a")]).withColumnRenamed("lval", "val")
    rd = _right(spark, [(100, 10, "X")]).withColumnRenamed("rval", "val")
    with pytest.raises(ValueError, match="both sides"):
        update_join_view(spark, root, "0", SPEC, left_delta=ld, right_delta=rd)


def test_rejects_missing_and_reserved_columns(spark, tmp_path):
    root = str(tmp_path / "jv")
    with pytest.raises(ValueError, match="missing required column"):
        update_join_view(
            spark,
            root,
            "0",
            SPEC,
            left_delta=_left(spark, [(1, 10, "a")]).drop("k"),
        )
    with pytest.raises(ValueError, match="reserved column"):
        update_join_view(
            spark,
            root,
            "0",
            SPEC,
            left_delta=_left(spark, [(1, 10, "a")]).withColumn(
                "batch_id", F.lit("x")
            ),
        )


def test_empty_update_is_a_noop(spark, tmp_path):
    root = str(tmp_path / "jv")
    counts = update_join_view(spark, root, "0", SPEC)
    assert counts == {"left_rows": 0, "right_rows": 0, "view_delta_rows": 0}
    assert read_join_view(spark, root) is None
    assert read_join_side(spark, root, "left") is None


SF = "/root/testdata/sf0.001"


def test_q260_partition_invariant(spark):
    from dataworks_audit_data_ingest_spark.queries.streaming_shaped import (
        q260_join_view_report,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        rows = {}
        for n in ("7", before):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            rows[n] = [
                tuple(r)
                for r in q260_join_view_report(spark, SF).collect()
            ]
        assert rows["7"] == rows[before]
        assert rows[before]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_forget_on_bucketed_store_preserves_layout(spark, tmp_path):
    # regression: the shared forget rewrites a partition FLAT, which on
    # a bucketed store mixes layouts and bricks every later read with
    # CONFLICTING_PARTITION_COLUMN_NAMES
    root = str(tmp_path / "jv")
    bspec = JoinViewSpec(key="k", left_id="lid", right_id="rid", n_buckets=8)
    list(_apply_all(spark, root, bspec))
    ids = spark.createDataFrame([(1,), (5,)], "lid int")
    removed = forget_left_ids_from_join_view(spark, root, ids, bspec)
    assert removed["left_rows_removed"] == 2
    # the store must still read, update, AND bucket-prune
    assert read_join_side(spark, root, "left").filter(
        F.col("lid").isin(1, 5)
    ).count() == 0
    update_join_view(
        spark,
        root,
        "9",
        bspec,
        left_delta=_left(spark, [(50, 10, "zz")]),
    )
    lefts = [
        r
        for b in BATCHES
        if b[0]
        for r in b[0]
        if r[0] not in (1, 5)
    ] + [(50, 10, "zz")]
    rights = [r for b in BATCHES if b[1] for r in b[1]]
    _assert_same_multiset(
        read_join_view(spark, root), _expected(spark, lefts, rights)
    )
    # erase a whole key's rows so an entire bucket empties and is deleted
    all_ids = spark.createDataFrame([(r[0],) for r in lefts], "lid int")
    forget_left_ids_from_join_view(spark, root, all_ids, bspec)
    assert read_join_view(spark, root) is None or (
        read_join_view(spark, root).count() == 0
    )


def test_compaction_crash_recovery_both_windows(spark, tmp_path):
    from dataworks_audit_data_ingest_spark.incremental.store import (
        _FOLD_COMMIT,
        _FOLD_TMP,
        _hadoop_fs,
        _list_for_rewrite,
    )

    root = str(tmp_path / "jv")
    bspec = JoinViewSpec(key="k", left_id="lid", right_id="rid", n_buckets=8)
    list(_apply_all(spark, root, bspec, BATCHES[:3]))
    want = _store_snapshot(spark, root)
    store = side_path(root, "left")

    # window 1: crash AFTER the fold staged but BEFORE the commit
    # manifest — reads never see the staging, originals stand, and the
    # next maintainer (compaction or forget) rolls the staging back
    folded = (
        spark.read.option("basePath", store)
        .parquet(f"{store}/batch_id=0", f"{store}/batch_id=2")
        .drop("batch_id")
        .distinct()
        .withColumn("batch_id", F.lit("__compacted__"))
        # materialize now: window 2's recovery DELETES the source dirs,
        # and later windows re-write this frame
        .localCheckpoint(eager=True)
    )
    folded.write.mode("overwrite").partitionBy(
        "batch_id", "__jv_bucket__"
    ).parquet(f"{store}/{_FOLD_TMP}deadbeef0001")
    assert _store_snapshot(spark, root) == want  # invisible on read
    fs, jvm = _hadoop_fs(spark, store)
    staged = jvm.org.apache.hadoop.fs.Path(
        f"{store}/{_FOLD_TMP}deadbeef0001"
    )
    assert fs.exists(staged)
    _list_for_rewrite(spark, store)
    assert not fs.exists(staged)

    # window 2: crash AFTER the commit manifest — recovery must FINISH
    # the swap (delete manifested originals, land __compacted__)
    folded.write.mode("overwrite").partitionBy(
        "batch_id", "__jv_bucket__"
    ).parquet(f"{store}/{_FOLD_TMP}deadbeef0002")
    spark.createDataFrame(
        [("batch_id=0",), ("batch_id=2",)], "dir string"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{store}/{_FOLD_COMMIT}deadbeef0002"
    )
    assert _store_snapshot(spark, root) == want  # rows identical...
    names = {
        s.getPath().getName()
        for s in fs.listStatus(jvm.org.apache.hadoop.fs.Path(store))
    }
    # ...but the folded originals are gone and the fold landed
    assert "batch_id=__compacted__" in names
    assert "batch_id=0" not in names and "batch_id=2" not in names
    assert not any(n.startswith(("_jv_fold",)) for n in names)

    # window 3: TORN commit manifest (no _SUCCESS) — must be rolled
    # back by the next maintainer, NOT replayed by a read: a replay
    # would delete the manifested dir (here the live __compacted__
    # partition) and lose data
    folded.write.mode("overwrite").partitionBy(
        "batch_id", "__jv_bucket__"
    ).parquet(f"{store}/{_FOLD_TMP}deadbeef0003")
    spark.createDataFrame(
        [("batch_id=__compacted__",)], "dir string"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{store}/{_FOLD_COMMIT}deadbeef0003"
    )
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(
            f"{store}/{_FOLD_COMMIT}deadbeef0003/_SUCCESS"
        ),
        False,
    )
    assert _store_snapshot(spark, root) == want
    _list_for_rewrite(spark, store)
    names = {
        s.getPath().getName()
        for s in fs.listStatus(jvm.org.apache.hadoop.fs.Path(store))
    }
    assert "batch_id=__compacted__" in names
    assert not any(n.startswith(("_jv_fold",)) for n in names)


def test_rejects_overlap_with_stored_opposite_side(spark, tmp_path):
    # regression: the batch-local guard cannot see columns committed in
    # EARLIER batches of the opposite side
    root = str(tmp_path / "jv")
    update_join_view(
        spark,
        root,
        "0",
        SPEC,
        left_delta=_left(spark, [(1, 10, "a")]).withColumnRenamed(
            "lval", "val"
        ),
    )
    with pytest.raises(ValueError, match="STORED opposite side"):
        update_join_view(
            spark,
            root,
            "1",
            SPEC,
            right_delta=_right(spark, [(100, 10, "X")]).withColumnRenamed(
                "rval", "val"
            ),
        )


def test_q264_partition_invariant_and_delta_feed(spark):
    from dataworks_audit_data_ingest_spark.queries.streaming_shaped import (
        q264_enriched_rollup_cascade,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        rows = {}
        for n in ("7", before):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            rows[n] = [
                tuple(r)
                for r in q264_enriched_rollup_cascade(spark, SF).collect()
            ]
        assert rows["7"] == rows[before]
        assert rows[before]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_read_join_view_delta_is_exactly_once(spark, tmp_path):
    from dataworks_audit_data_ingest_spark.incremental import (
        read_join_view_delta,
    )

    root = str(tmp_path / "jv")
    list(_apply_all(spark, root, SPEC))
    # the union of per-batch deltas IS the view (no pair lost or doubled)
    deltas = []
    for i in range(len(BATCHES)):
        d = read_join_view_delta(spark, root, str(i))
        if d is not None:
            deltas.append(d)
    unioned = deltas[0]
    for d in deltas[1:]:
        unioned = unioned.unionByName(d)
    _assert_same_multiset(unioned, read_join_view(spark, root))
    # absent batches answer None, not an empty frame mistaken for data
    assert read_join_view_delta(spark, root, "nope") is None


def test_widened_key_type_raises_on_bucketed_store(spark, tmp_path):
    """Self-review regression (round 11): the bucketed old-side read
    must reject a delta whose key type differs from the store's — the
    probe would hash into different buckets and silently skip stored
    rows (a missed join, not an error)."""
    root = str(tmp_path / "jv")
    bspec = JoinViewSpec(key="k", left_id="lid", right_id="rid", n_buckets=8)
    update_join_view(
        spark,
        root,
        "0",
        bspec,
        left_delta=_left(spark, [(1, 10, "a")]),
        right_delta=_right(spark, [(100, 10, "X")]),
    )
    widened = spark.createDataFrame(
        [(2, 10, "b")], "lid int, k bigint, lval string"
    )
    with pytest.raises(ValueError, match="bucket hashes would diverge"):
        update_join_view(spark, root, "1", bspec, left_delta=widened)
