"""FAST smoke coverage of the CDC paths.

The full CDC drills live in the slow partition (test_join_view_cdc.py,
test_rollup_cdc.py, test_store_compaction.py); this file keeps ONE tiny
end-to-end pass — update (one guard job, side reads beside it, commits
on two threads) → signed-feed rollup fold (collapsed driver actions) →
3-store compaction (thread-pooled folds) → read-back — in the DEFAULT
pytest gate, plus the feed guards' messages and their order, the
side-store schema check, the Spark job count of one batch, and the job
counts of a compaction and of a rollup read's plan.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from dataworks_audit_data_ingest_spark.incremental.joinview import JoinViewSpec
from dataworks_audit_data_ingest_spark.incremental.joinview_cdc import (
    compact_join_view_cdc,
    read_join_view_cdc,
    read_join_view_cdc_delta,
    update_join_view_cdc,
)
from dataworks_audit_data_ingest_spark.incremental.rollup_cdc import (
    read_cdc_rollup,
    update_cdc_rollup,
)
from dataworks_audit_data_ingest_spark.incremental.store import (
    commit_batch_partition,
)

SPEC = JoinViewSpec(key="k", left_id="lid", right_id="k", n_buckets=4)


def _left(spark, ids):
    return spark.createDataFrame(
        [(i % 3, i, float(i * 10)) for i in ids], "k bigint, lid bigint, v double"
    )


def _right(spark, ks):
    return spark.createDataFrame([(k, f"seg{k}") for k in ks], "k bigint, seg string")


def test_cdc_update_rollup_compact_roundtrip(spark, tmp_path):
    root = str(tmp_path / "view")
    store = str(tmp_path / "rollup")

    # b0: seed both sides; b1: delete one left row (retraction path)
    c0 = update_join_view_cdc(
        spark, root, "b0", SPEC,
        left_upserts=_left(spark, range(6)), right_upserts=_right(spark, [0, 1, 2]),
    )
    assert c0["view_inserts"] == 6 and c0["view_retractions"] == 0
    for bid in ("b0",):
        feed = read_join_view_cdc_delta(spark, root, bid)
        view = read_join_view_cdc(spark, root)
        r = update_cdc_rollup(
            spark, store, feed, view, bid, group_cols=("seg",), value_expr="v"
        )
        assert r["add_rows"] == 3 and r["snap_rows"] == 0

    c1 = update_join_view_cdc(
        spark, root, "b1", SPEC,
        left_deletes=spark.createDataFrame([(0, 0)], "k bigint, lid bigint"),
    )
    assert c1["view_retractions"] == 1
    feed = read_join_view_cdc_delta(spark, root, "b1")
    view = read_join_view_cdc(spark, root)
    r = update_cdc_rollup(
        spark, store, feed, view, "b1", group_cols=("seg",), value_expr="v"
    )
    assert r["snap_rows"] == 1  # seg0 recomputed, others untouched

    # thread-pooled 3-store compaction, newest batch excluded (replayable)
    folded = compact_join_view_cdc(spark, root, SPEC, exclude=("b1",))
    assert folded == {"left": 1, "right": 1, "view": 1}

    # the maintained report equals the closed form of the final state
    rep = {
        row["seg"]: (row["n"], row["total"])
        for row in read_cdc_rollup(spark, store, ("seg",)).collect()
    }
    # final left rows: lids 1..5 (lid 0 deleted); join on k=lid%3
    expect = {}
    for lid in range(1, 6):
        seg = f"seg{lid % 3}"
        n, tot = expect.get(seg, (0, 0))
        expect[seg] = (n + 1, tot + lid * 10)
    assert rep == expect

    # view read-back equals current_A join current_B
    assert read_join_view_cdc(spark, root).count() == 5


def test_side_guard_errors_still_fire_under_parallel_checks(spark, tmp_path):
    root = str(tmp_path / "view2")
    dup = spark.createDataFrame(
        [(0, 1, 1.0), (1, 1, 2.0)], "k bigint, lid bigint, v double"
    )
    with pytest.raises(ValueError, match="left delta repeats lid"):
        update_join_view_cdc(spark, root, "b0", SPEC, left_upserts=dup)
    clash_ups = _left(spark, [1])
    clash_dels = clash_ups.select("k", "lid")
    update_join_view_cdc(
        spark, root, "b0", SPEC, left_upserts=_left(spark, [1, 2])
    )
    with pytest.raises(ValueError, match="upserts AND deletes the same"):
        update_join_view_cdc(
            spark, root, "b1", SPEC,
            left_upserts=clash_ups.withColumn("v", F.lit(9.0)),
            left_deletes=clash_dels,
        )


def _jobs_run_by(spark, fn):
    """Run ``fn`` under a caller's job group and description. Returns its
    result, the description the caller sees afterwards, and the (group,
    description) of every Spark job started meanwhile on any thread (job
    ids are sequential), read from the status store once the listener
    bus has drained."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        seq = store.jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    before = max((j.jobId() for j in jobs()), default=-1)
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "caller")
    try:
        out = fn()
        restored = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    def opt(o):
        return o.get() if o.isDefined() else None

    ran = [
        (opt(j.jobGroup()) == group, opt(j.description()))
        for j in jobs()
        if j.jobId() > before
    ]
    return out, restored, ran


def test_one_cdc_batch_runs_at_most_20_spark_jobs(spark, tmp_path):
    """A batch with all four feeds against a bucketed store holding
    ``__compacted__`` plus one batch: one guard job for the feeds, no
    schema job per store directory. Every job carries the caller's job
    group and a phase name, and the caller's description comes back."""
    root = str(tmp_path / "view")
    update_join_view_cdc(
        spark, root, "b0", SPEC,
        left_upserts=_left(spark, range(6)), right_upserts=_right(spark, [0, 1, 2]),
    )
    update_join_view_cdc(spark, root, "b1", SPEC, left_upserts=_left(spark, [6, 7]))
    compact_join_view_cdc(spark, root, SPEC, exclude=("b1",))
    feeds = {
        "left_upserts": _left(spark, [8]),
        "left_deletes": spark.createDataFrame([(1, 1)], "k bigint, lid bigint"),
        "right_upserts": _right(spark, [3]),
        "right_deletes": spark.createDataFrame([(0,)], "k bigint"),
    }
    counts, restored, jobs = _jobs_run_by(
        spark, lambda: update_join_view_cdc(spark, root, "b2", SPEC, **feeds)
    )
    assert counts == {
        "left_upserts": 1,
        "left_deletes": 1,
        "right_upserts": 1,
        "right_deletes": 1,
        "view_inserts": 1,  # lid 8 at k=2
        "view_retractions": 4,  # lid 1, and lids 0, 3, 6 at the deleted k=0
    }
    assert len(jobs) <= 20, len(jobs)
    assert all(in_group for in_group, _ in jobs)
    phases = {d.removeprefix("update_join_view_cdc b2: ") for _, d in jobs}
    assert phases == {"guard feeds", "resolve sides", "build delta", "commit"}
    assert restored == "caller"

    _, _, one_feed = _jobs_run_by(
        spark,
        lambda: update_join_view_cdc(
            spark, root, "b3", SPEC, left_upserts=_left(spark, [9])
        ),
    )
    assert len(one_feed) < len(jobs)


_NULL_FEEDS = {
    "left_upserts": ([(None, 1, 1.0)], "k bigint, lid bigint, v double"),
    "left_deletes": ([(1, None)], "k bigint, lid bigint"),
    "right_upserts": ([(None, "s")], "k bigint, seg string"),
    "right_deletes": ([(None,)], "k bigint"),
}


@pytest.mark.parametrize("feed", sorted(_NULL_FEEDS))
def test_null_key_or_id_in_any_feed_is_rejected(spark, tmp_path, feed):
    side, kind = feed.split("_")
    rows, schema = _NULL_FEEDS[feed]
    with pytest.raises(ValueError, match=rf"^{side} {kind} contains NULL in \['k'"):
        update_join_view_cdc(
            spark, str(tmp_path / "view"), "b0", SPEC,
            **{feed: spark.createDataFrame(rows, schema)},
        )


@pytest.mark.parametrize(
    "left, right, wins",
    [
        # a repeated left id against a NULL right key
        (
            ([(0, 1, 1.0), (1, 1, 2.0)], "k bigint, lid bigint, v double"),
            ([(None, "s")], "k bigint, seg string"),
            "left delta repeats lid=1 ",
        ),
        # a NULL left key against right upserts missing the key column
        (
            ([(None, 1, 1.0)], "k bigint, lid bigint, v double"),
            ([("s",)], "seg string"),
            r"left upserts contains NULL",
        ),
    ],
    ids=["repeat-vs-null", "null-vs-missing-column"],
)
def test_left_error_wins_when_both_sides_are_bad(spark, tmp_path, left, right, wins):
    with pytest.raises(ValueError, match=wins):
        update_join_view_cdc(
            spark, str(tmp_path / "view"), "b0", SPEC,
            left_upserts=spark.createDataFrame(*left),
            right_upserts=spark.createDataFrame(*right),
        )


def test_id_upserted_under_two_keys_is_rejected(spark, tmp_path):
    ups = spark.createDataFrame(
        [(0, 7, 1.0), (1, 7, 2.0)], "k bigint, lid bigint, v double"
    )
    with pytest.raises(ValueError, match="left delta repeats lid=7 within the batch"):
        update_join_view_cdc(spark, str(tmp_path / "view"), "b0", SPEC, left_upserts=ups)


def test_delete_of_one_version_under_two_seqs_is_rejected(spark, tmp_path):
    dels = spark.createDataFrame(
        [(1, 1, 4), (1, 1, 5)], "k bigint, lid bigint, seq bigint"
    )
    with pytest.raises(
        ValueError,
        match=r"left batch deletes the same \(k, lid\) version under two "
        "different seq values",
    ):
        update_join_view_cdc(
            spark, str(tmp_path / "view"), "b0", SPEC, seq_col="seq",
            left_deletes=dels,
        )


def test_verbatim_repeated_delete_counts_and_commits_once(spark, tmp_path):
    root = str(tmp_path / "view")
    update_join_view_cdc(spark, root, "b0", SPEC, left_upserts=_left(spark, [1, 2]))
    dels = spark.createDataFrame([(1, 1), (1, 1)], "k bigint, lid bigint")
    counts = update_join_view_cdc(spark, root, "b1", SPEC, left_deletes=dels)
    assert counts["left_deletes"] == 1
    ops = spark.read.parquet(f"{root}/left/batch_id=b1")
    assert ops.filter(F.col("__cdc_op__") == "d").count() == 1


def test_side_directories_with_different_columns_fail_loudly(spark, tmp_path):
    """Two batch directories of the left op log with different column
    sets: the next batch's read of that side must fail, not fill the
    missing column with NULLs."""
    root = str(tmp_path / "view")
    update_join_view_cdc(spark, root, "b0", SPEC, left_upserts=_left(spark, [1]))
    update_join_view_cdc(
        spark, root, "b1", SPEC,
        left_upserts=_left(spark, [2]).withColumn("extra", F.lit("x")),
    )
    with pytest.raises(Exception, match="extra"):
        update_join_view_cdc(
            spark, root, "b2", SPEC, left_upserts=_left(spark, [3])
        )


def test_compaction_jobs_do_not_grow_with_folded_batches(spark, tmp_path):
    """The rank folds read every directory under its footer schema: a
    3-store compaction over 4 batches runs at most 9 Spark jobs, and no
    more over ``__compacted__`` plus 8 batches."""
    root = str(tmp_path / "view")
    update_join_view_cdc(
        spark, root, "b00", SPEC,
        left_upserts=_left(spark, [0]), right_upserts=_right(spark, [0, 1, 2]),
    )

    def add_batches(first, n):
        for i in range(first, first + n):
            update_join_view_cdc(
                spark, root, f"b{i:02d}", SPEC, left_upserts=_left(spark, [i])
            )

    add_batches(1, 3)
    folded, _, four = _jobs_run_by(
        spark, lambda: compact_join_view_cdc(spark, root, SPEC)
    )
    assert folded == {"left": 4, "right": 1, "view": 4}
    assert len(four) <= 9, len(four)

    add_batches(4, 8)
    folded, _, eight = _jobs_run_by(
        spark, lambda: compact_join_view_cdc(spark, root, SPEC)
    )
    assert folded == {"left": 8, "right": 0, "view": 8}
    assert len(eight) <= len(four), (len(eight), len(four))
    assert read_join_view_cdc(spark, root).count() == 12


def test_building_a_rollup_read_plan_runs_no_spark_job(spark, tmp_path):
    store = str(tmp_path / "rollup")
    for i in range(4):
        commit_batch_partition(
            spark.createDataFrame(
                [(f"seg{i}", 1, i, i, i, "add")],
                "seg string, n bigint, total bigint, vmin bigint, vmax bigint,"
                " __kind__ string",
            ),
            store,
            f"b{i}",
        )
    plan, _, jobs = _jobs_run_by(
        spark, lambda: read_cdc_rollup(spark, store, ("seg",))
    )
    assert jobs == []
    assert sorted(r["seg"] for r in plan.collect()) == [f"seg{i}" for i in range(4)]
