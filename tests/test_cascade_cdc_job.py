"""Streaming CDC cascade drills (`streaming/cascade_cdc_job.py`):
after a (side, op)-tagged change stream — inserts, a value UPDATE, two
DELETES, a key MOVE — drains, the additive rollup maintained purely
from the signed change feed equals BOTH the closed form and a recompute
from the net view; a drained restart is a no-op; a crash between the
view commit and the rollup-partial commit converges on restart (the
one-callback transactionality argument)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from dataworks_audit_data_ingest_spark.incremental import (
    JoinViewSpec,
    read_join_view_cdc,
)
from dataworks_audit_data_ingest_spark.streaming import cascade_cdc_job as cc
from dataworks_audit_data_ingest_spark.streaming.cascade_cdc_job import (
    read_additive_rollup,
    start_cdc_rollup_cascade_stream,
)

SPEC = JoinViewSpec(key="k", left_id="lid", right_id="rid", n_buckets=4)
LEFT_COLS = ("lid", "k", "price")
RIGHT_COLS = ("rid", "k", "seg")
SCHEMA = (
    "side string, op string, lid int, rid int, k int,"
    " price int, seg string"
)

CHUNKS = [
    {"side": "left", "op": "upsert", "lid": 1, "k": 10, "price": 5},
    {"side": "right", "op": "upsert", "rid": 100, "k": 10, "seg": "A"},
    {"side": "left", "op": "upsert", "lid": 2, "k": 20, "price": 7},
    {"side": "right", "op": "upsert", "rid": 101, "k": 20, "seg": "B"},
    # value UPDATE: retract (1,100,5), insert (1,100,6)
    {"side": "left", "op": "upsert", "lid": 1, "k": 10, "price": 6},
    # delete kills pair (2,101)
    {"side": "right", "op": "delete", "rid": 101, "k": 20},
    {"side": "left", "op": "upsert", "lid": 3, "k": 10, "price": 9},
    {"side": "left", "op": "delete", "lid": 3, "k": 10},
    {"side": "left", "op": "upsert", "lid": 4, "k": 30, "price": 4},
    {"side": "right", "op": "upsert", "rid": 102, "k": 30, "seg": "C"},
    # key MOVE lid 4: 30 -> 10, across two micro-batches (stream order)
    {"side": "left", "op": "delete", "lid": 4, "k": 30},
    {"side": "left", "op": "upsert", "lid": 4, "k": 10, "price": 8},
]
# final: left {1:(10,6), 2:(20,7), 4:(10,8)}, right {100:(10,A),
# 102:(30,C)} -> pairs (1,100,6), (4,100,8): seg A n=2 total=14
WANT = {("A", 2, 14)}


def _spill(src):
    t0 = time.time() - 3600
    for i, row in enumerate(CHUNKS):
        p = src / f"c{i:02d}.json"
        p.write_text(json.dumps(row))
        os.utime(p, (t0 + i, t0 + i))


def _start(spark, src, jv_root, rl_store, ckpt, compact_every=4):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    return start_cdc_rollup_cascade_stream(
        stream,
        jv_root,
        rl_store,
        ckpt,
        SPEC,
        left_cols=LEFT_COLS,
        right_cols=RIGHT_COLS,
        group_cols=("seg",),
        value_expr="price",
        compact_every=compact_every,
    )


def _report(spark, rl_store):
    return {
        (r.seg, r.n, r.total)
        for r in read_additive_rollup(spark, rl_store, ["seg"]).collect()
    }


def test_stream_rollup_equals_view_and_closed_form(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _spill(src)
    jv_root = str(tmp_path / "jv")
    rl_store = str(tmp_path / "rl")
    ckpt = str(tmp_path / "ckpt")
    _start(spark, src, jv_root, rl_store, ckpt).awaitTermination()

    got = _report(spark, rl_store)
    assert got == WANT
    # and equals a recompute from the net view (the rollup never read it)
    from_view = {
        (r.seg, r.n, r.total)
        for r in read_join_view_cdc(spark, jv_root)
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("price").cast("bigint").alias("total"),
        )
        .collect()
    }
    assert from_view == WANT

    # drained restart: a no-op
    _start(spark, src, jv_root, rl_store, ckpt).awaitTermination()
    assert _report(spark, rl_store) == WANT


def test_crash_between_view_and_rollup_commits_converges(
    spark, tmp_path, monkeypatch
):
    src = tmp_path / "src"
    src.mkdir()
    _spill(src)
    jv_root = str(tmp_path / "jv")
    rl_store = str(tmp_path / "rl")
    ckpt = str(tmp_path / "ckpt")

    real = cc.commit_batch_partition
    crash_bid = cc.pad_batch_id(4)  # the value-UPDATE batch

    def flaky(df, store, batch_id, **kw):
        if store == rl_store and batch_id == crash_bid:
            raise RuntimeError("crash between the two store commits")
        return real(df, store, batch_id, **kw)

    monkeypatch.setattr(cc, "commit_batch_partition", flaky)
    q = _start(spark, src, jv_root, rl_store, ckpt, compact_every=None)
    with pytest.raises(Exception, match="crash between the two store"):
        q.awaitTermination()
    monkeypatch.undo()

    # the window is real: the view holds batch 4, the rollup does not
    assert os.path.isdir(f"{jv_root}/view/batch_id={crash_bid}")
    assert not os.path.isdir(f"{rl_store}/batch_id={crash_bid}")

    _start(
        spark, src, jv_root, rl_store, ckpt, compact_every=None
    ).awaitTermination()
    assert _report(spark, rl_store) == WANT


SF = "/root/testdata/sf0.001"


def test_q268_partition_invariant(spark):
    from dataworks_audit_data_ingest_spark.queries.streaming_shaped import (
        q268_cdc_cascade_stream,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        rows = {}
        for n in ("7", before):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            rows[n] = [
                tuple(r) for r in q268_cdc_cascade_stream(spark, SF).collect()
            ]
        assert rows["7"] == rows[before]
        assert rows[before]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def _partials_store(spark, store, batches):
    """Commit hand-built signed partials ``{batch id: [(seg, dn, dv)]}``."""
    from dataworks_audit_data_ingest_spark.incremental.store import (
        commit_batch_partition,
    )

    for bid, rows in batches.items():
        commit_batch_partition(
            spark.createDataFrame(
                rows, "seg string, __dn__ long, __dv__ long"
            ),
            store,
            bid,
        )


def test_read_finishes_a_fold_left_beside_its_originals(spark, tmp_path):
    """Crash after the fold's rename, before its originals are deleted:
    the new ``__compacted__`` net rows, the restored originals and the
    committed ``_jv_fold_commit_<tok>`` naming them. The report must be
    the one before the crash, not the partials counted twice."""
    import shutil

    store = str(tmp_path / "rl")
    _partials_store(
        spark, store, {"0": [("x", 1, 5), ("y", 1, 3)], "1": [("x", 1, 10)]}
    )
    assert _report(spark, store) == {("x", 2, 15), ("y", 1, 3)}
    backup = str(tmp_path / "backup")
    shutil.copytree(store, backup)
    assert cc.compact_additive_rollup(spark, store, ["seg"]) == 2
    originals = ["batch_id=0", "batch_id=1"]
    for d in originals:
        shutil.copytree(f"{backup}/{d}", f"{store}/{d}")
    spark.createDataFrame([(d,) for d in originals], "dir string").coalesce(
        1
    ).write.parquet(f"{store}/_jv_fold_commit_cafecafe0001")
    assert _report(spark, store) == {("x", 2, 15), ("y", 1, 3)}
    assert [n for n in os.listdir(store) if n.startswith("batch_id=")] == [
        "batch_id=__compacted__"
    ]


def test_fold_of_a_fully_retracted_store_leaves_nothing(spark, tmp_path):
    """A fold whose every group nets to zero writes no rows; the swap
    must still retire the previous ``__compacted__`` partition, or the
    retracted groups come back."""
    store = str(tmp_path / "rl")
    _partials_store(spark, store, {"0": [("x", 2, 15), ("y", 1, 3)]})
    assert cc.compact_additive_rollup(spark, store, ["seg"]) == 1
    _partials_store(spark, store, {"1": [("x", -2, -15), ("y", -1, -3)]})
    assert _report(spark, store) == set()
    assert cc.compact_additive_rollup(spark, store, ["seg"]) == 1
    assert not [
        n for n in os.listdir(store) if n.startswith(("batch_id", "_jv"))
    ]
    assert cc.read_additive_rollup(spark, store, ["seg"]) is None
