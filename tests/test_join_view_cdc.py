"""Drills for the CDC-maintained equi-join view
(`incremental/joinview_cdc.py`).

The invariant under test everywhere: after ANY prefix of CDC batches
(upserts, deletes, key-moves), the net-positive view equals a
from-scratch ``current_A ⋈ current_B`` where each side's current state
is replayed through a dict model (multiset equality via two-sided
exceptAll)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataworks_audit_data_ingest_spark.incremental import (
    JoinViewSpec,
    compact_join_view_cdc,
    forget_left_ids_from_cdc_view,
    read_current_side,
    read_join_view_cdc,
    read_join_view_cdc_delta,
    update_join_view_cdc,
    verify_cdc_side,
)
from dataworks_audit_data_ingest_spark.incremental.joinview_cdc import (
    DIFF_COL,
)

SPEC = JoinViewSpec(key="k", left_id="lid", right_id="rid", n_buckets=4)
FLAT = JoinViewSpec(key="k", left_id="lid", right_id="rid")

L_SCHEMA = "lid int, k int, lval string"
R_SCHEMA = "rid int, k int, rval string"


def _left(spark, rows):
    return spark.createDataFrame(rows, L_SCHEMA) if rows else None


def _right(spark, rows):
    return spark.createDataFrame(rows, R_SCHEMA) if rows else None


def _del(spark, pairs, id_col):
    if not pairs:
        return None
    return spark.createDataFrame(
        [(i, k) for k, i in pairs], f"{id_col} int, k int"
    )


# each batch: (left upserts, left deletes [(key,id)...],
#              right upserts, right deletes)
# exercises: plain inserts, cross-batch matches, same-batch matches,
# fan-out, value UPDATE (same key), DELETE of a matched row, key MOVE
# (delete old key + upsert new key in one batch), delete-before-insert,
# re-insert of a previously deleted id
BATCHES = [
    # b0: seed both sides; lid=9 deleted before it ever existed (no-op)
    (
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
        [(99, 9)],
        [(100, 10, "X"), (101, 20, "Y")],
        None,
    ),
    # b1: fan-out onto key 10; DELETE right 20 (kills pair 2-101);
    # UPDATE left 1's value (same key)
    (
        [(4, 10, "d"), (1, 10, "a2")],
        None,
        None,
        [(20, 101)],
    ),
    # b2: key MOVE left 3: 30 -> 20 (delete old + upsert new, one
    # batch); right 20 re-inserted (rid 103) so the moved row matches;
    # delete-before-insert target lid=9 finally inserted
    (
        [(3, 20, "c-moved"), (9, 10, "i")],
        [(30, 3)],
        [(103, 20, "Y2")],
        None,
    ),
    # b3: delete a fanned-out left (4); update right 100's value —
    # retracts THREE pairs (lids 1, 9 at key 10 minus deleted 4) and
    # re-inserts them against the new version
    (
        None,
        [(10, 4)],
        [(100, 10, "X2")],
        None,
    ),
]


def _model_apply(model, ups, dels, id_col):
    """Dict model of a keyed side: {id: row}; deletes scoped (key,id)."""
    for k, i in dels or []:
        cur = model.get(i)
        if cur is not None and cur[1] == k:
            del model[i]
    for row in ups or []:
        model[row[0]] = row
    return model


def _expected(spark, lmodel, rmodel):
    if not lmodel or not rmodel:
        return None
    return _left(spark, list(lmodel.values())).join(
        _right(spark, list(rmodel.values())), on="k"
    )


def _assert_same_multiset(got, want):
    if want is None or want.count() == 0:
        assert got is None or got.count() == 0
        return
    assert got is not None
    got = got.select(*want.columns)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _apply(spark, root, spec, i, batch):
    lu, ld, ru, rd = batch
    return update_join_view_cdc(
        spark,
        root,
        f"b{i}",
        spec,
        left_upserts=_left(spark, lu),
        left_deletes=_del(spark, ld, "lid"),
        right_upserts=_right(spark, ru),
        right_deletes=_del(spark, rd, "rid"),
    )


@pytest.mark.parametrize("spec", [SPEC, FLAT], ids=["bucketed", "flat"])
def test_view_equals_recompute_after_every_batch(spark, tmp_path, spec):
    root = str(tmp_path / "cdc")
    lmodel, rmodel = {}, {}
    for i, batch in enumerate(BATCHES):
        _apply(spark, root, spec, i, batch)
        lu, ld, ru, rd = batch
        _model_apply(lmodel, lu, ld, "lid")
        _model_apply(rmodel, ru, rd, "rid")
        got = read_join_view_cdc(spark, root)
        _assert_same_multiset(got, _expected(spark, lmodel, rmodel))
        # sides resolve to the model too
        for side, model, schema in (
            ("left", lmodel, L_SCHEMA),
            ("right", rmodel, R_SCHEMA),
        ):
            cur = read_current_side(spark, root, side, spec)
            want = (
                spark.createDataFrame(list(model.values()), schema)
                if model
                else None
            )
            _assert_same_multiset(cur, want)
        assert verify_cdc_side(spark, root, "left", spec) == 0
        assert verify_cdc_side(spark, root, "right", spec) == 0


def test_change_feed_signs_and_update_retraction(spark, tmp_path):
    """b3 updates right 100 (key 10): the feed must retract each live
    pair at key 10 once and re-insert it against the new version."""
    root = str(tmp_path / "cdc")
    for i, batch in enumerate(BATCHES):
        _apply(spark, root, SPEC, i, batch)
    feed = read_join_view_cdc_delta(spark, root, "b3")
    assert feed is not None
    neg = feed.filter(F.col(DIFF_COL) < 0)
    pos = feed.filter(F.col(DIFF_COL) > 0)
    # live lefts at key 10 entering b3: lids {1, 4, 9}; b3 deletes 4
    # (one retraction, no reinsert) and updates right 100 (retract+insert
    # for survivors 1 and 9)
    assert sorted(r.lid for r in neg.collect()) == [1, 4, 9]
    assert sorted(r.lid for r in pos.collect()) == [1, 9]
    assert set(r.rval for r in pos.collect()) == {"X2"}


def test_replay_is_idempotent(spark, tmp_path):
    root = str(tmp_path / "cdc")
    for i, batch in enumerate(BATCHES):
        _apply(spark, root, SPEC, i, batch)
    before = [tuple(r) for r in read_join_view_cdc(spark, root).collect()]
    _apply(spark, root, SPEC, len(BATCHES) - 1, BATCHES[-1])  # replay b3
    after = [tuple(r) for r in read_join_view_cdc(spark, root).collect()]
    assert sorted(before) == sorted(after)


def test_crash_between_view_and_side_commits_replays_clean(
    spark, tmp_path, monkeypatch
):
    """Crash window: view partition committed, side op-logs not. The
    replay must recompute the identical delta (reads exclude the batch's
    own partitions) and converge to the clean-run state."""
    import dataworks_audit_data_ingest_spark.incremental.joinview_cdc as jvc

    control_root = str(tmp_path / "control")
    crash_root = str(tmp_path / "crash")
    for i, batch in enumerate(BATCHES[:-1]):
        _apply(spark, control_root, SPEC, i, batch)
        _apply(spark, crash_root, SPEC, i, batch)
    _apply(spark, control_root, SPEC, 3, BATCHES[3])

    real = jvc.commit_side

    def boom(*a, **kw):
        raise RuntimeError("crash before side commits")

    monkeypatch.setattr(jvc, "commit_side", boom)
    with pytest.raises(RuntimeError, match="crash before side"):
        _apply(spark, crash_root, SPEC, 3, BATCHES[3])
    monkeypatch.setattr(jvc, "commit_side", real)
    _apply(spark, crash_root, SPEC, 3, BATCHES[3])  # replay

    want = read_join_view_cdc(spark, control_root)
    got = read_join_view_cdc(spark, crash_root)
    _assert_same_multiset(got, want)
    # the raw z-set stores match too (same partitions, same signs)
    for rel in ("view", "left", "right"):
        a = spark.read.parquet(f"{control_root}/{rel}")
        b = spark.read.parquet(f"{crash_root}/{rel}")
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


def test_compaction_preserves_view_and_absorbs_tombstones(spark, tmp_path):
    root = str(tmp_path / "cdc")
    for i, batch in enumerate(BATCHES[:3]):
        _apply(spark, root, SPEC, i, batch)
    before = [tuple(r) for r in read_join_view_cdc(spark, root).collect()]
    folded = compact_join_view_cdc(spark, root, SPEC, exclude=("b2",))
    assert folded == {"left": 2, "right": 2, "view": 2}
    after = [tuple(r) for r in read_join_view_cdc(spark, root).collect()]
    assert sorted(before) == sorted(after)
    # tombstones of folded batches are ABSORBED: the compacted op log is
    # a snapshot of current rows only
    from dataworks_audit_data_ingest_spark.incremental.joinview_cdc import (
        OP_COL,
    )

    comp = spark.read.parquet(f"{root}/right/batch_id=__compacted__")
    assert comp.filter(F.col(OP_COL) == "d").count() == 0
    # rid 101 was deleted in b1 (folded): gone from the snapshot
    assert comp.filter(F.col("rid") == 101).count() == 0
    # ...and the next batch still applies cleanly on the folded store
    _apply(spark, root, SPEC, 3, BATCHES[3])
    lmodel, rmodel = {}, {}
    for lu, ld, ru, rd in BATCHES:
        _model_apply(lmodel, lu, ld, "lid")
        _model_apply(rmodel, ru, rd, "rid")
    _assert_same_multiset(
        read_join_view_cdc(spark, root), _expected(spark, lmodel, rmodel)
    )


def test_fold_after_every_row_is_deleted_leaves_nothing(spark, tmp_path):
    """Delete everything a previous fold holds, then fold again: the
    folds come out empty, and the swap must still retire the previous
    ``__compacted__`` partitions, or the deleted rows and their view
    pairs come back."""
    root = str(tmp_path / "cdc")
    seed = ([(1, 10, "a")], None, [(100, 10, "X")], None)
    _apply(spark, root, SPEC, 0, seed)
    compact_join_view_cdc(spark, root, SPEC)
    _apply(spark, root, SPEC, 1, (None, [(10, 1)], None, [(10, 100)]))
    assert read_join_view_cdc(spark, root).count() == 0
    assert compact_join_view_cdc(spark, root, SPEC) == {
        "left": 1, "right": 1, "view": 1
    }
    assert read_join_view_cdc(spark, root) is None
    for side in ("left", "right"):
        assert read_current_side(spark, root, side, SPEC) is None


def test_compaction_rejects_misordered_exclude(spark, tmp_path):
    root = str(tmp_path / "cdc")
    for i, batch in enumerate(BATCHES[:3]):
        _apply(spark, root, SPEC, i, batch)
    with pytest.raises(ValueError, match="sort before a foldable"):
        compact_join_view_cdc(spark, root, SPEC, exclude=("b1",))


def test_monotone_batch_ids_enforced(spark, tmp_path):
    root = str(tmp_path / "cdc")
    _apply(spark, root, SPEC, 1, BATCHES[0])  # batch "b1"
    with pytest.raises(ValueError, match="lexicographically monotone"):
        update_join_view_cdc(
            spark,
            root,
            "b0",
            SPEC,
            left_upserts=_left(spark, [(7, 70, "z")]),
        )


def test_same_version_upsert_and_delete_rejected(spark, tmp_path):
    root = str(tmp_path / "cdc")
    with pytest.raises(ValueError, match="ambiguous"):
        update_join_view_cdc(
            spark,
            root,
            "b0",
            SPEC,
            left_upserts=_left(spark, [(1, 10, "a")]),
            left_deletes=_del(spark, [(10, 1)], "lid"),
        )


def test_bare_key_move_detected_by_audit(spark, tmp_path):
    """Contract violation: an upsert moves lid=1 from key 10 to key 20
    WITHOUT tombstoning (10, 1). The per-bucket op history goes stale
    and verify_cdc_side must flag the id."""
    root = str(tmp_path / "cdc")
    update_join_view_cdc(
        spark,
        root,
        "b0",
        SPEC,
        left_upserts=_left(spark, [(1, 10, "a")]),
    )
    update_join_view_cdc(
        spark,
        root,
        "b1",
        SPEC,
        left_upserts=_left(spark, [(1, 20, "a-moved")]),
    )
    assert verify_cdc_side(spark, root, "left", SPEC) == 1


def test_forget_erases_both_signs_and_is_idempotent(spark, tmp_path):
    root = str(tmp_path / "cdc")
    for i, batch in enumerate(BATCHES):
        _apply(spark, root, SPEC, i, batch)
    ids = spark.createDataFrame([(1,)], "lid int")
    out = forget_left_ids_from_cdc_view(spark, root, ids, SPEC)
    # lid 1: upserted twice (b0, b1 update) -> 2 op rows; view rows with
    # lid=1: +a(b0... replaced), the full signed history
    assert out["left_rows_removed"] == 2
    assert out["view_rows_removed"] > 0
    raw_view = spark.read.parquet(f"{root}/view")
    assert raw_view.filter(F.col("lid") == 1).count() == 0
    assert (
        spark.read.parquet(f"{root}/left").filter(F.col("lid") == 1).count()
        == 0
    )
    again = forget_left_ids_from_cdc_view(spark, root, ids, SPEC)
    assert again == {"left_rows_removed": 0, "view_rows_removed": 0}
    # the surviving view still nets correctly
    lmodel, rmodel = {}, {}
    for lu, ld, ru, rd in BATCHES:
        _model_apply(lmodel, lu, ld, "lid")
        _model_apply(rmodel, ru, rd, "rid")
    lmodel.pop(1, None)
    _assert_same_multiset(
        read_join_view_cdc(spark, root), _expected(spark, lmodel, rmodel)
    )


SF = "/root/testdata/sf0.001"


def test_q265_partition_invariant(spark):
    from dataworks_audit_data_ingest_spark.queries.streaming_shaped import (
        q265_cdc_join_view_report,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        rows = {}
        for n in ("7", before):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            rows[n] = [
                tuple(r)
                for r in q265_cdc_join_view_report(spark, SF).collect()
            ]
        assert rows["7"] == rows[before]
        assert rows[before]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_signed_feed_folds_additively(spark, tmp_path):
    """The IVM-cascade claim under CDC: an ADDITIVE downstream aggregate
    maintained by folding each batch's signed change feed (contribution
    × diff, pure accumulation, no history re-read) must equal the same
    aggregate recomputed from the net view — deletes and updates
    included."""
    root = str(tmp_path / "cdc")
    state = {}  # (k) -> [n_pairs, sum_lval_len]
    for i, batch in enumerate(BATCHES):
        _apply(spark, root, SPEC, i, batch)
        feed = read_join_view_cdc_delta(spark, root, f"b{i}")
        if feed is None:
            continue
        folds = (
            feed.groupBy("k")
            .agg(
                F.sum(DIFF_COL).alias("dn"),
                F.sum(F.length("lval") * F.col(DIFF_COL)).alias("dlen"),
            )
            .collect()
        )
        for r in folds:
            n, ln = state.get(r.k, (0, 0))
            state[r.k] = (n + r.dn, ln + r.dlen)
    state = {k: v for k, v in state.items() if v != (0, 0)}

    view = read_join_view_cdc(spark, root)
    want = {
        r.k: (r.n, r.ln)
        for r in view.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("lval")).alias("ln"),
        )
        .collect()
    }
    assert state == want


def test_stored_opposite_side_column_collision_raises(spark, tmp_path):
    """Self-review regression: a one-sided batch whose new column name
    collides with a column committed EARLIER on the opposite side must
    raise the designed ValueError, not die deep in the parquet write
    with a duplicate-column error (the insert-only view's lesson,
    ported)."""
    root = str(tmp_path / "cdc")
    update_join_view_cdc(
        spark,
        root,
        "b0",
        SPEC,
        right_upserts=spark.createDataFrame(
            [(100, 10, "X")], "rid int, k int, val string"
        ),
    )
    with pytest.raises(ValueError, match="STORED opposite side"):
        update_join_view_cdc(
            spark,
            root,
            "b1",
            SPEC,
            left_upserts=spark.createDataFrame(
                [(1, 10, "a")], "lid int, k int, val string"
            ),
        )


def test_widened_key_type_raises_instead_of_silent_bucket_miss(
    spark, tmp_path
):
    """Self-review regression: bucket pruning hashes the probe's key
    TYPE — an int-keyed store probed by a bigint-keyed feed would read
    the wrong buckets and silently skip retractions. Must be loud."""
    root = str(tmp_path / "cdc")
    _apply(spark, root, SPEC, 0, BATCHES[0])
    with pytest.raises(ValueError, match="bucket hashes would diverge"):
        update_join_view_cdc(
            spark,
            root,
            "b1",
            SPEC,
            left_upserts=spark.createDataFrame(
                [(7, 10, "w")], "lid int, k bigint, lval string"
            ),
        )


def test_q267_partition_invariant(spark):
    from dataworks_audit_data_ingest_spark.queries.streaming_shaped import (
        q267_cdc_feed_rollup,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        rows = {}
        for n in ("7", before):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            rows[n] = [
                tuple(r) for r in q267_cdc_feed_rollup(spark, SF).collect()
            ]
        assert rows["7"] == rows[before]
        assert rows[before]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_forget_crash_between_erasures_recovers_from_persisted_ids(
    spark, tmp_path, monkeypatch
):
    """r11 ADVICE medium: a crash AFTER the op-log erasure but BEFORE
    the view erasure used to strand the subject's view rows forever —
    the natural retry re-derives its id set from the now-erased side
    store (empty) and finds nothing to remove. The durable intent
    persists the id set under the root before the first mutation, so
    ANY later forget/compaction replays the erasure from the persisted
    copy."""
    import dataworks_audit_data_ingest_spark.incremental.forget as fg

    root = str(tmp_path / "cdc")
    for i, batch in enumerate(BATCHES):
        _apply(spark, root, SPEC, i, batch)
    # subject ids derived FROM the store being erased (the cdc_mirror
    # example's exact shape) — deliberately lazy
    ids = (
        read_current_side(spark, root, "left", SPEC)
        .filter(F.col("lid") == 1)
        .select("lid")
    )
    real = fg.forget_matching_from_store

    def boom(spark_, store_path, *a, **k):
        if store_path.rstrip("/").endswith("/view"):
            raise RuntimeError("injected crash before the view erasure")
        return real(spark_, store_path, *a, **k)

    monkeypatch.setattr(fg, "forget_matching_from_store", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        forget_left_ids_from_cdc_view(spark, root, ids, SPEC)
    monkeypatch.undo()

    # the crash window: op log clean, view residue on disk, intent live
    assert (
        spark.read.parquet(f"{root}/left").filter(F.col("lid") == 1).count()
        == 0
    )
    assert (
        spark.read.parquet(f"{root}/view").filter(F.col("lid") == 1).count()
        > 0
    )
    assert len(fg.pending_forget_intents(spark, root)) == 1

    # the naive retry: ids re-derived from the erased store are EMPTY —
    # pre-fix this silently no-opped and the residue persisted
    rederived = (
        read_current_side(spark, root, "left", SPEC)
        .filter(F.col("lid") == 1)
        .select("lid")
    )
    assert rederived.count() == 0
    forget_left_ids_from_cdc_view(spark, root, rederived, SPEC)

    assert (
        spark.read.parquet(f"{root}/view").filter(F.col("lid") == 1).count()
        == 0
    )
    assert fg.pending_forget_intents(spark, root) == []
    # the surviving view still nets correctly
    lmodel, rmodel = {}, {}
    for lu, ld, ru, rd in BATCHES:
        _model_apply(lmodel, lu, ld, "lid")
        _model_apply(rmodel, ru, rd, "rid")
    lmodel.pop(1, None)
    _assert_same_multiset(
        read_join_view_cdc(spark, root), _expected(spark, lmodel, rmodel)
    )


def test_forget_crash_replayed_by_compaction(spark, tmp_path, monkeypatch):
    """The pending intent is also replayed by the next compaction — an
    operator who never re-runs the forget still converges."""
    import dataworks_audit_data_ingest_spark.incremental.forget as fg

    root = str(tmp_path / "cdc")
    for i, batch in enumerate(BATCHES):
        _apply(spark, root, SPEC, i, batch)
    ids = spark.createDataFrame([(1,)], "lid int")
    real = fg.forget_matching_from_store

    def boom(spark_, store_path, *a, **k):
        if store_path.rstrip("/").endswith("/view"):
            raise RuntimeError("injected crash")
        return real(spark_, store_path, *a, **k)

    monkeypatch.setattr(fg, "forget_matching_from_store", boom)
    with pytest.raises(RuntimeError):
        forget_left_ids_from_cdc_view(spark, root, ids, SPEC)
    monkeypatch.undo()
    assert len(fg.pending_forget_intents(spark, root)) == 1

    compact_join_view_cdc(spark, root, SPEC)
    assert (
        spark.read.parquet(f"{root}/view").filter(F.col("lid") == 1).count()
        == 0
    )
    assert fg.pending_forget_intents(spark, root) == []


def test_torn_forget_intent_rolls_back(spark, tmp_path):
    """A pending dir WITHOUT its meta commit marker crashed mid-persist
    — before any store was touched — and must be dropped, not
    replayed."""
    import dataworks_audit_data_ingest_spark.incremental.forget as fg

    root = str(tmp_path / "cdc")
    _apply(spark, root, SPEC, 0, BATCHES[0])
    pend = tmp_path / "cdc" / f"{fg._PENDING_PREFIX}deadbeef"
    spark.createDataFrame([(1,)], "lid int").write.parquet(
        str(pend / "ids")
    )  # ids durable, meta never written
    assert fg.pending_forget_intents(spark, root) == []
    assert not pend.exists()
    # and the store is untouched
    assert (
        spark.read.parquet(f"{root}/left").filter(F.col("lid") == 1).count()
        > 0
    )


SEQ_L = "lid int, k int, lval string, seq long"
SEQ_DEL = "lid int, k int, seq long"


def test_seq_watermark_rejects_stale_ops(spark, tmp_path):
    """Cross-batch commit-order enforcement (round 12): with seq_col,
    an op whose seq does not advance past the stored latest op for its
    (key, id) — tombstones included — fails loudly instead of silently
    corrupting the z-set; the watermark never reaches the view rows."""
    root = str(tmp_path / "cdc")
    update_join_view_cdc(
        spark, root, "b0", SPEC, seq_col="seq",
        left_upserts=spark.createDataFrame([(1, 10, "a", 1)], SEQ_L),
        right_upserts=spark.createDataFrame(
            [(100, 10, "X", 2)], "rid int, k int, rval string, seq long"
        ),
    )
    update_join_view_cdc(
        spark, root, "b1", SPEC, seq_col="seq",
        left_upserts=spark.createDataFrame([(1, 10, "a2", 5)], SEQ_L),
    )
    # stale delete: seq 4 < stored 5
    with pytest.raises(ValueError, match="OUT OF ORDER"):
        update_join_view_cdc(
            spark, root, "b2", SPEC, seq_col="seq",
            left_deletes=spark.createDataFrame([(1, 10, 4)], SEQ_DEL),
        )
    update_join_view_cdc(
        spark, root, "b2", SPEC, seq_col="seq",
        left_deletes=spark.createDataFrame([(1, 10, 6)], SEQ_DEL),
    )
    # stale RE-INSERT after the delete: the tombstone remembers seq 6
    with pytest.raises(ValueError, match="OUT OF ORDER"):
        update_join_view_cdc(
            spark, root, "b3", SPEC, seq_col="seq",
            left_upserts=spark.createDataFrame([(1, 10, "zombie", 5)], SEQ_L),
        )
    update_join_view_cdc(
        spark, root, "b3", SPEC, seq_col="seq",
        left_upserts=spark.createDataFrame([(1, 10, "back", 7)], SEQ_L),
    )
    got = read_join_view_cdc(spark, root)
    assert "seq" not in got.columns
    assert [tuple(r) for r in got.collect()] == [(10, 1, "back", 100, "X")]


def test_seq_watermark_survives_compaction(spark, tmp_path):
    """A seq-tracked store compacts with seq_col: tombstones persist as
    watermark records, so a stale re-insert arriving AFTER the fold is
    still rejected (the plain fold would have absorbed the tombstone
    and resurrected the version silently)."""
    root = str(tmp_path / "cdc")
    update_join_view_cdc(
        spark, root, "b0", SPEC, seq_col="seq",
        left_upserts=spark.createDataFrame([(1, 10, "a", 1)], SEQ_L),
        right_upserts=spark.createDataFrame(
            [(100, 10, "X", 2)], "rid int, k int, rval string, seq long"
        ),
    )
    update_join_view_cdc(
        spark, root, "b1", SPEC, seq_col="seq",
        left_deletes=spark.createDataFrame([(1, 10, 3)], SEQ_DEL),
    )
    compact_join_view_cdc(spark, root, SPEC, seq_col="seq")
    with pytest.raises(ValueError, match="OUT OF ORDER"):
        update_join_view_cdc(
            spark, root, "b2", SPEC, seq_col="seq",
            left_upserts=spark.createDataFrame([(1, 10, "zombie", 2)], SEQ_L),
        )
    update_join_view_cdc(
        spark, root, "b2", SPEC, seq_col="seq",
        left_upserts=spark.createDataFrame([(1, 10, "back", 4)], SEQ_L),
    )
    got = read_join_view_cdc(spark, root)
    assert [tuple(r) for r in got.collect()] == [(10, 1, "back", 100, "X")]


def test_seq_adoption_on_legacy_store_rejected(spark, tmp_path):
    root = str(tmp_path / "cdc")
    update_join_view_cdc(
        spark, root, "b0", SPEC,
        left_upserts=_left(spark, [(1, 10, "a")]),
    )
    with pytest.raises(ValueError, match="WITHOUT"):
        update_join_view_cdc(
            spark, root, "b1", SPEC, seq_col="seq",
            left_upserts=spark.createDataFrame([(1, 10, "a2", 5)], SEQ_L),
        )
