"""Drills for the incremental rollup store (`incremental/rollup.py`):

- incremental == batch recompute after EVERY batch (late data included);
- replay idempotency (same batch re-committed, report unchanged);
- additive compaction: report identical before/after, partitions folded,
  exclude honored;
- compaction crash points of the staged swap (staging only; committed
  manifest before and after the rename; torn manifest; unreadable
  manifest) leave readers consistent and a re-run converges;
- GDPR forget == batch recompute over the filtered events;
- the update path never lists the store (write-only hot path).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

import dataworks_audit_data_ingest_spark.incremental.store as S
from dataworks_audit_data_ingest_spark.incremental.rollup import (
    compact_rollup_store,
    forget_user_from_rollup,
    read_rollup,
    read_rollup_grain,
    rollup_partials,
    update_rollup_store,
)
from dataworks_audit_data_ingest_spark.tables import table

SF = "/root/testdata/sf0.001"

# the staged swap's on-disk markers (incremental/store.py::compact_store)
_FOLD_TMP = "_jv_fold_tmp_"
_FOLD_COMMIT = "_jv_fold_commit_"


def _batches(spark, n=3):
    """Deterministic n-way split of the events fixture; every slice holds
    a mix of days (so 'late data' — an old day arriving in a new batch —
    is exercised by construction)."""
    ev = table(spark, SF, "events")
    return [
        ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(n)) == i).localCheckpoint()
        for i in range(n)
    ]


def _report_rows(spark, store):
    rep = read_rollup(spark, store)
    assert rep is not None
    return sorted(tuple(r) for r in rep.collect())


def _batch_recompute(df):
    cents = F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
    return sorted(
        tuple(r)
        for r in df.select(
            F.to_date("ts").alias("day"),
            "event_type",
            "user_id",
            cents.alias("cents"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("cents").alias("sum_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .collect()
    )


def test_incremental_equals_batch_after_every_batch(spark, tmp_path):
    store = str(tmp_path / "rollup")
    batches = _batches(spark)
    seen = None
    for i, b in enumerate(batches):
        update_rollup_store(spark, store, b, str(i))
        seen = b if seen is None else seen.unionByName(b)
        assert _report_rows(spark, store) == _batch_recompute(seen)


def test_replay_is_idempotent(spark, tmp_path):
    store = str(tmp_path / "rollup")
    batches = _batches(spark)
    for i, b in enumerate(batches):
        update_rollup_store(spark, store, b, str(i))
    before = _report_rows(spark, store)
    update_rollup_store(spark, store, batches[1], "1")  # replay
    assert _report_rows(spark, store) == before


def test_compaction_preserves_report_and_folds(spark, tmp_path):
    store = str(tmp_path / "rollup")
    batches = _batches(spark)
    for i, b in enumerate(batches):
        update_rollup_store(spark, store, b, str(i))
    before = _report_rows(spark, store)
    grain_before = sorted(
        tuple(r) for r in read_rollup_grain(spark, store).collect()
    )
    folded = compact_rollup_store(spark, store, exclude=("2",))
    assert folded == 2  # batches 0 and 1; 2 excluded as replayable
    assert _report_rows(spark, store) == before
    assert (
        sorted(tuple(r) for r in read_rollup_grain(spark, store).collect())
        == grain_before
    )
    # the excluded batch can still replay safely after compaction
    update_rollup_store(spark, store, batches[2], "2")
    assert _report_rows(spark, store) == before
    # second compaction folds the compacted partition + batch 2 and
    # counts only the batch directory it removed
    assert compact_rollup_store(spark, store) == 1
    assert _report_rows(spark, store) == before


def _fold_residue(store):
    return sorted(n for n in os.listdir(store) if n.startswith("_jv_fold_"))


def _crash(*a, **k):
    raise RuntimeError("crash")


def _three_batch_store(spark, tmp_path):
    store = str(tmp_path / "rollup")
    for i, b in enumerate(_batches(spark)):
        update_rollup_store(spark, store, b, str(i))
    return store


def test_compaction_crash_staging_only_is_ignored_then_rolled_back(
    spark, tmp_path, monkeypatch
):
    """Crash point 1: the fold is staged, its manifest never written.
    Readers see the originals; the next compaction drops the staging
    and folds cleanly."""
    store = _three_batch_store(spark, tmp_path)
    before = _report_rows(spark, store)
    monkeypatch.setattr(S, "local_rows_df", _crash)  # the manifest write
    with pytest.raises(RuntimeError, match="crash"):
        compact_rollup_store(spark, store)
    monkeypatch.undo()
    assert [n[: len(_FOLD_TMP)] for n in _fold_residue(store)] == [_FOLD_TMP]
    assert _report_rows(spark, store) == before  # staging is invisible
    assert compact_rollup_store(spark, store) == 3
    assert _report_rows(spark, store) == before
    assert _fold_residue(store) == []


def test_compaction_crash_after_commit_before_swap_is_finished_by_a_read(
    spark, tmp_path, monkeypatch
):
    """Crash point 2: the manifest committed, the swap not started. The
    fold is the truth from here on: the next read finishes the swap, so
    it counts every partial once."""
    store = _three_batch_store(spark, tmp_path)
    before = _report_rows(spark, store)
    monkeypatch.setattr(S, "_complete_fold", _crash)
    with pytest.raises(RuntimeError, match="crash"):
        compact_rollup_store(spark, store)
    monkeypatch.undo()
    assert {"batch_id=0", "batch_id=1", "batch_id=2"} <= set(os.listdir(store))
    assert len(_fold_residue(store)) == 2  # staging + committed manifest
    assert _report_rows(spark, store) == before
    assert _fold_residue(store) == []
    parts = [n for n in os.listdir(store) if n.startswith("batch_id=")]
    assert parts == ["batch_id=__compacted__"]
    assert compact_rollup_store(spark, store) == 0  # nothing left to fold


def test_compaction_crash_after_rename_is_finished_by_a_read(
    spark, tmp_path
):
    """Crash point 3: the new ``__compacted__`` renamed into place, the
    folded originals not yet deleted. Rebuilt from a finished
    compaction by restoring the originals and the committed manifest
    naming them — a reader must not count a partial twice."""
    store = _three_batch_store(spark, tmp_path)
    before = _report_rows(spark, store)
    backup = str(tmp_path / "backup")
    shutil.copytree(store, backup)
    assert compact_rollup_store(spark, store) == 3
    originals = [f"batch_id={i}" for i in range(3)]
    for d in originals:
        shutil.copytree(f"{backup}/{d}", f"{store}/{d}")
    os.makedirs(f"{store}/{_FOLD_TMP}cafecafe0001")  # emptied by the rename
    spark.createDataFrame([(d,) for d in originals], "dir string").coalesce(
        1
    ).write.parquet(f"{store}/{_FOLD_COMMIT}cafecafe0001")
    assert _report_rows(spark, store) == before
    assert _fold_residue(store) == []
    assert not set(originals) & set(os.listdir(store))
    assert compact_rollup_store(spark, store) == 0
    assert _report_rows(spark, store) == before


def test_forget_user_equals_filtered_batch_recompute(spark, tmp_path):
    store = str(tmp_path / "rollup")
    ev = table(spark, SF, "events")
    batches = _batches(spark)
    for i, b in enumerate(batches):
        update_rollup_store(spark, store, b, str(i))
    subjects = ev.select("user_id").distinct().orderBy("user_id").limit(3)
    subject_ids = [r.user_id for r in subjects.collect()]
    removed = forget_user_from_rollup(spark, store, subjects)
    assert sum(removed.values()) > 0
    survivors = ev.filter(~F.col("user_id").isin(subject_ids))
    assert _report_rows(spark, store) == _batch_recompute(survivors)
    # idempotent
    assert forget_user_from_rollup(spark, store, subjects) == {}


def test_forget_composes_with_compaction(spark, tmp_path):
    store = str(tmp_path / "rollup")
    ev = table(spark, SF, "events")
    for i, b in enumerate(_batches(spark)):
        update_rollup_store(spark, store, b, str(i))
    compact_rollup_store(spark, store)
    subjects = ev.select("user_id").distinct().orderBy("user_id").limit(2)
    subject_ids = [r.user_id for r in subjects.collect()]
    forget_user_from_rollup(spark, store, subjects)
    survivors = ev.filter(~F.col("user_id").isin(subject_ids))
    assert _report_rows(spark, store) == _batch_recompute(survivors)


def test_update_path_is_write_only(spark, tmp_path, monkeypatch):
    """The hot path must not read the store: poison the store listing
    (and with it the fold recovery that rides on it) and update anyway."""
    store = str(tmp_path / "rollup")

    def boom(*a, **k):  # pragma: no cover - called == failure
        raise AssertionError("update path listed the store")

    monkeypatch.setattr(S, "_list_status", boom)
    monkeypatch.setattr(S, "_list_partitions", boom)
    b = _batches(spark, n=2)[0]
    update_rollup_store(spark, store, b, "0")
    monkeypatch.undo()
    assert read_rollup(spark, store) is not None


def test_read_missing_store_is_none_and_foreign_store_rejected(
    spark, tmp_path
):
    assert read_rollup(spark, str(tmp_path / "nope")) is None
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    (foreign / "stray.txt").write_text("x")
    with pytest.raises(ValueError):
        read_rollup(spark, str(foreign))


def test_q254_partition_invariant(spark):
    from dataworks_audit_data_ingest_spark.queries.streaming_shaped import (
        q254_rollup_store_report,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        rows = {}
        for n in ("7", before):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            rows[n] = [
                tuple(r) for r in q254_rollup_store_report(spark, SF).collect()
            ]
        assert rows["7"] == rows[before]
        assert rows[before]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_escaped_batch_ids_survive_compaction(spark, tmp_path):
    """Batch ids with characters Hadoop %XX-escapes in partition paths
    (':') must round-trip through update → compact → read; the GC pass
    addresses directories through the listing, not rebuilt raw paths."""
    store = str(tmp_path / "rollup")
    batches = _batches(spark)
    ids = ("day:2026-08-14", "day:2026-08-15", "day:2026-08-16")
    for bid, b in zip(ids, batches):
        update_rollup_store(spark, store, b, bid)
    before = _report_rows(spark, store)
    assert compact_rollup_store(spark, store) == 3
    assert _report_rows(spark, store) == before
    names = os.listdir(store)
    assert _fold_residue(store) == []
    assert names.count("batch_id=__compacted__") == 1
    # the escaped originals are gone (GC really found them)
    assert not any("day" in n for n in names)


def test_torn_manifest_ignored_and_rolled_back(
    spark, tmp_path, monkeypatch
):
    """A manifest WITHOUT its own _SUCCESS (crash during the manifest
    write) names an incomplete set: readers must not replay it, and the
    next compaction rolls it and its staging back."""
    store = _three_batch_store(spark, tmp_path)
    before = _report_rows(spark, store)
    monkeypatch.setattr(S, "_complete_fold", _crash)
    with pytest.raises(RuntimeError, match="crash"):
        compact_rollup_store(spark, store)
    monkeypatch.undo()
    (manifest,) = [
        n for n in _fold_residue(store) if n.startswith(_FOLD_COMMIT)
    ]
    os.remove(f"{store}/{manifest}/_SUCCESS")
    assert _report_rows(spark, store) == before  # originals stand
    assert "batch_id=0" in os.listdir(store)
    assert compact_rollup_store(spark, store) == 3
    assert _fold_residue(store) == []
    assert _report_rows(spark, store) == before


def test_committed_manifest_read_error_propagates(spark, tmp_path):
    """Corrupt parquet under a _SUCCESS-committed manifest is a real IO
    problem: both the reader and the compactor must raise, never treat
    the store as fold-free (which would double-count a half-swapped
    fold)."""
    store = str(tmp_path / "rollup")
    for i, b in enumerate(_batches(spark, n=2)):
        update_rollup_store(spark, store, b, str(i))
    bad = f"{store}/{_FOLD_COMMIT}badread"
    os.makedirs(bad)
    with open(f"{bad}/part-00000.parquet", "wb") as f:
        f.write(b"\x00garbage, not parquet")
    open(f"{bad}/_SUCCESS", "w").close()  # claims completeness
    with pytest.raises(Exception):
        read_rollup(spark, store)
    with pytest.raises(Exception):
        compact_rollup_store(spark, store)


def test_forget_over_fold_residue_counts_once(spark, tmp_path):
    """Forget on a store a crash left mid-fold — a committed fold beside
    its restored originals, plus an uncommitted fold's staging — must
    erase (and count) the subject's rows once, and leave no staged copy
    of them behind."""
    ev = table(spark, SF, "events")
    store = _three_batch_store(spark, tmp_path)
    backup = str(tmp_path / "backup")
    shutil.copytree(store, backup)
    assert compact_rollup_store(spark, store) == 3
    # an uncommitted fold (staged rows, no manifest)...
    shutil.copytree(
        f"{store}/batch_id=__compacted__",
        f"{store}/{_FOLD_TMP}dead00000001/batch_id=__compacted__",
    )
    # ...and a committed one whose originals are back on disk
    shutil.copytree(f"{backup}/batch_id=0", f"{store}/batch_id=0")
    spark.createDataFrame([("batch_id=0",)], "dir string").coalesce(
        1
    ).write.parquet(f"{store}/{_FOLD_COMMIT}residue0")

    subjects = ev.select("user_id").distinct().orderBy("user_id").limit(2)
    subject_ids = [r.user_id for r in subjects.collect()]
    # the subject's grain rows exist ONCE per (day, type) once the fold
    # is finished; a blind sweep over the residue would count them twice
    expected_once = (
        rollup_partials(ev)
        .filter(F.col("user_id").isin(subject_ids))
        .count()
    )
    removed = forget_user_from_rollup(spark, store, subjects)
    assert sum(removed.values()) == expected_once
    assert _fold_residue(store) == []
    survivors = ev.filter(~F.col("user_id").isin(subject_ids))
    assert _report_rows(spark, store) == _batch_recompute(survivors)


def test_fully_forgotten_store_reads_as_none(spark, tmp_path):
    """Erasing every subject leaves a store directory with no live
    partitions — legitimately empty state, read as None (no maintained
    state), not an error."""
    store = str(tmp_path / "rollup")
    ev = table(spark, SF, "events")
    update_rollup_store(spark, store, _batches(spark, n=1)[0], "0")
    everyone = ev.select("user_id").distinct()
    removed = forget_user_from_rollup(spark, store, everyone)
    assert sum(removed.values()) > 0
    assert read_rollup(spark, store) is None


# ---------------------------------------------------------------------------
# property: for ANY rows and ANY batch slicing, the maintained report
# equals the single-pass recompute, before and after compaction
# ---------------------------------------------------------------------------

import math
import tempfile
from datetime import date, datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ROW = st.tuples(
    st.integers(0, 2),                      # day index
    st.integers(0, 1),                      # type index
    st.integers(0, 3),                      # user index
    st.one_of(st.none(), st.integers(-10_000, 10_000)),  # cents or NULL
)


@given(
    rows=st.lists(_ROW, min_size=1, max_size=30),
    n_batches=st.integers(1, 3),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_rollup_merge_property(spark, rows, n_batches):
    data = [
        (
            datetime(2026, 1, d + 1, 12, 0, 0),
            f"type_{t}",
            u,
            (c / 100.0) if c is not None else None,
            i,
        )
        for i, (d, t, u, c) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "ts timestamp, event_type string, user_id long, "
        "value double, event_id long"
    )
    store = tempfile.mkdtemp(prefix="rollup_prop_") + "/store"
    try:
        for b in range(n_batches):
            batch = df.filter(F.pmod(F.col("event_id"), F.lit(n_batches)) == b)
            update_rollup_store(spark, store, batch, str(b))
        got = _report_rows(spark, store)

        # pure-python model over the same rows (same IEEE cents formula)
        model: dict = {}
        for d, t, u, c in rows:
            key = (date(2026, 1, d + 1), f"type_{t}")
            m = model.setdefault(
                key, {"n": 0, "users": set(), "cents": []}
            )
            m["n"] += 1
            m["users"].add(u)
            if c is not None:
                m["cents"].append(math.floor((c / 100.0) * 100 + 0.5))
        want = sorted(
            (
                day,
                typ,
                m["n"],
                len(m["users"]),
                sum(m["cents"]) if m["cents"] else None,
                min(m["cents"]) if m["cents"] else None,
                max(m["cents"]) if m["cents"] else None,
            )
            for (day, typ), m in model.items()
        )
        assert got == want
        compact_rollup_store(spark, store)
        assert _report_rows(spark, store) == want
    finally:
        shutil.rmtree(store.rsplit("/", 1)[0], ignore_errors=True)


def test_coarser_report_grains_match_recompute(spark, tmp_path):
    """One store serves any grain coarser than (day, type, user): the
    by=('event_type',) and by=('day',) reports equal direct recomputes."""
    store = str(tmp_path / "rollup")
    ev = table(spark, SF, "events")
    for i, b in enumerate(_batches(spark)):
        update_rollup_store(spark, store, b, str(i))
    cents = F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
    base = ev.select(
        F.to_date("ts").alias("day"), "event_type", "user_id",
        cents.alias("cents"),
    )
    for by in (("event_type",), ("day",)):
        got = sorted(
            tuple(r) for r in read_rollup(spark, store, by=by).collect()
        )
        want = sorted(
            tuple(r)
            for r in base.groupBy(*by)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum("cents").alias("sum_cents"),
                F.min("cents").alias("min_cents"),
                F.max("cents").alias("max_cents"),
            )
            .collect()
        )
        assert got == want


def test_compact_with_everything_excluded_is_noop(spark, tmp_path):
    store = str(tmp_path / "rollup")
    for i, b in enumerate(_batches(spark)):
        update_rollup_store(spark, store, b, str(i))
    before = _report_rows(spark, store)
    assert compact_rollup_store(spark, store, exclude=("0", "1", "2")) == 0
    assert _report_rows(spark, store) == before


def test_forget_writes_audit_manifest(spark, tmp_path):
    store = str(tmp_path / "rollup")
    audit = str(tmp_path / "audit")
    ev = table(spark, SF, "events")
    update_rollup_store(spark, store, _batches(spark, n=1)[0], "0")
    subjects = ev.select("user_id").distinct().orderBy("user_id").limit(1)
    removed = forget_user_from_rollup(
        spark, store, subjects, audit_path=audit
    )
    rows = spark.read.parquet(audit).collect()
    assert len(rows) == 1
    assert rows[0].n_affected == sum(removed.values()) > 0
