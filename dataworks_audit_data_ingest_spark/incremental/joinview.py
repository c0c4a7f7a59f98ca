"""Incrementally maintained equi-join view — materialize ``A ⋈ B`` and
keep it current under appends to EITHER side with O(Δ) join work per
batch, instead of re-joining the full tables every refresh.

The delta rule for an inner equi-join under insert-only updates is the
classic one (Blakeley et al., "Efficiently Updating Materialized Views",
SIGMOD 1986; the same rule Flink/Materialize execute continuously):

    ΔV  =  ΔA ⋈ (B_old ∪ ΔB)   ∪   A_old ⋈ ΔB

Each joined pair (a, b) is produced EXACTLY once, in the batch where the
LATER of its two rows arrives: if ``a`` lands in batch i and ``b`` in
batch j > i, batch j's ``A_old ⋈ ΔB`` term emits it (``a`` is already in
the store); if they land together, ``ΔA ⋈ ΔB`` (inside the first term)
emits it and ``A_old ⋈ ΔB`` cannot (``a`` is not yet old). The
materialized view is then simply the union of every batch's delta.

Storage is three batch-partitioned parquet stores under one root —
``left/``, ``right/``, ``view/`` — all on the shared store contract
(`incremental/store.py`): every write is a dynamic overwrite of the
batch's OWN partition and every read EXCLUDES the current batch's
partition, so a crashed-and-replayed batch recomputes an identical delta
against identical old sides and rewrites exactly its own partitions, in
any crash ordering. No write-ahead state beyond the stores themselves.

Scale levers, in the order they matter at 100 TB:

- **The stored side is never shuffled whole per batch.** With
  ``n_buckets > 0`` the side stores are partitioned by
  ``(batch_id, bucket = pmod(xxhash64(key), n_buckets))`` and each
  update prunes the old-side read to the buckets the incoming delta's
  keys actually hash into — directory-level partition pruning, the same
  lever the zone-map study measures for layout. A delta touching k of n
  buckets reads k/n of the store's bytes (drill-pinned via
  ``inputFiles``).
- **Delta-sized join inputs.** Both delta terms have a Δ on one side;
  under AQE the Δ side broadcasts when small, so the common case is two
  broadcast joins against pruned store scans — no exchange of stored
  rows at all.
- **O(1) partition count over a long-lived job** via
  `incremental/store.py::compact_store` on all three stores.
  COMPACTION PRECONDITION, stronger than the dedup family's: the fold
  dedups rows, and join-view rows are NOT inherently a set — two
  identical left rows matching one right row legitimately yield two
  identical view rows. `JoinViewSpec` therefore REQUIRES per-side
  unique-id columns (`left_id`/`right_id`); `update_join_view` rejects
  a delta that repeats an id within the batch, which makes every store
  row unique (view rows carry both ids) and the fold's distinct() a
  no-op. Cross-batch repeats of an id are the caller's upsert problem —
  this is an insert-only view, exactly like the reference's append-only
  audit ingest (`audit_data_ingest.py:49-68` processes each day's new
  files exactly once).

Deletions/updates are out of scope by the same monotonicity argument as
the CC store (`incremental/cc.py`): the documented erasure path is
:func:`forget_left_ids_from_join_view` /
:func:`forget_right_ids_from_join_view` — GDPR-style scoped removal of a
row AND every view row it produced, idempotent, partition-rewriting only
partitions that actually contain the ids.

The streaming rung is `streaming/joinview_job.py`; the oracle-backed
end-to-end query is ``q260_join_view_report``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localrel import local_rows_df
from .store import (
    _sized,
    BATCH_COL,
    COMPACTED_ID,
    _list_partitions,
    _valid_id,
    commit_batch_partition,
    read_store_excluding_batch,
)

BUCKET_COL = "__jv_bucket__"

# compaction protocol markers (module docstring, "Compaction"): the fold
# lands in a _-prefixed staging dir (invisible to every store read),
# a commit manifest makes the swap durable, and recovery replays the
# swap — so a crash anywhere leaves either the OLD partitions or the
# folded one visible, never both. The shared compact_store's
# write-first/delete-second window is fine for set-membership stores
# (duplicates are harmless there) but NOT here: a doubled old side
# would double every cross-batch pair in the next delta.
_FOLD_TMP = "_jv_fold_tmp_"
_FOLD_COMMIT = "_jv_fold_commit_"


@dataclass(frozen=True)
class JoinViewSpec:
    """Shape of the maintained join: ``left ⋈ right ON key``.

    ``left_id`` / ``right_id`` are per-side UNIQUE row identities (an
    order key, a customer key) — required so stored rows form a set and
    `compact_store`'s distinct() fold is lossless (module docstring).
    ``n_buckets > 0`` turns on key-bucketed side-store layout and
    bucket-pruned old-side reads; 0 keeps the flat layout."""

    key: str
    left_id: str
    right_id: str
    n_buckets: int = 0

    def __post_init__(self) -> None:
        if self.n_buckets < 0:
            raise ValueError("n_buckets must be >= 0")


def _side_path(root: str, side: str) -> str:
    return f"{root}/{side}"


def _check_delta(df: DataFrame, spec: JoinViewSpec, side: str) -> None:
    id_col = spec.left_id if side == "left" else spec.right_id
    for col in (spec.key, id_col):
        if col not in df.columns:
            raise ValueError(
                f"{side} delta is missing required column {col!r} "
                f"(has {df.columns})"
            )
    if BATCH_COL in df.columns or BUCKET_COL in df.columns:
        raise ValueError(
            f"{side} delta must not carry the reserved column "
            f"{BATCH_COL!r}/{BUCKET_COL!r}"
        )


def _reject_dup_ids(df: DataFrame, id_col: str, side: str) -> DataFrame:
    """Batch-unique ids make every store row unique (compaction safety —
    module docstring). One aggregate over the (persisted) delta."""
    dup = (
        df.groupBy(id_col)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"{side} delta repeats {id_col}={dup[0][0]!r} within the "
            "batch; per-side ids must be unique for the view store to "
            "stay compaction-safe (see incremental/joinview.py)"
        )
    return df


def _persist_count_dedup(
    df: DataFrame, id_col: str, side: str
) -> tuple[DataFrame, int]:
    """localCheckpoint + row count + the _reject_dup_ids guard in ONE
    Spark job (the eager checkpoint, the count and the dup probe were
    three separate actions; per-job overhead dominated the incremental
    drills at fixture scale). Same count, same error, same message."""
    df = df.localCheckpoint(eager=False)
    row = (
        df.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__c__"))
        .agg(
            F.coalesce(F.sum("__c__"), F.lit(0)).alias("n"),
            F.max("__c__").alias("maxc"),
            F.max(F.when(F.col("__c__") > 1, F.col(id_col))).alias("dup"),
        )
        .collect()[0]
    )
    if row["maxc"] is not None and row["maxc"] > 1:
        raise ValueError(
            f"{side} delta repeats {id_col}={row['dup']!r} within the "
            "batch; per-side ids must be unique for the view store to "
            "stay compaction-safe (see incremental/joinview.py)"
        )
    return df, int(row["n"])


def _commit_side(
    df: DataFrame,
    store: str,
    batch_id: str,
    spec: JoinViewSpec,
    rows: int | None = None,
) -> None:
    """Commit a side delta under its own batch partition; bucketed layout
    adds the key-hash directory level the pruned reads rely on. ``rows``
    (when the caller already counted the delta) sizes the write's file
    count to the data instead of the shuffle partitioning (store.py's
    ``_sized``)."""
    out = _sized(df, rows).withColumn(BATCH_COL, F.lit(_valid_id(batch_id)))
    parts = [BATCH_COL]
    if spec.n_buckets:
        out = out.withColumn(
            BUCKET_COL,
            F.pmod(F.xxhash64(F.col(spec.key)), F.lit(spec.n_buckets)).cast(
                "int"
            ),
        )
        parts.append(BUCKET_COL)
    (
        out.write.mode("overwrite")
        .partitionBy(*parts)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(store)
    )


def _old_side(
    spark: SparkSession,
    store: str,
    batch_id: str,
    spec: JoinViewSpec,
    probe: DataFrame | None,
) -> DataFrame | None:
    """The accumulated side minus the current batch, bucket-pruned to the
    probe delta's key buckets when the layout is bucketed.

    The bucket set comes off a distinct over the (small) delta —
    at most ``n_buckets`` ints ever reach the driver."""
    _recover_compaction(spark, store)
    if not spec.n_buckets:
        return read_store_excluding_batch(spark, store, batch_id)
    # bucketed layout: the surviving batch directories each contain
    # bucket=N subdirs, so they cannot be read as independent roots
    # (partition discovery flags conflicting structures); read them
    # under an explicit basePath instead. Batch exclusion STAYS
    # path-addressed — the discovered batch_id column is type-inferred
    # and untrustworthy for identity (store.py's lesson), so it is
    # dropped unread; only the bucket filter uses discovery, where the
    # VALUE never matters, just the directory-level pruning.
    listed = _list_partitions(spark, store)
    if listed is None:
        return None
    _, _, dirs = listed
    keep = [name for bid, name in dirs.items() if bid != batch_id]
    if not keep:
        return None
    old = spark.read.option("basePath", store).parquet(
        *[f"{store}/{name}" for name in sorted(keep)]
    )
    if probe is not None:
        # bucket pruning hashes the PROBE's key type; a delta whose key
        # arrives widened (int store, bigint delta) would probe
        # different buckets than the stored rows were committed under —
        # the miss is silent (unionByName widens), so it must be loud
        stored_t = old.schema[spec.key].dataType
        probe_t = probe.schema[spec.key].dataType
        if stored_t != probe_t:
            raise ValueError(
                f"key column {spec.key!r} arrives as "
                f"{probe_t.simpleString()} but the store holds "
                f"{stored_t.simpleString()}; bucket hashes would "
                "diverge — cast the delta to the stored type"
            )
        buckets = [
            r[0]
            for r in probe.select(
                F.pmod(
                    F.xxhash64(F.col(spec.key)), F.lit(spec.n_buckets)
                ).cast("int")
            )
            .distinct()
            .collect()
        ]
        # filter on the DISCOVERED partition column -> directory pruning
        old = old.filter(F.col(BUCKET_COL).isin(buckets))
    drop = [c for c in (BATCH_COL, BUCKET_COL) if c in old.columns]
    return old.drop(*drop)


def update_join_view(
    spark: SparkSession,
    root: str,
    batch_id: str,
    spec: JoinViewSpec,
    *,
    left_delta: DataFrame | None = None,
    right_delta: DataFrame | None = None,
) -> dict[str, int]:
    """Apply one batch of appends to the maintained view; returns
    ``{"left_rows", "right_rows", "view_delta_rows"}``.

    Either delta may be ``None``/empty (a one-sided batch). Non-key
    column names must be disjoint across sides — the view's schema is
    ``key, left columns, right columns`` and a silent collision would
    make one side's values unreadable."""
    batch_id = _valid_id(batch_id)
    if left_delta is None and right_delta is None:
        return {"left_rows": 0, "right_rows": 0, "view_delta_rows": 0}
    if left_delta is not None:
        _check_delta(left_delta, spec, "left")
    if right_delta is not None:
        _check_delta(right_delta, spec, "right")
    if left_delta is not None and right_delta is not None:
        overlap = (set(left_delta.columns) & set(right_delta.columns)) - {
            spec.key
        }
        if overlap:
            raise ValueError(
                f"non-key columns {sorted(overlap)} exist on both sides; "
                "rename before maintaining the view (the output would "
                "silently shadow one side)"
            )

    counts = {"left_rows": 0, "right_rows": 0, "view_delta_rows": 0}
    # persist the deltas: each feeds an id-uniqueness check, up to two
    # join terms, and its store commit — one materialization, not four
    # recomputations of the caller's lineage. The count and the dup-id
    # guard come out of ONE aggregate job over the lazily-materialized
    # checkpoint (was three actions per delta).
    if left_delta is not None:
        left_delta, counts["left_rows"] = _persist_count_dedup(
            left_delta, spec.left_id, "left"
        )
    if right_delta is not None:
        right_delta, counts["right_rows"] = _persist_count_dedup(
            right_delta, spec.right_id, "right"
        )

    left_store = _side_path(root, "left")
    right_store = _side_path(root, "right")
    view_store = _side_path(root, "view")
    for store in (left_store, right_store, view_store):
        _recover_compaction(spark, store)

    # each old side is only ever joined against the OTHER side's delta,
    # so when that delta is absent the store is not read at all
    a_old = (
        _old_side(spark, left_store, batch_id, spec, right_delta)
        if right_delta is not None
        else None
    )
    b_old = (
        _old_side(spark, right_store, batch_id, spec, left_delta)
        if left_delta is not None
        else None
    )

    # the batch-local overlap check above cannot see columns committed in
    # EARLIER batches of the opposite side — a one-sided 'val' batch
    # followed by an opposite-sided 'val' batch would otherwise fail deep
    # in the parquet write with an unactionable duplicate-column error
    for delta, old, which in (
        (left_delta, b_old, "left"),
        (right_delta, a_old, "right"),
    ):
        if delta is None or old is None:
            continue
        overlap = (set(delta.columns) & set(old.columns)) - {spec.key}
        if overlap:
            raise ValueError(
                f"non-key columns {sorted(overlap)} exist on both the "
                f"incoming {which} delta and the STORED opposite side; "
                "rename before maintaining the view"
            )

    deltas: list[DataFrame] = []
    if left_delta is not None:
        # ΔA ⋈ (B_old ∪ ΔB) — allowMissingColumns=False: schema drift
        # between the stored side and a new delta must fail loudly, not
        # null-fill
        b_all = b_old
        if right_delta is not None:
            b_all = (
                right_delta
                if b_all is None
                else b_all.unionByName(right_delta)
            )
        if b_all is not None:
            deltas.append(left_delta.join(b_all, on=spec.key, how="inner"))
    if right_delta is not None and a_old is not None:
        # A_old ⋈ ΔB
        deltas.append(a_old.join(right_delta, on=spec.key, how="inner"))

    if deltas:
        view_delta = deltas[0]
        for d in deltas[1:]:
            view_delta = view_delta.unionByName(d)
        # lazy checkpoint: the count materializes it (was two jobs)
        view_delta = view_delta.localCheckpoint(eager=False)
        counts["view_delta_rows"] = view_delta.count()
        # flat layout for the view store: its reads are whole-view
        _commit_plain(view_delta, view_store, batch_id, counts["view_delta_rows"])
    # side commits LAST: on any crash ordering the replay finds either
    # no trace of this batch or its own (excluded-on-read) partitions,
    # and recomputes the identical delta either way
    if left_delta is not None:
        _commit_side(left_delta, left_store, batch_id, spec, counts["left_rows"])
    if right_delta is not None:
        _commit_side(right_delta, right_store, batch_id, spec, counts["right_rows"])
    return counts


def _commit_plain(
    df: DataFrame, store: str, batch_id: str, rows: int | None = None
) -> None:
    # the shared store commit IS this discipline — one definition
    commit_batch_partition(df, store, batch_id, rows)


def _read_all(spark: SparkSession, store: str) -> DataFrame | None:
    """Every batch partition of a store (directory-addressed, like all
    store reads), or ``None`` when the store has no partitions yet."""
    _recover_compaction(spark, store)
    listed = _list_partitions(spark, store)
    if listed is None:
        return None
    _, _, dirs = listed
    if not dirs:
        return None
    # basePath so a bucketed side store's two-level directories parse;
    # the discovered (type-inferred) batch_id column is dropped — batch
    # identity is only ever taken from directory names (store.py)
    df = spark.read.option("basePath", store).parquet(
        *[f"{store}/{name}" for name in sorted(dirs.values())]
    )
    if BATCH_COL in df.columns:
        df = df.drop(BATCH_COL)
    return df


def read_join_view(spark: SparkSession, root: str) -> DataFrame | None:
    """The materialized view: union of every committed batch delta.
    Equals ``A_all ⋈ B_all`` after any prefix of updates (drill-pinned
    in `tests/test_join_view.py`). ``None`` -> no matches yet."""
    view = _read_all(spark, _side_path(root, "view"))
    if view is not None and BUCKET_COL in view.columns:
        view = view.drop(BUCKET_COL)
    return view


def read_join_view_delta(
    spark: SparkSession, root: str, batch_id: str
) -> DataFrame | None:
    """Exactly the view rows batch ``batch_id`` produced — the view's
    CHANGE FEED. Because the delta rule emits every joined pair exactly
    once, downstream incremental consumers (a rollup store, an index, a
    training-shard writer) can fold each batch's delta and never see a
    pair twice: the IVM cascade (drilled end-to-end by q264, which
    maintains a continuous aggregate OVER the maintained join).
    ``None`` when the batch produced no matches. Unavailable for batches
    already folded by compaction — consume deltas before folding them."""
    store = _side_path(root, "view")
    _recover_compaction(spark, store)
    listed = _list_partitions(spark, store)
    if listed is None:
        return None
    _, _, dirs = listed
    batch_id = _valid_id(batch_id)
    if batch_id not in dirs:
        return None
    df = spark.read.parquet(f"{store}/{dirs[batch_id]}")
    return df.drop(*[c for c in (BATCH_COL, BUCKET_COL) if c in df.columns])


def read_join_side(
    spark: SparkSession, root: str, side: str
) -> DataFrame | None:
    """Accumulated rows of one side (``"left"``/``"right"``) — the audit
    read; bucket column stripped so layout stays an implementation
    detail."""
    if side not in ("left", "right"):
        raise ValueError(f"side must be 'left' or 'right', got {side!r}")
    df = _read_all(spark, _side_path(root, side))
    if df is not None and BUCKET_COL in df.columns:
        df = df.drop(BUCKET_COL)
    return df


def compact_join_view(
    spark: SparkSession,
    root: str,
    spec: JoinViewSpec,
    exclude: tuple[str, ...] = (),
) -> dict[str, int]:
    """Fold every store's batch partitions into ``batch_id=__compacted__``
    — `incremental/store.py::compact_store`'s semantics (same hard
    precondition: ``exclude`` any batch that may replay), made
    bucket-aware for the side stores: a bucketed store folds per
    ``(batch, bucket)`` so the compacted partition keeps the directory
    level the pruned reads rely on (the shared compactor's flat fold
    would mix layouts and poison every later read with conflicting
    partition columns). Returns per-store removed-directory counts."""
    recover_pending_forgets(spark, root)
    out = {}
    for side in ("left", "right"):
        out[side] = _compact_store_safe(
            spark,
            _side_path(root, side),
            exclude,
            bucketed=bool(spec.n_buckets),
        )
    # the view store is always flat
    out["view"] = _compact_store_safe(
        spark, _side_path(root, "view"), exclude, bucketed=False
    )
    return out


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _recover_compaction(spark: SparkSession, store: str) -> None:
    """Finish (or roll back) a compaction interrupted by a crash — run
    before every store read/update/compact, so the swap protocol's only
    externally visible states are before-the-fold and after-it.

    A ``_jv_fold_tmp_<tok>`` WITHOUT its ``_jv_fold_commit_<tok>``
    crashed mid-fold: the originals are untouched, so the staging dir is
    simply deleted. A commit marker means the fold is complete and
    durable: re-execute the swap — delete the manifested originals,
    move the staged ``batch_id=__compacted__`` into place, clear the
    markers — every step idempotent."""
    from py4j.protocol import Py4JJavaError

    fs, jvm = _hadoop_fs(spark, store)
    root = jvm.org.apache.hadoop.fs.Path(store)
    try:
        statuses = fs.listStatus(root)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName().endswith(
            "FileNotFoundException"
        ):
            return
        raise
    names = {s.getPath().getName() for s in statuses}
    tmps = {n[len(_FOLD_TMP):] for n in names if n.startswith(_FOLD_TMP)}
    commits = set()
    for n in names:
        if not n.startswith(_FOLD_COMMIT):
            continue
        tok = n[len(_FOLD_COMMIT):]
        # torn-vs-complete decided on the manifest's OWN _SUCCESS (the
        # rollup sidecar lesson): a manifest dir without it crashed
        # mid-write and must be rolled back, not replayed
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{store}/{n}/_SUCCESS")
        ):
            commits.add(tok)
        else:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store}/{n}"), True)
    for tok in tmps - commits:
        # crashed before the commit point: originals stand, drop staging
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store}/{_FOLD_TMP}{tok}"), True)
    for tok in sorted(commits):
        _complete_fold(spark, store, tok)


def _complete_fold(spark: SparkSession, store: str, tok: str) -> None:
    fs, jvm = _hadoop_fs(spark, store)

    def _p(rel: str):
        return jvm.org.apache.hadoop.fs.Path(f"{store}/{rel}")

    # NOTE: this read logs "WARN DataSource: All paths were ignored"
    # because the manifest dir is _-prefixed (which is exactly what
    # hides it from store reads) — Spark warns but still reads an
    # EXPLICITLY-given path; verified empirically and pinned by the
    # crash-window drills. The warning is benign.
    manifest = [
        r.dir
        for r in spark.read.parquet(f"{store}/{_FOLD_COMMIT}{tok}").collect()
    ]
    compacted_dir = f"{BATCH_COL}={COMPACTED_ID}"
    # old __compacted__ (always in the manifest when it existed) goes
    # first so the rename target is free; then swap; then the rest
    if compacted_dir in manifest and fs.exists(_p(compacted_dir)):
        staged = _p(f"{_FOLD_TMP}{tok}/{compacted_dir}")
        if fs.exists(staged):  # not yet swapped -> old dir is pre-fold
            fs.delete(_p(compacted_dir), True)
    staged = _p(f"{_FOLD_TMP}{tok}/{compacted_dir}")
    if fs.exists(staged) and not fs.exists(_p(compacted_dir)):
        fs.rename(staged, _p(compacted_dir))
    for d in manifest:
        if d != compacted_dir and fs.exists(_p(d)):
            fs.delete(_p(d), True)
    fs.delete(_p(f"{_FOLD_TMP}{tok}"), True)
    fs.delete(_p(f"{_FOLD_COMMIT}{tok}"), True)


def _compact_store_safe(
    spark: SparkSession,
    store: str,
    exclude: tuple[str, ...],
    *,
    bucketed: bool,
    fold_fn=None,
    rank_col: str | None = None,
) -> int:
    """Fold with the staged-swap protocol (module comment at
    ``_FOLD_TMP``): stage the fold in a _-prefixed dir (store reads
    never see it), durably commit a manifest of the folded directories,
    then swap — crash anywhere and :func:`_recover_compaction` lands the
    store in exactly one of the two consistent states. Bucket-aware:
    a bucketed store folds per ``(batch, bucket)`` so the compacted
    partition keeps the directory level the pruned reads rely on.

    ``fold_fn`` customizes the fold (default: ``distinct()`` — the
    set-membership stores' semantics); it receives the foldable rows
    WITHOUT the batch column and must return the folded rows. With
    ``rank_col`` set, each foldable directory is read individually and
    tagged with its TRUSTED batch rank under that name (the compacted
    partition ranks ``""``, before every live id — the CDC op stores'
    resolution order; the type-inferred partition column would misorder
    "10" vs 9), and excluded batches must all sort after every foldable
    one so the fold cannot re-order op history."""
    import uuid

    _recover_compaction(spark, store)
    listed = _list_partitions(spark, store)
    if listed is None:
        return 0
    fs, jvm, dirs = listed
    if isinstance(exclude, str):
        raise TypeError(
            "exclude must be a sequence of batch ids, not a bare string; "
            f"pass exclude=({exclude!r},)"
        )
    excluded = {_valid_id(x) for x in exclude}
    foldable = sorted(set(dirs) - (excluded - {COMPACTED_ID}))
    if foldable in ([], [COMPACTED_ID]):
        return 0
    if rank_col is not None:
        live_folds = [b for b in foldable if b != COMPACTED_ID]
        misordered = [
            x
            for x in excluded & set(dirs)
            if x != COMPACTED_ID and any(x < b for b in live_folds)
        ]
        if misordered:
            raise ValueError(
                f"excluded batch(es) {sorted(misordered)} sort before a "
                "foldable batch; folding around them would misorder the "
                "op history (compacted ranks first) — exclude only the "
                "newest batches"
            )
        parts = []
        for bid in foldable:
            part = spark.read.parquet(f"{store}/{dirs[bid]}")
            parts.append(
                part.withColumn(
                    rank_col,
                    F.lit("" if bid == COMPACTED_ID else bid),
                )
            )
        rows = parts[0]
        for p in parts[1:]:
            rows = rows.unionByName(p)
    else:
        rows = (
            spark.read.option("basePath", store)
            .parquet(*[f"{store}/{dirs[bid]}" for bid in foldable])
            .drop(BATCH_COL)
        )
    if fold_fn is None:
        folded = rows.distinct()
    else:
        folded = fold_fn(rows)
    folded = folded.withColumn(BATCH_COL, F.lit(COMPACTED_ID))
    tok = uuid.uuid4().hex[:12]
    parts = [BATCH_COL, BUCKET_COL] if bucketed else [BATCH_COL]
    folded.write.mode("overwrite").partitionBy(*parts).parquet(
        f"{store}/{_FOLD_TMP}{tok}"
    )
    # the commit point: once this manifest exists the fold is the truth
    # (an Arrow local relation: createDataFrame(list)'s python-RDD write
    # costs ~4 s per fold at local[32] — functions/localrel.py)
    local_rows_df(
        spark, [(dirs[bid],) for bid in foldable], "dir string"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{store}/{_FOLD_COMMIT}{tok}"
    )
    _complete_fold(spark, store, tok)
    return sum(1 for bid in foldable if bid != COMPACTED_ID)


def forget_left_ids_from_join_view(
    spark: SparkSession,
    root: str,
    ids_df: DataFrame,
    spec: JoinViewSpec,
    *,
    audit_path: str | None = None,
) -> dict[str, int]:
    """GDPR-scoped erasure of left-side rows AND every view row they
    produced; returns per-store removed-row counts. Idempotent (a
    repeat finds nothing) and CRASH-RECOVERABLE end-to-end: the subject
    id set is durably persisted under the root before the first
    mutation, so a crash between the two erasures is replayed from the
    persisted copy by the next forget/compaction (or an explicit
    :func:`recover_pending_forgets`) — even when the caller's ids were
    derived from the store the crash half-erased and a retry would
    re-derive an empty set. The left store is erased first, so no
    future batch can rejoin against surviving source rows."""
    return _forget_side(
        spark, root, ids_df, spec, "left", audit_path=audit_path
    )


def forget_right_ids_from_join_view(
    spark: SparkSession,
    root: str,
    ids_df: DataFrame,
    spec: JoinViewSpec,
    *,
    audit_path: str | None = None,
) -> dict[str, int]:
    """Right-side twin of :func:`forget_left_ids_from_join_view`."""
    return _forget_side(
        spark, root, ids_df, spec, "right", audit_path=audit_path
    )


def _forget_side(
    spark: SparkSession,
    root: str,
    ids_df: DataFrame,
    spec: JoinViewSpec,
    side: str,
    *,
    audit_path: str | None,
) -> dict[str, int]:
    """Durable two-store erasure: finish any CRASHED forget first (its
    persisted id set is the only surviving record of the subject — the
    caller's ids typically derive from the store the crash half-erased,
    so a retry would re-derive an empty set and silently leave the view
    rows on disk), then persist THIS request's id set under the root,
    erase both stores from the persisted copy, and clear the intent
    only once both are clean."""
    from .forget import clear_forget_intent, persist_forget_intent

    id_col = spec.left_id if side == "left" else spec.right_id
    recover_pending_forgets(spark, root)
    persisted = persist_forget_intent(
        spark,
        root,
        ids_df,
        side=side,
        id_col=id_col,
        bucketed=bool(spec.n_buckets),
        audit_path=audit_path,
    )
    if persisted is None:
        return {f"{side}_rows_removed": 0, "view_rows_removed": 0}
    token, ids = persisted
    out = _erase_side(
        spark,
        root,
        ids,
        side=side,
        id_col=id_col,
        bucketed=bool(spec.n_buckets),
        audit_path=audit_path,
    )
    clear_forget_intent(spark, root, token)
    return out


def recover_pending_forgets(spark: SparkSession, root: str) -> dict[str, int]:
    """Replay every committed-but-uncleared forget intent under ``root``
    (erasures are idempotent, so replaying a COMPLETED-but-uncleared
    intent removes nothing further). Run automatically at the start of
    every forget and compaction; callers recovering a crashed job can
    also invoke it directly. Returns summed removal counts. Shared by
    the insert-only and CDC views — both store families have the same
    ``left/right/view`` layout under the root."""
    from .forget import clear_forget_intent, pending_forget_intents

    totals: dict[str, int] = {}
    for intent in pending_forget_intents(spark, root):
        ids = spark.read.parquet(intent["ids_path"])
        res = _erase_side(
            spark,
            root,
            ids,
            side=intent["side"],
            id_col=intent["id_col"],
            bucketed=intent["bucketed"],
            audit_path=intent["audit_path"],
        )
        for k, v in res.items():
            totals[k] = totals.get(k, 0) + v
        clear_forget_intent(spark, root, intent["token"])
    return totals


def _erase_side(
    spark: SparkSession,
    root: str,
    ids: DataFrame,
    *,
    side: str,
    id_col: str,
    bucketed: bool,
    audit_path: str | None,
) -> dict[str, int]:
    from .forget import forget_matching_from_store

    store = _side_path(root, side)
    _recover_compaction(spark, store)
    _recover_compaction(spark, _side_path(root, "view"))
    # side store first: once the source rows are gone no future batch
    # can emit new view rows for these ids, so the view erasure can
    # never be outrun
    if bucketed:
        # the shared forget rewrites a partition FLAT — on a bucketed
        # store that would mix one-level and two-level layouts and brick
        # every later read with conflicting partition columns
        side_removed = _forget_bucketed(
            spark, store, ids, id_col, audit_path=audit_path
        )
    else:
        side_removed = forget_matching_from_store(
            spark, store, ids, id_col=id_col, audit_path=audit_path
        )
    view_removed = forget_matching_from_store(
        spark,
        _side_path(root, "view"),
        ids,
        id_col=id_col,
        audit_path=audit_path,
    )
    return {
        f"{side}_rows_removed": sum(side_removed.values()),
        "view_rows_removed": sum(view_removed.values()),
    }


def _forget_bucketed(
    spark: SparkSession,
    store: str,
    ids_df: DataFrame,
    id_col: str,
    *,
    audit_path: str | None,
) -> dict[str, int]:
    """forget's partition-rewrite discipline over the two-level
    ``batch/bucket`` layout: only batch partitions that actually contain
    the ids are touched; within them only the buckets with hits are
    rewritten (dynamic overwrite), and a bucket left empty is deleted
    outright. Idempotent — a re-run finds no hits."""
    listed = _list_partitions(spark, store)
    if listed is None:
        return {}
    fs, jvm, dirs = listed
    ids = (
        ids_df.select(F.col(ids_df.columns[0]).alias(id_col))
        if id_col not in ids_df.columns and len(ids_df.columns) == 1
        else ids_df.select(id_col)
    ).distinct().localCheckpoint()
    removed: dict[str, int] = {}
    for bid in sorted(dirs):
        part = spark.read.option("basePath", store).parquet(
            f"{store}/{dirs[bid]}"
        )
        matched = part.join(ids, id_col, "left_semi").localCheckpoint()
        hits = matched.count()
        if hits == 0:
            continue
        kept = part.join(ids, id_col, "left_anti").localCheckpoint()
        if kept.count() == 0:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{store}/{dirs[bid]}"), True
            )
        else:
            affected = {
                r[0]
                for r in matched.select(BUCKET_COL).distinct().collect()
            }
            surviving = {
                r[0] for r in kept.select(BUCKET_COL).distinct().collect()
            }
            rewrite = kept.filter(
                F.col(BUCKET_COL).isin([b for b in affected & surviving])
            )
            if affected & surviving:
                (
                    rewrite.drop(BATCH_COL)
                    .withColumn(BATCH_COL, F.lit(_valid_id(bid)))
                    .write.mode("overwrite")
                    .partitionBy(BATCH_COL, BUCKET_COL)
                    .option("partitionOverwriteMode", "dynamic")
                    .parquet(store)
                )
            for b in affected - surviving:  # fully-erased buckets
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(
                        f"{store}/{dirs[bid]}/{BUCKET_COL}={b}"
                    ),
                    True,
                )
        removed[bid] = int(hits)
    if audit_path is not None:
        from .audit import record_audit

        record_audit(
            spark,
            audit_path,
            "forget_bucketed_join_side",
            sum(removed.values()),
            f"store={store} partitions={sorted(removed)}",
        )
    return removed
