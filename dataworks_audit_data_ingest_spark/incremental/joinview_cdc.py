"""CDC-maintained equi-join view — `incremental/joinview.py` extended
from insert-only appends to full change-data-capture feeds: per batch,
each side may carry UPSERTS (insert-or-replace by the side's primary
key) and DELETES, and the materialized ``A ⋈ B`` stays correct with
O(Δ)-sized join work per batch.

Representation: the view store is a **z-set** (DBSP / Differential
Dataflow's multiset-with-signs; Budiu et al., VLDB 2023) over
batch-partitioned parquet — every batch commits ``+1`` rows for newly
joined pairs and ``-1`` RETRACTION rows for pairs whose contributing
version was deleted or replaced. The live view is the net-positive rows
(merge-on-read, like the rollup store's additive partials); compaction
folds the net so the store never grows past the live view plus the
un-folded tail.

Delta rule (extends Blakeley et al. 1986 to deletes; R = retracted
(key, id) version pairs = upserted ∪ deleted this batch):

    ΔV⁺ =  U_A ⋈ ((B_cur ∖ R_B) ∪ U_B)   ∪   (A_cur ∖ R_A) ⋈ U_B
    ΔV⁻ =  (A_cur ⋉ R_A) ⋈ B_cur         ∪   (A_cur ∖ R_A) ⋈ (B_cur ⋉ R_B)

Every pair is inserted exactly once and retracted exactly once per
lifetime (algebraic check in `tests/test_join_view_cdc.py`'s
invariant drill: view-after == A-after ⋈ B-after at every batch).
Retractions are derived from the SIDE stores, not by scanning the view:
both ΔV⁻ terms read only bucket-pruned current-side rows, so the view
store is write-only during updates — the per-batch cost is O(Δ join
partners), never O(|view|).

Side stores are OP LOGS: each batch partition holds the batch's upsert
rows plus ``(key, id)`` tombstones, tagged by ``__cdc_op__``; the
current side is resolved per ``(key, id)`` — latest batch wins, a
tombstone means absent. Batch ids must therefore be lexicographically
MONOTONE (zero-padded sequence numbers, ISO dates — the runner's day
discipline); `update_join_view_cdc` validates this and the compacted
partition sorts before everything.

Key-change updates: ops are scoped to ``(key, id)`` so each key bucket
sees a self-consistent history. An upsert that MOVES an id to a new
join key must be fed as ``delete(old key, id)`` + ``upsert(new key,
id)`` in the same batch (the CDC idiom — a real change feed carries the
old row image); a bare upsert under a new key would strand the old
version in its bucket. :func:`verify_cdc_side` is the full-scan audit
for that contract (per id, at most one live version).

Replay contract is the shared one (`incremental/store.py`): every write
lands in the batch's OWN partitions via dynamic overwrite, every read
excludes the current batch, so any crash ordering replays to an
identical state — drilled for every crash window. GDPR erasure
(:func:`forget_left_ids_from_cdc_view`) physically removes an id's
rows — op log, tombstones, and both signs of its view rows — which a
tombstone alone never does.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .joinview import (
    BUCKET_COL,
    JoinViewSpec,
    commit_side,
    forget_side,
    recover_pending_forgets,
    side_path,
)
from .store import (
    BATCH_COL,
    COMPACTED_ID,
    _list_partitions,
    _valid_id,
    commit_batch_partition,
    compact_store,
)

OP_COL = "__cdc_op__"
DIFF_COL = "__diff__"
_RANK_COL = "__cdc_rank__"

logger = logging.getLogger(__name__)

# `_ops_current` reads every surviving batch directory as its own scan
# and resolves across all of them, so per-batch maintenance cost (file
# listings, plan size, window input) grows LINEARLY in un-compacted
# history — regular `compact_join_view_cdc` calls are an operational
# requirement for long-running streams (the streaming rung's
# `compact_every` automates it). Past this many live partitions the
# module warns once per update rather than degrading silently.
_COMPACTION_NAG_PARTITIONS = 64


def _check_cols(df: DataFrame, cols: list[str], what: str) -> None:
    for c in cols:
        if c not in df.columns:
            raise ValueError(
                f"{what} is missing required column {c!r} (has {df.columns})"
            )
    for reserved in (BATCH_COL, BUCKET_COL, OP_COL, DIFF_COL, _RANK_COL):
        if reserved in df.columns:
            raise ValueError(
                f"{what} must not carry the reserved column {reserved!r}"
            )


def _reject_nulls(df: DataFrame, cols: list[str], what: str) -> None:
    cond = None
    for c in cols:
        n = F.col(c).isNull()
        cond = n if cond is None else cond | n
    if df.filter(cond).limit(1).collect():
        raise ValueError(
            f"{what} contains NULL in {cols}; keys and ids must be non-null "
            "(an inner join can never match a NULL key, and a NULL id can "
            "never be upserted over or deleted)"
        )


def _persist_checked_feed(
    df: DataFrame,
    req_cols: list[str],
    group_cols: list[str],
    what: str,
    *,
    dup_msg: str | None = None,
) -> tuple[DataFrame, int, object]:
    """localCheckpoint + the per-feed guards in ONE Spark job.

    The previous shape ran four actions per feed (eager checkpoint,
    count, NULL probe, duplicate probe); at fixture scale the per-job
    overhead dominated the CDC drills (guide §1.2: remove passes). This
    computes row count, NULL violations over ``req_cols``, and duplicate
    ``group_cols`` detection from one two-stage aggregate over the
    lazily-materialized checkpoint — identical errors, identical counts,
    one job. ``dup_msg`` enables the duplicate guard ({} formatted with
    an offending group value when available)."""
    df = df.localCheckpoint(eager=False)
    nul = None
    for c in req_cols:
        n = F.col(c).isNull()
        nul = n if nul is None else nul | n
    if dup_msg is None:
        # the duplicate guard cannot fire: a single partial+final global
        # aggregate suffices — no per-group exchange
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(nul.cast("int")), F.lit(0)).alias("n_nul"),
        ).collect()[0]
        if row["n_nul"] > 0:
            raise ValueError(
                f"{what} contains NULL in {req_cols}; keys and ids must "
                "be non-null (an inner join can never match a NULL key, "
                "and a NULL id can never be upserted over or deleted)"
            )
        return df, int(row["n"]), None
    per = (
        df.select(*group_cols, nul.cast("int").alias("__nul__"))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("__c__"),
            F.sum("__nul__").alias("__n_nul__"),
        )
    )
    row = per.agg(
        F.coalesce(F.sum("__c__"), F.lit(0)).alias("n"),
        F.coalesce(F.sum("__n_nul__"), F.lit(0)).alias("n_nul"),
        F.max("__c__").alias("maxc"),
        F.max(F.when(F.col("__c__") > 1, F.col(group_cols[0]))).alias("dup0"),
    ).collect()[0]
    if row["n_nul"] > 0:
        # exact _reject_nulls message
        raise ValueError(
            f"{what} contains NULL in {req_cols}; keys and ids must be "
            "non-null (an inner join can never match a NULL key, and a "
            "NULL id can never be upserted over or deleted)"
        )
    if dup_msg is not None and row["maxc"] is not None and row["maxc"] > 1:
        raise ValueError(dup_msg.format(row["dup0"]))
    return df, int(row["n"]), row["dup0"]


def _rank_of(bid: str) -> str:
    # the compacted partition is the FOLDED PREFIX of the batch history,
    # so it must sort before every live batch id; "" does, for any
    # non-empty id (_valid_id rejects empty)
    return "" if bid == COMPACTED_ID else bid


def _validate_monotone(
    spark: SparkSession, root: str, batch_id: str
) -> None:
    """CDC resolution orders ops by batch id, so ids must arrive in
    lexicographic order; only the newest batch may repeat (replay)."""
    for side in ("left", "right", "view"):
        listed = _list_partitions(spark, side_path(root, side))
        if listed is None:
            continue
        _, _, dirs = listed
        newer = [b for b in dirs if b != COMPACTED_ID and b > batch_id]
        if newer:
            raise ValueError(
                f"batch_id {batch_id!r} sorts before existing batch(es) "
                f"{sorted(newer)[:3]} in {side!r}; CDC batch ids must be "
                "lexicographically monotone (zero-pad sequence numbers)"
            )


def _ops_current(
    spark: SparkSession,
    store: str,
    batch_id: str,
    spec: JoinViewSpec,
    id_col: str,
    probe: DataFrame | None,
    any_op: bool = False,
    buckets: list[int] | None = None,
) -> DataFrame | None:
    """Resolved CURRENT rows of one side as of before ``batch_id``:
    per ``(key, id)``, the latest op wins and a tombstone means absent.

    Reads each surviving batch directory individually so the resolution
    rank is the TRUSTED directory name (the type-inferred partition
    column misorders "10" vs 9 — store.py's identity lesson), with the
    bucket filter applied per directory for file-level pruning when the
    layout is bucketed and a probe delta is given."""
    listed = _list_partitions(spark, store)
    if listed is None:
        return None
    _, _, dirs = listed
    keep = {bid: name for bid, name in dirs.items() if bid != batch_id}
    if not keep:
        return None
    if len(keep) > _COMPACTION_NAG_PARTITIONS:
        logger.warning(
            "CDC store %s holds %d live batch partitions — per-batch "
            "maintenance cost grows linearly in un-compacted history; "
            "run compact_join_view_cdc (or set the streaming rung's "
            "compact_every)",
            store,
            len(keep),
        )
    if buckets is None and spec.n_buckets and probe is not None:
        # callers updating both sides pass a precomputed bucket set so the
        # probe's hash-distinct runs once per batch, not once per side
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
    probe_t = (
        probe.schema[spec.key].dataType
        if (buckets is not None and probe is not None)
        else None
    )
    parts = []
    for bid in sorted(keep):
        df = spark.read.parquet(f"{store}/{keep[bid]}")
        if buckets is not None and BUCKET_COL in df.columns:
            # bucket pruning hashes the PROBE's key type; a feed whose
            # key arrives widened (int store, bigint batch) would probe
            # DIFFERENT buckets than the rows were committed under —
            # unionByName widens silently, so the miss would be silent
            # z-set corruption (stale versions surviving retraction)
            if probe_t is not None:
                stored_t = df.schema[spec.key].dataType
                if stored_t != probe_t:
                    raise ValueError(
                        f"key column {spec.key!r} arrives as "
                        f"{probe_t.simpleString()} but the store holds "
                        f"{stored_t.simpleString()}; bucket hashes would "
                        "diverge — cast the feed to the stored type"
                    )
            df = df.filter(F.col(BUCKET_COL).isin(buckets))
        parts.append(df.withColumn(_RANK_COL, F.lit(_rank_of(bid))))
    ops = parts[0]
    for p in parts[1:]:
        ops = ops.unionByName(p)
    from pyspark.sql.window import Window

    w = Window.partitionBy(spec.key, id_col).orderBy(F.col(_RANK_COL).desc())
    cur = ops.withColumn("__rn__", F.row_number().over(w)).filter(
        F.col("__rn__") == 1
    )
    if not any_op:
        # the CURRENT side: a latest-op tombstone means absent. The
        # any_op=True variant keeps tombstones — the seq watermark must
        # compare an incoming op against the latest op of ANY kind, or
        # a stale re-insert after a delete would slip past validation.
        cur = cur.filter(F.col(OP_COL) == "u")
    drop = [_RANK_COL, "__rn__"] + ([] if any_op else [OP_COL])
    if BUCKET_COL in cur.columns:
        drop.append(BUCKET_COL)
    return cur.drop(*drop)


def _pair_cols(key: str, id_col: str) -> list[str]:
    """The ``(key, id)`` column list, collapsed when the join key IS the
    side's id (a dimension keyed by its primary key, like q260's
    customer side) — a duplicated name would break selects and joins."""
    return [key] if key == id_col else [key, id_col]


def _as_pairs(
    dfs: list[DataFrame | None], key: str, id_col: str
) -> DataFrame | None:
    """Distinct retracted ``(key, id)`` version pairs of one side."""
    cols = _pair_cols(key, id_col)
    parts = [d.select(*cols) for d in dfs if d is not None]
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def _null_fill_deletes(
    deletes: DataFrame,
    template: DataFrame,
    spec: JoinViewSpec,
    id_col: str,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Tombstone rows in the op store's full schema: key + id from the
    delete feed, every other column a typed NULL (only identity matters
    for a tombstone; uniform schema keeps the partition union loud on
    genuine drift). ``keep`` names extra delete-feed columns carried
    into the tombstone — the seq watermark rides there: a tombstone
    must remember WHEN it deleted, or a stale re-insert arriving after
    it could not be rejected."""
    cols = []
    for f in template.schema.fields:
        if f.name in (spec.key, id_col) or f.name in keep:
            cols.append(F.col(f.name))
        elif f.name == OP_COL:
            continue
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return deletes.select(*cols)


def update_join_view_cdc(
    spark: SparkSession,
    root: str,
    batch_id: str,
    spec: JoinViewSpec,
    *,
    left_upserts: DataFrame | None = None,
    left_deletes: DataFrame | None = None,
    right_upserts: DataFrame | None = None,
    right_deletes: DataFrame | None = None,
    seq_col: str | None = None,
) -> dict[str, int]:
    """Apply one CDC batch to the maintained view. Upserts carry full
    rows (insert-or-replace by the side's id); deletes must carry the
    ``(key, id)`` of the version being removed — the old row image every
    real change feed ships. Returns per-feed row counts plus the view
    delta's insert/retraction counts.

    ``seq_col`` names a monotone per-entity sequence (an LSN) carried
    by EVERY op on both sides; the engine then ENFORCES cross-batch
    commit order per ``(key, id)``: an op whose seq is ≤ the stored
    latest op's seq (tombstones included — a tombstone remembers when
    it deleted) fails the batch loudly instead of silently resurrecting
    or stranding a version. The seq rides in the op log as watermark
    metadata and never reaches the view rows. All-or-nothing per store:
    a store born with seq tracking must always be updated with it, and
    a store born without cannot adopt it mid-stream (the op-log
    partition schemas must union)."""
    batch_id = _valid_id(batch_id)
    feeds = {
        "left": (left_upserts, left_deletes, spec.left_id),
        "right": (right_upserts, right_deletes, spec.right_id),
    }
    if all(u is None and d is None for u, d, _ in feeds.values()):
        return {
            "left_upserts": 0,
            "left_deletes": 0,
            "right_upserts": 0,
            "right_deletes": 0,
            "view_inserts": 0,
            "view_retractions": 0,
        }
    _validate_monotone(spark, root, batch_id)

    counts: dict[str, int] = {}
    checked: dict[str, tuple[DataFrame | None, DataFrame | None]] = {}
    seq_req = [seq_col] if seq_col is not None else []

    def _check_side(
        side: str,
    ) -> tuple[DataFrame | None, DataFrame | None, dict[str, int]]:
        ups, dels, id_col = feeds[side]
        side_counts: dict[str, int] = {}
        if ups is not None:
            _check_cols(ups, [spec.key, id_col, *seq_req], f"{side} upserts")
            # checkpoint + count + NULL guard + dup-id guard: ONE job
            # (message text matches _reject_nulls and joinview's dup-id guard)
            ups, side_counts[f"{side}_upserts"], _ = _persist_checked_feed(
                ups,
                [spec.key, id_col, *seq_req],
                [id_col],
                f"{side} upserts",
                dup_msg=(
                    f"{side} delta repeats {id_col}={{0!r}} within the "
                    "batch; per-side ids must be unique for the view "
                    "store to stay compaction-safe (see "
                    "incremental/joinview.py)"
                ),
            )
        else:
            side_counts[f"{side}_upserts"] = 0
        if dels is not None:
            _check_cols(dels, [spec.key, id_col, *seq_req], f"{side} deletes")
            dels = dels.select(
                *_pair_cols(spec.key, id_col), *seq_req
            ).distinct()
            # distinct() is over (pair, seq): the same version deleted
            # twice under different seqs is an ordering ambiguity, not a
            # no-op — the duplicate-pair guard below catches it (without
            # seq the distinct makes pairs unique, so it can never fire)
            dels, side_counts[f"{side}_deletes"], _ = _persist_checked_feed(
                dels,
                [spec.key, id_col, *seq_req],
                _pair_cols(spec.key, id_col),
                f"{side} deletes",
                dup_msg=(
                    f"{side} batch deletes the same ({spec.key}, "
                    f"{id_col}) version under two different "
                    f"{seq_col} values — ambiguous feed"
                )
                if seq_col is not None
                else None,
            )
        else:
            side_counts[f"{side}_deletes"] = 0
        if ups is not None and dels is not None:
            clash = ups.join(
                dels, on=_pair_cols(spec.key, id_col), how="left_semi"
            )
            if clash.limit(1).collect():
                raise ValueError(
                    f"{side} batch upserts AND deletes the same "
                    f"({spec.key}, {id_col}) version — ambiguous: without"
                    " an order this is either a same-key UPDATE (the"
                    " Debezium delete(old image)+insert(new image)"
                    " encoding — map those to bare upserts, or feed"
                    " through start_cdc_join_view_stream(seq_col=...)"
                    " which resolves ordered pairs) or an"
                    " insert-then-delete whose net is ABSENT. A"
                    " key-moving update is delete(old key) + upsert(new"
                    " key), which IS allowed in one batch"
                )
        return ups, dels, side_counts

    # the two sides' guard jobs are independent — overlap them (guide
    # §2.6); results land in `checked`/`counts` in a fixed order so
    # error precedence (left first) matches the former sequential loop
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        for side, res in zip(
            ("left", "right"),
            pool.map(_check_side, ("left", "right")),
        ):
            ups, dels, side_counts = res
            checked[side] = (ups, dels)
            counts.update(side_counts)
    left_upserts, left_deletes = checked["left"]
    right_upserts, right_deletes = checked["right"]

    shared_ok = {spec.key} | set(seq_req)
    if left_upserts is not None and right_upserts is not None:
        overlap = (
            set(left_upserts.columns) & set(right_upserts.columns)
        ) - shared_ok
        if overlap:
            raise ValueError(
                f"non-key columns {sorted(overlap)} exist on both sides; "
                "rename before maintaining the view"
            )

    left_store = side_path(root, "left")
    right_store = side_path(root, "right")
    view_store = side_path(root, "view")

    # one probe set per opposite store: every key this batch touches —
    # the union bounds every pruned read below (module delta rule)
    def _keys(*dfs: DataFrame | None) -> DataFrame | None:
        parts = [d.select(spec.key) for d in dfs if d is not None]
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    probe = _keys(left_upserts, left_deletes, right_upserts, right_deletes)

    # one bucket-set computation for the shared probe (both _ops_current
    # calls previously re-ran the hash-distinct collect)
    probe_buckets = None
    if spec.n_buckets and probe is not None:
        probe_buckets = [
            r[0]
            for r in probe.select(
                F.pmod(
                    F.xxhash64(F.col(spec.key)), F.lit(spec.n_buckets)
                ).cast("int")
            )
            .distinct()
            .collect()
        ]

    # with seq tracking the same pruned read serves both the watermark
    # validation (latest op of ANY kind, tombstones included) and the
    # current side (its op=='u' restriction) — one store scan, not two
    a_latest = _ops_current(
        spark, left_store, batch_id, spec, spec.left_id, probe,
        any_op=seq_col is not None, buckets=probe_buckets,
    )
    b_latest = _ops_current(
        spark, right_store, batch_id, spec, spec.right_id, probe,
        any_op=seq_col is not None, buckets=probe_buckets,
    )
    # lazy checkpoints: the first consuming job materializes them once;
    # an eager checkpoint here was a dedicated extra job per side
    if a_latest is not None:
        a_latest = a_latest.localCheckpoint(eager=False)
    if b_latest is not None:
        b_latest = b_latest.localCheckpoint(eager=False)
    if seq_col is None:
        a_cur, b_cur = a_latest, b_latest
    else:
        for which, latest in (("left", a_latest), ("right", b_latest)):
            if latest is not None and seq_col not in latest.columns:
                raise ValueError(
                    f"the {which} op log was written WITHOUT {seq_col!r}"
                    " — seq tracking is all-or-nothing per store (the"
                    " partition schemas must union); rebuild or compact-"
                    "migrate the store to adopt it"
                )
        a_cur = (
            a_latest.filter(F.col(OP_COL) == "u").drop(OP_COL)
            if a_latest is not None
            else None
        )
        b_cur = (
            b_latest.filter(F.col(OP_COL) == "u").drop(OP_COL)
            if b_latest is not None
            else None
        )
        # the watermark: every incoming op must advance its version's
        # seq past the stored latest op — tombstones included, or a
        # stale re-insert arriving after its delete would resurrect
        for side, latest, ups, dels, id_col in (
            ("left", a_latest, left_upserts, left_deletes, spec.left_id),
            ("right", b_latest, right_upserts, right_deletes, spec.right_id),
        ):
            if latest is None:
                continue
            pcols = _pair_cols(spec.key, id_col)
            parts = [
                d.select(*pcols, seq_col)
                for d in (ups, dels)
                if d is not None
            ]
            if not parts:
                continue
            incoming = parts[0]
            for p in parts[1:]:
                incoming = incoming.unionByName(p)
            stored = latest.filter(F.col(seq_col).isNotNull()).select(
                *pcols, F.col(seq_col).alias("__stored_seq__")
            )
            bad = (
                incoming.join(stored, on=pcols, how="inner")
                .filter(F.col(seq_col) <= F.col("__stored_seq__"))
                .limit(1)
                .collect()
            )
            if bad:
                r = bad[0]
                raise ValueError(
                    f"{side} op arrives OUT OF ORDER: ({spec.key}="
                    f"{r[spec.key]!r}, {id_col}={r[id_col]!r}) carries "
                    f"{seq_col}={r[seq_col]!r} but the op log already "
                    f"holds {seq_col}={r['__stored_seq__']!r} for that "
                    "version — the feed reordered across batches; CDC "
                    "ops must arrive in per-entity commit order"
                )

    # the batch-local overlap check above cannot see columns committed
    # in EARLIER batches of the opposite side (the insert-only view's
    # lesson): a one-sided 'val' batch against a stored opposite 'val'
    # would otherwise die deep in the parquet write with an
    # unactionable duplicate-column error
    for ups, opp, which in (
        (left_upserts, b_cur, "left"),
        (right_upserts, a_cur, "right"),
    ):
        if ups is None or opp is None:
            continue
        overlap = (set(ups.columns) & set(opp.columns)) - shared_ok
        if overlap:
            raise ValueError(
                f"non-key columns {sorted(overlap)} exist on both the "
                f"incoming {which} upserts and the STORED opposite side; "
                "rename before maintaining the view"
            )

    # the seq watermark is op-log metadata: it must not reach the view
    # rows (both sides carry it under ONE name — a joined row would
    # collide), so every delta-math input sheds it here; the COMMIT
    # section below uses the *_store variants that keep it
    left_ups_store, right_ups_store = left_upserts, right_upserts
    left_dels_store, right_dels_store = left_deletes, right_deletes
    if seq_col is not None:

        def _shed(df: DataFrame | None) -> DataFrame | None:
            return df.drop(seq_col) if df is not None else None

        left_upserts = _shed(left_upserts)
        right_upserts = _shed(right_upserts)
        left_deletes = _shed(left_deletes)
        right_deletes = _shed(right_deletes)
        a_cur = _shed(a_cur)
        b_cur = _shed(b_cur)

    r_a = _as_pairs([left_upserts, left_deletes], spec.key, spec.left_id)
    r_b = _as_pairs([right_upserts, right_deletes], spec.key, spec.right_id)

    def _minus(cur: DataFrame | None, pairs, key, id_col):
        if cur is None:
            return None
        if pairs is None:
            return cur
        return cur.join(
            F.broadcast(pairs), on=_pair_cols(key, id_col), how="left_anti"
        )

    def _hit(cur: DataFrame | None, pairs, key, id_col):
        if cur is None or pairs is None:
            return None
        return cur.join(
            F.broadcast(pairs), on=_pair_cols(key, id_col), how="left_semi"
        )

    a_live = _minus(a_cur, r_a, spec.key, spec.left_id)   # A_cur ∖ R_A
    a_gone = _hit(a_cur, r_a, spec.key, spec.left_id)     # A_cur ⋉ R_A
    b_live = _minus(b_cur, r_b, spec.key, spec.right_id)  # B_cur ∖ R_B
    b_gone = _hit(b_cur, r_b, spec.key, spec.right_id)    # B_cur ⋉ R_B

    deltas: list[DataFrame] = []

    def _join(l, r, diff: int):  # noqa: E741
        if l is None or r is None:
            return
        deltas.append(
            l.join(r, on=spec.key, how="inner").withColumn(
                DIFF_COL, F.lit(diff)
            )
        )

    # ΔV⁺: U_A ⋈ ((B_cur ∖ R_B) ∪ U_B)  ∪  (A_cur ∖ R_A) ⋈ U_B
    b_new = b_live
    if right_upserts is not None:
        b_new = (
            right_upserts
            if b_new is None
            else b_new.unionByName(right_upserts)
        )
    _join(left_upserts, b_new, +1)
    _join(a_live, right_upserts, +1)
    # ΔV⁻: (A_cur ⋉ R_A) ⋈ B_cur  ∪  (A_cur ∖ R_A) ⋈ (B_cur ⋉ R_B)
    _join(a_gone, b_cur, -1)
    _join(a_live, b_gone, -1)

    counts["view_inserts"] = 0
    counts["view_retractions"] = 0
    if deltas:
        view_delta = deltas[0]
        for d in deltas[1:]:
            view_delta = view_delta.unionByName(d)
        view_delta = view_delta.localCheckpoint(eager=False)
        # both signed counts in one job (was checkpoint + two counts)
        stats = view_delta.agg(
            F.coalesce(
                F.sum(F.when(F.col(DIFF_COL) > 0, 1).otherwise(0)), F.lit(0)
            ).alias("ins"),
            F.coalesce(
                F.sum(F.when(F.col(DIFF_COL) < 0, 1).otherwise(0)), F.lit(0)
            ).alias("ret"),
        ).collect()[0]
        counts["view_inserts"] = int(stats["ins"])
        counts["view_retractions"] = int(stats["ret"])
        commit_batch_partition(
            view_delta,
            view_store,
            batch_id,
            counts["view_inserts"] + counts["view_retractions"],
        )

    # side op-log commits LAST (the insert-only store's crash argument:
    # a replay recomputes the identical delta against identical old
    # sides whichever subset of commits survived); the *_store variants
    # keep the seq watermark the delta math shed. The two sides write to
    # disjoint directories — overlap them (guide §2.6); the crash
    # argument is order-free across the two commits (any surviving
    # subset replays identically), only view-before-sides matters.
    def _commit_one_side(args) -> None:
        side, store, ups, dels, id_col = args
        ops = None
        if ups is not None:
            ops = ups.withColumn(OP_COL, F.lit("u"))
        if dels is not None:
            template = ups
            if template is None:
                listed = _list_partitions(spark, store)
                if listed is not None and listed[2]:
                    _, _, dirs = listed
                    any_dir = sorted(dirs.values())[0]
                    template = spark.read.parquet(f"{store}/{any_dir}")
                    drop = [
                        c
                        for c in (BATCH_COL, BUCKET_COL, OP_COL)
                        if c in template.columns
                    ]
                    template = template.drop(*drop)
            if template is None:
                # no store and no upserts: these ids were never inserted,
                # so the tombstones can never apply — recording nothing
                # is replay-identical and keeps the op schema anchored to
                # real data
                pass
            else:
                tomb = _null_fill_deletes(
                    dels, template, spec, id_col, keep=tuple(seq_req)
                )
                tomb = tomb.withColumn(OP_COL, F.lit("d"))
                ops = tomb if ops is None else ops.unionByName(tomb)
        if ops is not None:
            commit_side(
                ops,
                store,
                batch_id,
                spec,
                counts[f"{side}_upserts"] + counts[f"{side}_deletes"],
            )

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(
            pool.map(
                _commit_one_side,
                (
                    (
                        "left",
                        left_store,
                        left_ups_store,
                        left_dels_store,
                        spec.left_id,
                    ),
                    (
                        "right",
                        right_store,
                        right_ups_store,
                        right_dels_store,
                        spec.right_id,
                    ),
                ),
            )
        )
    return counts


def read_join_view_cdc(spark: SparkSession, root: str) -> DataFrame | None:
    """The live view: net-positive z-set rows (merge-on-read). Equals
    ``current_A ⋈ current_B`` after any prefix of CDC batches
    (invariant-drilled). ``None`` -> nothing committed yet."""
    store = side_path(root, "view")
    listed = _list_partitions(spark, store)
    if listed is None:
        return None
    _, _, dirs = listed
    if not dirs:
        return None
    df = spark.read.parquet(*[f"{store}/{n}" for n in sorted(dirs.values())])
    if BATCH_COL in df.columns:
        df = df.drop(BATCH_COL)
    content = [c for c in df.columns if c != DIFF_COL]
    return (
        df.groupBy(*content)
        .agg(F.sum(DIFF_COL).alias("__net__"))
        .filter(F.col("__net__") > 0)
        .drop("__net__")
    )


def read_join_view_cdc_delta(
    spark: SparkSession, root: str, batch_id: str
) -> DataFrame | None:
    """One batch's SIGNED change feed (``__diff__`` = +1 inserts, -1
    retractions) — what a downstream incremental consumer folds. An
    ADDITIVE consumer (counts, sums: contribution × diff) stays exact
    under deletes by construction (drill-pinned in
    `tests/test_join_view_cdc.py::test_signed_feed_folds_additively`);
    non-retractable aggregates (min/max, a distinct-user grain) cannot
    subtract a retraction and need recompute-on-retract or the net view
    read instead. ``None`` when the batch produced no view change.
    Unavailable once folded by compaction — consume deltas before
    folding them."""
    store = side_path(root, "view")
    listed = _list_partitions(spark, store)
    if listed is None:
        return None
    _, _, dirs = listed
    batch_id = _valid_id(batch_id)
    if batch_id not in dirs:
        return None
    df = spark.read.parquet(f"{store}/{dirs[batch_id]}")
    return df.drop(*[c for c in (BATCH_COL,) if c in df.columns])


def read_current_side(
    spark: SparkSession, root: str, side: str, spec: JoinViewSpec
) -> DataFrame | None:
    """Resolved current rows of one side (latest op per ``(key, id)``,
    tombstoned versions absent) — the audit read."""
    if side not in ("left", "right"):
        raise ValueError(f"side must be 'left' or 'right', got {side!r}")
    id_col = spec.left_id if side == "left" else spec.right_id
    return _ops_current(
        spark,
        side_path(root, side),
        # a "/" can never appear in a partition directory name, so no
        # batch is excluded: this reads the WHOLE resolved side
        "never/a/batch",
        spec,
        id_col,
        None,
    )


def verify_cdc_side(
    spark: SparkSession, root: str, side: str, spec: JoinViewSpec
) -> int:
    """Full-scan audit of the key-change contract (module docstring): an
    id may have at most ONE live ``(key, id)`` version. Returns the
    number of violating ids (0 = clean); a violation means some upsert
    moved an id's key without tombstoning the old version."""
    cur = read_current_side(spark, root, side, spec)
    if cur is None:
        return 0
    id_col = spec.left_id if side == "left" else spec.right_id
    return (
        cur.groupBy(id_col)
        .count()
        .filter(F.col("count") > 1)
        .count()
    )


def compact_join_view_cdc(
    spark: SparkSession,
    root: str,
    spec: JoinViewSpec,
    exclude: tuple[str, ...] = (),
    seq_col: str | None = None,
) -> dict[str, int]:
    """Fold each store to its SEMANTIC state under the staged-swap crash
    protocol (`store.compact_store`): the sides fold to their
    resolved current rows (absorbed tombstones disappear — the op log
    becomes a snapshot), the view folds to its net-positive rows with
    ``+1`` signs. Same hard precondition as every compactor (``exclude``
    replayable batches), plus a CDC-specific one enforced here: every
    excluded batch must sort AFTER every folded one, because the
    compacted partition ranks before all live batches and a folded-over
    middle batch would misorder resolution.

    ``seq_col``: a seq-tracked store (see `update_join_view_cdc`) must
    compact with the SAME seq_col — its fold keeps each version's
    latest op of ANY kind, so a tombstone survives as a watermark
    record and a stale re-insert arriving after the fold is still
    rejected. (The price: deleted versions' tombstones persist through
    compaction; GDPR forget still removes them physically.)"""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.window import Window

    recover_pending_forgets(spark, root)

    def _fold_side(side: str) -> int:
        id_col = spec.left_id if side == "left" else spec.right_id

        def _fold_ops(ops: DataFrame, id_col=id_col) -> DataFrame:
            w = Window.partitionBy(spec.key, id_col).orderBy(
                F.col(_RANK_COL).desc()
            )
            folded = ops.withColumn("__rn__", F.row_number().over(w)).filter(
                F.col("__rn__") == 1
            )
            if seq_col is None:
                folded = folded.filter(F.col(OP_COL) == "u")
            return folded.drop(_RANK_COL, "__rn__")

        return compact_store(
            spark,
            side_path(root, side),
            exclude,
            fold=_fold_ops,
            rank_col=_RANK_COL,
            bucketed=bool(spec.n_buckets),
        )

    def _fold_view(df: DataFrame) -> DataFrame:
        content = [
            c for c in df.columns if c not in (DIFF_COL, _RANK_COL)
        ]
        return (
            df.groupBy(*content)
            .agg(F.sum(DIFF_COL).alias("__net__"))
            .filter(F.col("__net__") > 0)
            .drop("__net__")
            .withColumn(DIFF_COL, F.lit(1))
        )

    def _fold_view_store() -> int:
        return compact_store(
            spark,
            side_path(root, "view"),
            exclude,
            fold=_fold_view,
            rank_col=_RANK_COL,
        )

    # The three stores live in disjoint directories and their folds share
    # no state — overlap them from a small thread pool so each fold's
    # driver-side latency (listings, manifest commit, swap) and job tail
    # back-fills the others' idle executors (guide §2.6 "overlap
    # independent jobs"). Crash windows are unchanged: each fold is the
    # same staged-swap protocol, recovered per store.
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = {
            "left": pool.submit(_fold_side, "left"),
            "right": pool.submit(_fold_side, "right"),
            "view": pool.submit(_fold_view_store),
        }
        return {name: f.result() for name, f in futs.items()}


def forget_left_ids_from_cdc_view(
    spark: SparkSession,
    root: str,
    ids_df: DataFrame,
    spec: JoinViewSpec,
    *,
    audit_path: str | None = None,
) -> dict[str, int]:
    """GDPR erasure of left ids: every op-log row (upserts AND
    tombstones) and every view row — both signs — that carries the id is
    physically removed. A tombstone is not erasure; this is. Durable
    and crash-recoverable: the id set is persisted under the root
    before any mutation, and a crash between the op-log and view
    erasures is replayed from the persisted copy
    (`joinview.recover_pending_forgets`, run automatically by every
    forget and compaction)."""
    return _forget_cdc(spark, root, ids_df, spec, "left", audit_path)


def forget_right_ids_from_cdc_view(
    spark: SparkSession,
    root: str,
    ids_df: DataFrame,
    spec: JoinViewSpec,
    *,
    audit_path: str | None = None,
) -> dict[str, int]:
    """Right-side twin of :func:`forget_left_ids_from_cdc_view`."""
    return _forget_cdc(spark, root, ids_df, spec, "right", audit_path)


def _forget_cdc(
    spark: SparkSession,
    root: str,
    ids_df: DataFrame,
    spec: JoinViewSpec,
    side: str,
    audit_path: str | None,
) -> dict[str, int]:
    # The CDC op-log store has the insert-only store's exact layout
    # (batch partitions, optionally bucketed; tombstone rows carry the
    # id column, so the same anti-join removes upserts AND tombstones)
    # — delegate to the shared durable-intent protocol: the subject id
    # set is persisted under the root BEFORE the first mutation, both
    # erasures consume the persisted copy, and a crash between them is
    # replayed by recover_pending_forgets (called automatically here
    # and by compaction) instead of silently re-deriving an empty set
    # from the half-erased store.
    return forget_side(spark, root, ids_df, spec, side, audit_path=audit_path)
