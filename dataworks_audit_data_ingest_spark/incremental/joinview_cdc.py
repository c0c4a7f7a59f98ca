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

import contextlib
import logging
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType
from pyspark.sql.window import Window
from pyspark.util import inheritable_thread_target

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
    read_batch,
    read_store,
)

OP_COL = "__cdc_op__"
DIFF_COL = "__diff__"
_RANK_COL = "__cdc_rank__"

logger = logging.getLogger(__name__)

# An update reads every surviving side batch directory as its own scan
# and resolves across all of them, so per-batch maintenance cost (file
# listings, plan size, window input) grows LINEARLY in un-compacted
# history — regular `compact_join_view_cdc` calls are an operational
# requirement for long-running streams (the streaming rung's
# `compact_every` automates it). Past this many live partitions the
# module warns on every update, per store, rather than degrading silently.
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


_NULL_MSG = (
    "{} contains NULL in {}; keys and ids must be non-null (an inner join "
    "can never match a NULL key, and a NULL id can never be upserted over "
    "or deleted)"
)


def _validate_monotone(
    spark: SparkSession, root: str, batch_id: str
) -> None:
    """CDC resolution orders ops by batch id, so ids must arrive in
    lexicographic order; only the newest batch may repeat (replay)."""
    for side in ("left", "right", "view"):
        store = side_path(root, side)
        listed = _list_partitions(spark, store)
        if listed is None:
            continue
        _, _, dirs = listed
        if len(dirs) > _COMPACTION_NAG_PARTITIONS:
            logger.warning(
                "CDC store %s holds %d live batch partitions — per-batch "
                "maintenance cost grows linearly in un-compacted history; "
                "run compact_join_view_cdc (or set the streaming rung's "
                "compact_every)",
                store,
                len(dirs),
            )
        newer = [b for b in dirs if b != COMPACTED_ID and b > batch_id]
        if newer:
            raise ValueError(
                f"batch_id {batch_id!r} sorts before existing batch(es) "
                f"{sorted(newer)[:3]} in {side!r}; CDC batch ids must be "
                "lexicographically monotone (zero-pad sequence numbers)"
            )


def _resolve_ops(
    ops: DataFrame | None,
    spec: JoinViewSpec,
    id_col: str,
    *,
    any_op: bool = False,
    buckets: list[int] | None = None,
    key_type: DataType | None = None,
) -> DataFrame | None:
    """Resolved CURRENT rows of one side from its op log read with
    ``rank_col=_RANK_COL`` (the batch id, ``""`` for the compacted
    prefix): per ``(key, id)``, the latest op wins and a tombstone means
    absent.

    With ``buckets`` (the batch's probe buckets, hashed from
    ``key_type``) a bucketed store is pruned to them at the file
    level."""
    if ops is None:
        return None
    if buckets is not None and BUCKET_COL in ops.columns:
        # bucket pruning hashes the PROBE's key type; a feed whose key
        # arrives widened (int store, bigint batch) would probe
        # DIFFERENT buckets than the rows were committed under —
        # unionByName widens silently, so the miss would be silent
        # z-set corruption (stale versions surviving retraction)
        stored_t = ops.schema[spec.key].dataType
        if key_type is not None and stored_t != key_type:
            raise ValueError(
                f"key column {spec.key!r} arrives as "
                f"{key_type.simpleString()} but the store holds "
                f"{stored_t.simpleString()}; bucket hashes would "
                "diverge — cast the feed to the stored type"
            )
        ops = ops.filter(
            f"{BUCKET_COL} IN ({', '.join(map(str, buckets))})"
            if buckets
            else "false"
        )
    cur = ops.selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY {_q(spec.key)}, {_q(id_col)}"
        f" ORDER BY {_RANK_COL} DESC) AS __rn__",
    ).filter("__rn__ = 1")
    if not any_op:
        # the CURRENT side: a latest-op tombstone means absent. The
        # any_op=True variant keeps tombstones — the seq watermark must
        # compare an incoming op against the latest op of ANY kind, or
        # a stale re-insert after a delete would slip past validation.
        cur = cur.filter(f"{OP_COL} = 'u'")
    drop = [_RANK_COL, "__rn__"] + ([] if any_op else [OP_COL])
    return cur.drop(*drop, BUCKET_COL)


def _pair_cols(key: str, id_col: str) -> list[str]:
    """The ``(key, id)`` column list, collapsed when the join key IS the
    side's id (a dimension keyed by its primary key, like q260's
    customer side) — a duplicated name would break selects and joins."""
    return [key] if key == id_col else [key, id_col]


def _as_pairs(
    dfs: list[DataFrame | None], key: str, id_col: str
) -> DataFrame | None:
    """Retracted ``(key, id)`` version pairs of one side, repeats kept:
    they only feed semi- and anti-joins, which a repeat cannot change,
    so a distinct would be one more shuffle stage per side."""
    cols = _pair_cols(key, id_col)
    parts = [d.select(*cols) for d in dfs if d is not None]
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _minus(cur: DataFrame | None, pairs, key: str, id_col: str):
    if cur is None:
        return None
    if pairs is None:
        return cur
    return cur.join(
        F.broadcast(pairs), on=_pair_cols(key, id_col), how="left_anti"
    )


def _hit(cur: DataFrame | None, pairs, key: str, id_col: str):
    if cur is None or pairs is None:
        return None
    return cur.join(
        F.broadcast(pairs), on=_pair_cols(key, id_col), how="left_semi"
    )


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


# the four feeds of a batch, in the order their errors are raised: left
# before right, upserts before deletes
_FEEDS = (
    ("left", "upserts"),
    ("left", "deletes"),
    ("right", "upserts"),
    ("right", "deletes"),
)
_SIDES = ("left", "right")


def _id_col(spec: JoinViewSpec, side: str) -> str:
    return spec.left_id if side == "left" else spec.right_id


def _q(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


@contextlib.contextmanager
def _phase(spark: SparkSession, batch_id: str, name: str):
    """Label the jobs of one update phase with ``spark.job.description``
    (a thread-local property), restoring the caller's description after.
    The job group is left alone: it is the caller's, and perfbench
    attributes stages by it."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"update_join_view_cdc {batch_id}: {name}")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


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
    partition schemas must union).

    The batch runs in five phases, each naming its Spark jobs
    (``spark.job.description``): validate → guard feeds → resolve sides
    → build delta → commit. Every check raises before the first write,
    and the view commits strictly before the side op logs."""
    batch_id = _valid_id(batch_id)
    feeds = dict(
        zip(_FEEDS, (left_upserts, left_deletes, right_upserts, right_deletes))
    )
    counts = {f"{side}_{kind}": 0 for side, kind in _FEEDS}
    counts.update(view_inserts=0, view_retractions=0)
    if all(df is None for df in feeds.values()):
        return counts
    with _phase(spark, batch_id, "validate"):
        _validate_monotone(spark, root, batch_id)
        feeds, column_error = _checked_feeds(spec, feeds, seq_col)
    with ThreadPoolExecutor(max_workers=1) as pool:
        with _phase(spark, batch_id, "guard feeds"):
            # the stored sides' listings and directory reads start no job:
            # they run beside the guard job and wait for its bucket set
            stored = pool.submit(
                inheritable_thread_target(spark)(_read_sides),
                spark,
                root,
                batch_id,
            )
            feeds, fed, buckets, key_type = _guard_feeds(spec, feeds, seq_col)
            if column_error is not None:
                raise column_error
            counts.update(fed)
        with _phase(spark, batch_id, "resolve sides"):
            a_cur, b_cur = _resolve_sides(
                spark, spec, feeds, stored, seq_col, buckets, key_type
            )
    with _phase(spark, batch_id, "build delta"):
        view_delta = _view_delta(spec, feeds, a_cur, b_cur, seq_col)
        if view_delta is not None:
            view_delta, ins, ret = _counted(view_delta)
            counts.update(view_inserts=ins, view_retractions=ret)
    with _phase(spark, batch_id, "commit"):
        _commit(spark, root, batch_id, spec, feeds, counts, view_delta, seq_col)
    return counts


def _checked_feeds(
    spec: JoinViewSpec,
    feeds: dict[tuple[str, str], DataFrame | None],
    seq_col: str | None,
) -> tuple[dict[tuple[str, str], DataFrame], ValueError | None]:
    """The present feeds, in feed order, up to the first one missing a
    required column or carrying a reserved one; deletes are cut to their
    ``(key, id)`` pair and seq. That first error is returned, not
    raised: the guard errors of the feeds before it take precedence."""
    seq_req = [seq_col] if seq_col is not None else []
    out = {}
    for side, kind in _FEEDS:
        df = feeds[(side, kind)]
        if df is None:
            continue
        id_col = _id_col(spec, side)
        try:
            _check_cols(df, [spec.key, id_col, *seq_req], f"{side} {kind}")
        except ValueError as e:
            return out, e
        if kind == "deletes":
            df = df.select(*_pair_cols(spec.key, id_col), *seq_req)
        out[(side, kind)] = df
    return out, None


def _guard_feeds(
    spec: JoinViewSpec,
    feeds: dict[tuple[str, str], DataFrame],
    seq_col: str | None,
):
    """Checkpoint each feed once, so the guards, the delta and the
    commit read the same rows, and answer every per-batch guard from ONE
    aggregate over all four feeds: ``groupBy(side, id)``, then one global
    row (a result job and its two shuffle stages):

    - each feed's row count (deletes count distinct ``(pair, seq)`` rows);
    - NULL keys, ids or seqs, per feed;
    - upsert ids repeated in the batch;
    - delete pairs repeated under two different seqs;
    - a pair both upserted and deleted;
    - the probe's key buckets, ``pmod(xxhash64(key), n_buckets)``.

    Errors are raised left before right and, within a side, upsert
    NULL, upsert repeat, delete NULL, delete repeat, then the clash. The expressions are SQL text: one PySpark
    call per projection and aggregate rather than several per column.
    Returns (feeds, counts, probe buckets or None, the probe's key
    type)."""
    if not feeds:
        return feeds, {}, None, None
    # under AQE a checkpoint call runs its plan's shuffle stages at once;
    # a feed of local rows or a plain scan has none, so no job starts
    # here and the aggregate below materializes the checkpoints
    feeds = {fk: df.localCheckpoint(eager=False) for fk, df in feeds.items()}
    sides = [s for s in _SIDES if (s, "upserts") in feeds or (s, "deletes") in feeds]
    seq_req = [seq_col] if seq_col is not None else []
    parts = []
    for side, kind in _FEEDS:
        df = feeds.get((side, kind))
        if df is None:
            continue
        req = [spec.key, _id_col(spec, side), *seq_req]

        def own(col: str, name: str, side=side) -> list[str]:
            # per-side id and seq columns: the union widens types within
            # a side only, as the former per-side checks compared them
            return [f"{_q(col) if s == side else 'NULL'} AS __{name}_{s}__" for s in sides]

        parts.append(
            df.selectExpr(
                f"'{side}' AS __side__",
                f"{kind == 'upserts'} AS __ups__",
                f"{_q(spec.key)} AS __key__",
                *own(_id_col(spec, side), "id"),
                *(own(seq_col, "seq") if seq_col is not None else []),
                " OR ".join(f"{_q(c)} IS NULL" for c in req) + " AS __nul__",
            )
        )
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionByName(p)
    key_type = rows.schema["__key__"].dataType
    seqs = "".join(f", __seq_{s}__" for s in sides if seq_req)
    per_id = [
        "count_if(__ups__) AS n_u",
        "count_if(NOT __ups__) AS n_d_rows",
        # distinct (key, seq) deletes of this id, and their distinct keys
        f"size(collect_set(IF(__ups__, NULL, struct(__key__{seqs})))) AS n_d",
        "size(collect_set(IF(__ups__, NULL, __key__))) AS n_d_keys",
        "arrays_overlap(collect_set(IF(__ups__, __key__, NULL)),"
        " collect_set(IF(__ups__, NULL, __key__))) AS clash",
        "count_if(__ups__ AND __nul__) AS nul_u",
        "count_if(NOT __ups__ AND __nul__) AS nul_d",
    ]
    if spec.n_buckets:
        per_id.append(
            f"collect_set(CAST(pmod(xxhash64(__key__), {spec.n_buckets}) AS INT))"
            " AS buckets"
        )
    per = rows.groupBy("__side__", *[f"__id_{s}__" for s in sides]).agg(
        *[F.expr(e) for e in per_id]
    )
    total = []
    for s in sides:
        on = f"__side__ = '{s}'"
        total += [
            f"sum(IF({on}, n_u, 0)) AS {s}_upserts",
            f"sum(IF({on}, n_d, 0)) AS {s}_deletes",
            f"sum(IF({on}, n_d_rows - n_d, 0)) AS {s}_d_repeats",
            f"sum(IF({on}, nul_u, 0)) AS {s}_nul_u",
            f"sum(IF({on}, nul_d, 0)) AS {s}_nul_d",
            f"count_if({on} AND n_u > 1) AS {s}_dups",
            f"max(IF({on} AND n_u > 1, __id_{s}__, NULL)) AS {s}_dup",
            f"count_if({on} AND n_d > n_d_keys) AS {s}_pair_dups",
            f"count_if({on} AND clash) AS {s}_clash",
        ]
    if spec.n_buckets:
        total.append("flatten(collect_list(buckets)) AS buckets")
    got = per.selectExpr(*total).collect()[0].asDict()

    def n(name: str) -> int:
        return int(got.get(name) or 0)

    counts = {}
    for side in sides:
        id_col = _id_col(spec, side)
        req = [spec.key, id_col, *seq_req]
        if (side, "upserts") in feeds:
            if n(f"{side}_nul_u"):
                raise ValueError(_NULL_MSG.format(f"{side} upserts", req))
            if n(f"{side}_dups"):
                raise ValueError(
                    f"{side} delta repeats {id_col}={got[f'{side}_dup']!r} "
                    "within the batch; per-side ids must be unique for the "
                    "view store to stay compaction-safe (see "
                    "incremental/joinview.py)"
                )
            counts[f"{side}_upserts"] = n(f"{side}_upserts")
        if (side, "deletes") in feeds:
            if n(f"{side}_nul_d"):
                raise ValueError(_NULL_MSG.format(f"{side} deletes", req))
            # the same version deleted twice under different seqs is an
            # ordering ambiguity, not a no-op (without seq a repeated pair
            # is a plain repeat, dropped below)
            if seq_col is not None and n(f"{side}_pair_dups"):
                raise ValueError(
                    f"{side} batch deletes the same ({spec.key}, "
                    f"{id_col}) version under two different "
                    f"{seq_col} values — ambiguous feed"
                )
            if n(f"{side}_d_repeats"):
                # rows repeated verbatim: commit each tombstone once
                feeds[(side, "deletes")] = feeds[(side, "deletes")].distinct()
            counts[f"{side}_deletes"] = n(f"{side}_deletes")
        if n(f"{side}_clash"):
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
    buckets = sorted(set(got["buckets"] or ())) if spec.n_buckets else None
    return feeds, counts, buckets, key_type


def _read_sides(
    spark: SparkSession, root: str, batch_id: str
) -> dict[str, DataFrame | None]:
    """Both sides' op logs without this batch, ranked for resolution."""
    return {
        side: read_store(
            spark, side_path(root, side), exclude=(batch_id,), rank_col=_RANK_COL
        )
        for side in _SIDES
    }


def _resolve_sides(
    spark: SparkSession,
    spec: JoinViewSpec,
    feeds: dict[tuple[str, str], DataFrame],
    stored: Future,
    seq_col: str | None,
    buckets: list[int] | None,
    key_type: DataType | None,
) -> tuple[DataFrame | None, DataFrame | None]:
    """Both sides' current rows as of before this batch, pruned to the
    probe's buckets, and the checks that need the stored sides: column
    clashes across the sides, and with ``seq_col`` the all-or-nothing
    rule and the per-version seq watermark. ``stored`` is the pending
    :func:`_read_sides`. Returns (A_cur, B_cur)."""
    shared_ok = {spec.key} | ({seq_col} if seq_col is not None else set())
    ups = {side: feeds.get((side, "upserts")) for side in _SIDES}
    if ups["left"] is not None and ups["right"] is not None:
        overlap = (set(ups["left"].columns) & set(ups["right"].columns)) - shared_ok
        if overlap:
            raise ValueError(
                f"non-key columns {sorted(overlap)} exist on both sides; "
                "rename before maintaining the view"
            )
    stored = stored.result()
    # with seq tracking the same pruned read serves both the watermark
    # validation (latest op of ANY kind, tombstones included) and the
    # current side (its op=='u' restriction) — one store scan, not two
    latest = {
        side: _resolve_ops(
            stored[side],
            spec,
            _id_col(spec, side),
            any_op=seq_col is not None,
            buckets=buckets,
            key_type=key_type,
        )
        for side in _SIDES
    }
    if seq_col is not None:
        for side in _SIDES:
            if latest[side] is not None and seq_col not in latest[side].columns:
                raise ValueError(
                    f"the {side} op log was written WITHOUT {seq_col!r}"
                    " — seq tracking is all-or-nothing per store (the"
                    " partition schemas must union); rebuild or compact-"
                    "migrate the store to adopt it"
                )
    # every delta term reads a side, and the copies differ in the filters
    # the optimizer pushes into them, so without a checkpoint each term
    # would run the side's resolution window again
    latest = dict(zip(_SIDES, _checkpointed(spark, [latest[s] for s in _SIDES])))
    if seq_col is None:
        cur = latest
    else:
        cur = {
            side: df.filter(F.col(OP_COL) == "u").drop(OP_COL)
            if df is not None
            else None
            for side, df in latest.items()
        }
        for side in _SIDES:
            _check_seq_order(spec, feeds, side, latest[side], seq_col)
    # the batch-local overlap check above cannot see columns committed
    # in EARLIER batches of the opposite side (the insert-only view's
    # lesson): a one-sided 'val' batch against a stored opposite 'val'
    # would otherwise die deep in the parquet write with an
    # unactionable duplicate-column error
    for which, opp in (("left", cur["right"]), ("right", cur["left"])):
        if ups[which] is None or opp is None:
            continue
        overlap = (set(ups[which].columns) & set(opp.columns)) - shared_ok
        if overlap:
            raise ValueError(
                f"non-key columns {sorted(overlap)} exist on both the "
                f"incoming {which} upserts and the STORED opposite side; "
                "rename before maintaining the view"
            )
    return cur["left"], cur["right"]


def _checkpointed(
    spark: SparkSession, dfs: list[DataFrame | None]
) -> list[DataFrame | None]:
    """``localCheckpoint(eager=False)`` of each frame (``None`` passes
    through), each on its own thread: under AQE the call itself runs the
    plan's shuffle stages, so the frames' stages overlap; only the final
    stage waits for the first consumer."""
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        futs = [
            None
            if df is None
            else pool.submit(
                inheritable_thread_target(spark)(df.localCheckpoint), False
            )
            for df in dfs
        ]
        return [None if f is None else f.result() for f in futs]


def _check_seq_order(
    spec: JoinViewSpec,
    feeds: dict[tuple[str, str], DataFrame],
    side: str,
    latest: DataFrame | None,
    seq_col: str,
) -> None:
    """The watermark: every incoming op must advance its version's seq
    past the stored latest op — tombstones included, or a stale
    re-insert arriving after its delete would resurrect."""
    if latest is None:
        return
    id_col = _id_col(spec, side)
    pcols = _pair_cols(spec.key, id_col)
    parts = [
        feeds[(side, kind)].select(*pcols, seq_col)
        for kind in ("upserts", "deletes")
        if (side, kind) in feeds
    ]
    if not parts:
        return
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


def _view_delta(
    spec: JoinViewSpec,
    feeds: dict[tuple[str, str], DataFrame],
    a_cur: DataFrame | None,
    b_cur: DataFrame | None,
    seq_col: str | None,
) -> DataFrame | None:
    """The batch's signed view rows by the module's delta rule, or
    ``None`` when no term has both inputs. The seq watermark is op-log
    metadata and must not reach the view rows (both sides carry it under
    ONE name — a joined row would collide), so every input sheds it."""

    def _shed(df: DataFrame | None) -> DataFrame | None:
        if df is None or seq_col is None:
            return df
        return df.drop(seq_col)

    lu, ld, ru, rd = (_shed(feeds.get(f)) for f in _FEEDS)
    a_cur, b_cur = _shed(a_cur), _shed(b_cur)
    r_a = _as_pairs([lu, ld], spec.key, spec.left_id)
    r_b = _as_pairs([ru, rd], spec.key, spec.right_id)
    a_live = _minus(a_cur, r_a, spec.key, spec.left_id)   # A_cur ∖ R_A
    a_gone = _hit(a_cur, r_a, spec.key, spec.left_id)     # A_cur ⋉ R_A
    b_live = _minus(b_cur, r_b, spec.key, spec.right_id)  # B_cur ∖ R_B
    b_gone = _hit(b_cur, r_b, spec.key, spec.right_id)    # B_cur ⋉ R_B
    b_new = b_live                                        # (B_cur ∖ R_B) ∪ U_B
    if ru is not None:
        b_new = ru if b_new is None else b_new.unionByName(ru)
    deltas = [
        l.join(r, on=spec.key, how="inner").withColumn(DIFF_COL, F.lit(diff))
        for l, r, diff in (  # noqa: E741
            # ΔV⁺: U_A ⋈ ((B_cur ∖ R_B) ∪ U_B)  ∪  (A_cur ∖ R_A) ⋈ U_B
            (lu, b_new, +1),
            (a_live, ru, +1),
            # ΔV⁻: (A_cur ⋉ R_A) ⋈ B_cur  ∪  (A_cur ∖ R_A) ⋈ (B_cur ⋉ R_B)
            (a_gone, b_cur, -1),
            (a_live, b_gone, -1),
        )
        if l is not None and r is not None
    ]
    if not deltas:
        return None
    view_delta = deltas[0]
    for d in deltas[1:]:
        view_delta = view_delta.unionByName(d)
    return view_delta


def _counted(view_delta: DataFrame) -> tuple[DataFrame, int, int]:
    """Checkpoint the view delta eagerly and count its inserts and
    retractions in that same job (``observe``): the commit writes the
    checkpoint, sized by the count, without recomputing the joins."""
    obs = Observation()
    view_delta = view_delta.observe(
        obs,
        F.count(F.when(F.col(DIFF_COL) > 0, 1)).alias("ins"),
        F.count(F.when(F.col(DIFF_COL) < 0, 1)).alias("ret"),
    ).localCheckpoint(eager=True)
    stats = obs.get
    return view_delta, int(stats["ins"]), int(stats["ret"])


def _commit(
    spark: SparkSession,
    root: str,
    batch_id: str,
    spec: JoinViewSpec,
    feeds: dict[tuple[str, str], DataFrame],
    counts: dict[str, int],
    view_delta: DataFrame | None,
    seq_col: str | None,
) -> None:
    """The view delta, then both side op logs. The sides commit LAST
    (the insert-only store's crash argument: a replay recomputes the
    identical delta against identical old sides whichever subset of
    commits survived); they write disjoint directories and any surviving
    subset of the two replays identically, so they overlap on two
    threads, which carry this thread's job group and description."""
    if view_delta is not None:
        commit_batch_partition(
            view_delta,
            side_path(root, "view"),
            batch_id,
            counts["view_inserts"] + counts["view_retractions"],
        )
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(
                inheritable_thread_target(spark)(_commit_side_ops),
                spark,
                root,
                batch_id,
                spec,
                side,
                feeds,
                counts[f"{side}_upserts"] + counts[f"{side}_deletes"],
                seq_col,
            )
            for side in _SIDES
        ]
        for f in futs:
            f.result()


def _commit_side_ops(
    spark: SparkSession,
    root: str,
    batch_id: str,
    spec: JoinViewSpec,
    side: str,
    feeds: dict[tuple[str, str], DataFrame],
    rows: int,
    seq_col: str | None,
) -> None:
    """One side's batch ops, seq watermark kept: the upserts tagged "u"
    and the deletes as "d" tombstones in the op log's schema."""
    store = side_path(root, side)
    ups, dels = feeds.get((side, "upserts")), feeds.get((side, "deletes"))
    ops = None
    if ups is not None:
        ops = ups.withColumn(OP_COL, F.lit("u"))
    if dels is not None:
        template = ups
        if template is None:
            template = read_store(spark, store)
            if template is not None:
                template = template.drop(BUCKET_COL, OP_COL)
        # no store and no upserts: these ids were never inserted, so the
        # tombstones can never apply — recording nothing is replay-
        # identical and keeps the op schema anchored to real data
        if template is not None:
            keep = (seq_col,) if seq_col is not None else ()
            tomb = _null_fill_deletes(
                dels, template, spec, _id_col(spec, side), keep=keep
            ).withColumn(OP_COL, F.lit("d"))
            ops = tomb if ops is None else ops.unionByName(tomb)
    if ops is not None:
        commit_side(ops, store, batch_id, spec, rows)


def net_positive(df: DataFrame) -> DataFrame:
    """The z-set rule written once: a row is live when its signed
    ``__diff__`` copies sum above zero. Rows come back without the sign
    column, once each."""
    content = [c for c in df.columns if c != DIFF_COL]
    return (
        df.groupBy(*content)
        .agg(F.sum(DIFF_COL).alias("__net__"))
        .filter(F.col("__net__") > 0)
        .drop("__net__")
    )


def read_join_view_cdc(spark: SparkSession, root: str) -> DataFrame | None:
    """The live view: net-positive z-set rows (merge-on-read). Equals
    ``current_A ⋈ current_B`` after any prefix of CDC batches
    (invariant-drilled). ``None`` -> nothing committed yet."""
    view = read_store(spark, side_path(root, "view"))
    return None if view is None else net_positive(view)


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
    return read_batch(spark, side_path(root, "view"), batch_id)


def read_current_side(
    spark: SparkSession, root: str, side: str, spec: JoinViewSpec
) -> DataFrame | None:
    """Resolved current rows of one side (latest op per ``(key, id)``,
    tombstoned versions absent) — the audit read."""
    if side not in ("left", "right"):
        raise ValueError(f"side must be 'left' or 'right', got {side!r}")
    id_col = spec.left_id if side == "left" else spec.right_id
    ops = read_store(spark, side_path(root, side), rank_col=_RANK_COL)
    return _resolve_ops(ops, spec, id_col)


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
        return net_positive(df.drop(_RANK_COL)).withColumn(DIFF_COL, F.lit(1))

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
