"""Recompute-on-retract rollup — NON-additive aggregates (min, max,
distinct keys) maintained over a CDC view's signed change feed.

The additive cascade (`streaming/cascade_cdc_job.py`, q267) folds
``contribution × diff`` and is exact under retractions by construction;
min/max and distinct grains are NOT retractable — you cannot subtract
a deleted row's contribution from a max, because the max carries no
record of the runners-up. The classic fix (Tantau/"msq" trees, DBSP's
``distinct`` operator) keeps per-group auxiliary state; the
Spark-shaped fix here is **recompute-on-retract**: per batch,

- groups UNTOUCHED by retraction fold additively from the feed's
  insert rows (``kind="add"`` partials — O(Δ), the hot path);
- groups a retraction touched get a fresh SNAPSHOT recomputed from the
  net view restricted to exactly those groups (``kind="snap"`` — the
  group-pruned slow path), including an explicit zero snapshot for a
  group whose last row was retracted (else older adds would resurrect
  it on read).

The store rides the family's batch-partition contract
(`incremental/store.py`): each batch commits its own partition
(dynamic overwrite ⇒ replay-idempotent); batch ids must be
lexicographically monotone (the streaming rungs' `pad_batch_id`).
Read resolution is rank-based like the CDC op log: per group, the
LATEST snapshot wins as the base and only adds from batches AFTER it
stack on top (``least``/``greatest`` for min/max, sums for counts);
compaction folds the whole history to one snapshot per group under the
family's one crash protocol (`store.compact_store`), whose every crash
point leaves a reader seeing the history or its fold, never both.

A distinct-key grain (exact ``COUNT(DISTINCT user)`` under deletes) is
this same machinery with the key IN the group columns — the report
then counts surviving grain rows, the trick `incremental/rollup.py`
uses for exact distinct users, now retraction-correct.

Scale shape: the hot path never reads the store or the view; the
retract path's recompute input is the net view semi-joined to the
touched groups — proportional to the view's rows in those groups, not
to history. Reference scope: dwp/dataworks-audit-data-ingest
(audit_data_ingest.py:1-313) maintains no aggregate state; this
extends the engine's IVM family beyond the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.localrel import local_rows_df

from .joinview_cdc import DIFF_COL
from .store import commit_batch_partition, compact_store, read_store

_KIND = "__kind__"
_RANK = "__rcr_rank__"


def _partials(rows: DataFrame, group_cols: list[str], value_expr: str):
    v = F.expr(value_expr)
    return rows.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).cast("bigint").alias("total"),
        F.min(v).cast("bigint").alias("vmin"),
        F.max(v).cast("bigint").alias("vmax"),
    )


def update_cdc_rollup(
    spark: SparkSession,
    store: str,
    feed: DataFrame | None,
    net_view: DataFrame | None,
    batch_id: str,
    *,
    group_cols: tuple[str, ...],
    value_expr: str,
) -> dict[str, int]:
    """Apply one batch's signed change feed to the maintained
    min/max-capable rollup. ``feed`` is the batch's
    `read_join_view_cdc_delta` (None ⇒ no-op); ``net_view`` is the
    CURRENT net view (`read_join_view_cdc` AFTER this batch's update)
    — evaluated only for retraction-touched groups. Returns the add /
    snapshot row counts committed."""
    if feed is None:
        return {"add_rows": 0, "snap_rows": 0}
    cols = list(group_cols)
    # Three driver actions per batch: the touched-group collect, the
    # eager checkpoint of `out` and the commit write. The feed is one
    # committed parquet partition, so its checkpoint call starts no job:
    # under AQE `localCheckpoint(eager=False)` runs a plan's shuffle
    # stages at the call, a scan has none, and the first consumer
    # materializes it. The touched groups are COLLECTED (driver-sized by
    # the same bound as the broadcast below — the batch's retraction
    # groups, never history), which gives the recompute a LITERAL
    # pushable predicate. `out`'s checkpoint runs its shuffle stages (the
    # partials and the recompute) as jobs of their own and observes the
    # add/snap counts in its final job, so the commit writes the
    # checkpoint, sized by them, without a separate counts aggregate.
    feed = feed.localCheckpoint(eager=False)
    touched_rows = (
        feed.filter(F.col(DIFF_COL) < 0).select(*cols).distinct().collect()
    )
    n_touched = len(touched_rows)

    adds = feed.filter(F.col(DIFF_COL) > 0)
    touched = None
    if n_touched:
        touched = local_rows_df(
            feed.sparkSession, touched_rows, feed.select(*cols).schema
        )
        adds = adds.join(F.broadcast(touched), on=cols, how="left_anti")
    out = _partials(adds, cols, value_expr).withColumn(_KIND, F.lit("add"))

    if n_touched:
        if net_view is None:
            raise ValueError(
                "retractions in the feed but net_view is None — the "
                "recompute-on-retract path needs the current view"
            )
        # group-pruned recompute; an explicit ZERO snapshot for a group
        # whose last row was retracted, else earlier adds resurrect it.
        # When the touched set is small the prune is a LITERAL
        # OR-of-equalities filter: unlike the former broadcast semi-join
        # it pushes through the net view's aggregate INTO the parquet
        # scan (PushedFilters -> row-group pruning at scale). Equality
        # drops NULL group values exactly as the semi-join did. A large
        # touched set falls back to the broadcast semi-join (a literal
        # expression tree with thousands of terms would bloat planning).
        if n_touched <= 256:
            import functools
            import operator

            prune = functools.reduce(
                operator.or_,
                [
                    functools.reduce(
                        operator.and_,
                        [F.col(c) == F.lit(r[c]) for c in cols],
                    )
                    for r in touched_rows
                ],
            )
            pruned_view = net_view.filter(prune)
        else:
            pruned_view = net_view.join(
                F.broadcast(touched), on=cols, how="left_semi"
            )
        recomputed = _partials(pruned_view, cols, value_expr)
        snaps = (
            touched.join(recomputed, on=cols, how="left")
            .fillna({"n": 0, "total": 0})
            .withColumn(_KIND, F.lit("snap"))
        )
        out = out.unionByName(snaps)

    obs = Observation()
    out = out.observe(
        obs,
        F.count(F.when(F.col(_KIND) == "add", 1)).alias("a"),
        F.count(F.when(F.col(_KIND) == "snap", 1)).alias("s"),
    ).localCheckpoint(eager=True)
    counts = {"add_rows": int(obs.get["a"]), "snap_rows": int(obs.get["s"])}
    commit_batch_partition(
        out, store, batch_id, counts["add_rows"] + counts["snap_rows"]
    )
    return counts


def _resolve(df: DataFrame, cols: list[str]) -> DataFrame:
    """Latest snapshot per group is the base; only adds from strictly
    later batches stack on top of it (earlier adds are part of what the
    snapshot already recomputed)."""
    snap_rank = (
        df.filter(F.col(_KIND) == "snap")
        .groupBy(*cols)
        .agg(F.max(_RANK).alias("__sr__"))
    )
    with_sr = df.join(snap_rank, on=cols, how="left")
    live = with_sr.filter(
        F.col("__sr__").isNull()
        | (
            F.when(F.col(_KIND) == "snap", F.col(_RANK) == F.col("__sr__"))
            .otherwise(F.col(_RANK) > F.col("__sr__"))
        )
    )
    return (
        live.groupBy(*cols)
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("total").cast("bigint").alias("total"),
            F.min("vmin").cast("bigint").alias("vmin"),
            F.max("vmax").cast("bigint").alias("vmax"),
        )
    )


def read_cdc_rollup(
    spark: SparkSession, store: str, group_cols: tuple[str, ...]
) -> DataFrame | None:
    """The maintained report: one row per surviving group with exact
    count, sum, MIN and MAX — retractions included. ``None`` when
    nothing was ever committed."""
    df = read_store(spark, store, rank_col=_RANK)
    if df is None:
        return None
    return _resolve(df, list(group_cols)).filter(F.col("n") > 0)


def compact_cdc_rollup(
    spark: SparkSession,
    store: str,
    group_cols: tuple[str, ...],
    exclude: tuple[str, ...] = (),
) -> int:
    """Fold the history to ONE snapshot per surviving group under
    :func:`~.store.compact_store`'s crash protocol; same hard
    preconditions as the CDC op store's compactor (``exclude``
    replayable batches; excluded ids must sort after every folded one —
    `pad_batch_id` discipline)."""
    cols = list(group_cols)

    def _fold(df: DataFrame) -> DataFrame:
        return (
            _resolve(df, cols)
            .filter(F.col("n") > 0)
            .withColumn(_KIND, F.lit("snap"))
        )

    return compact_store(spark, store, exclude, fold=_fold, rank_col=_RANK)
