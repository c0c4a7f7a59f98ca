"""Incrementally-maintained rollup store — additive aggregate state under
the family's shared batch-partition contract (`incremental/store.py`).

The continuous-aggregate problem: a 100 TB event history is re-scanned by
every daily report unless the aggregates are MAINTAINED as events arrive.
The store keeps per-``(day, event_type, user_id)`` additive partials —
count, exact-cents sum, min, max — so that

- **update is O(batch)**: each batch folds map-side to its own partials
  and commits them under ``batch_id=<id>`` (dynamic overwrite ⇒ replay
  rewrites exactly its own partition — idempotent). The store is never
  read on the write path; merge happens on read. Late data needs nothing
  special: a late event's partial lands in its arrival batch and the
  read-side merge is order-free.
- **read is O(store)**, and the store is proportional to DISTINCT grain
  keys, not events. The finer-than-report grain is deliberate, twice
  over: per-user rows make ``COUNT(DISTINCT user_id)`` exact and
  mergeable (a coarser store could only approximate it), and they make
  GDPR forget exact (erase the subject's rows; no other key is touched
  and no raw-event recompute is needed).
- **compaction is additive, NOT set-membership**: the fold sums the
  partials at the grain instead of taking ``distinct()`` (two batches'
  identical partials are two contributions, not one row). It runs under
  the family's one crash protocol, :func:`~.store.compact_store`'s
  staged swap, whose every crash point leaves a reader consistent — a
  folded partial is never counted beside its originals.

When the per-user grain is itself too large (key space ~ the corpus —
billions of users × wide grids), the bounded-state alternative is the
HLL register store (`streaming/hll_job.py`, q111's shape): state is
m × groups × days REGARDLESS of user count. The tradeoff is explicit
and compliance-relevant: registers give ~2%-error distinct counts and
CANNOT forget a subject (a max-fold absorbs contributions
irreversibly) — GDPR erasure over registers means rebuilding the
affected days from source. This store keeps exact counts AND exact
forget; pick by key-space size and erasure obligations.

Reference parity: dwp/dataworks-audit-data-ingest maintains no aggregate
state (313-line copy pipeline); this extends the engine's incremental
family (dedup signatures, CC labels, passages) with the classic
continuous-aggregate / hypertable-rollup shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import commit_batch_partition, compact_store, read_store

# exact integer cents — the portable money idiom (queries/base.py): FLOOR
# half-up at two decimals, summed as BIGINT, associative under any merge
# order and identical on every engine
_CENTS = "CAST(FLOOR({col} * 100 + 0.5) AS BIGINT)"


def rollup_partials(
    batch_df: DataFrame,
    *,
    ts_col: str = "ts",
    type_col: str = "event_type",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Fold one batch of raw events to its additive grain partials:
    ``(day, event_type, user_id) -> (n_events, sum_cents, min_cents,
    max_cents)``. NULL values count in ``n_events`` but are skipped by
    the money aggregates (standard SQL aggregate semantics, identical on
    replay and in the batch-recompute drills)."""
    cents = F.expr(_CENTS.format(col=value_col))
    return (
        batch_df.select(
            F.to_date(F.col(ts_col)).alias("day"),
            F.col(type_col).alias("event_type"),
            F.col(user_col).alias("user_id"),
            cents.alias("cents"),
        )
        .groupBy("day", "event_type", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


def update_rollup_store(
    spark: SparkSession,
    store_path: str,
    batch_df: DataFrame,
    batch_id: str,
    *,
    ts_col: str = "ts",
    type_col: str = "event_type",
    user_col: str = "user_id",
    value_col: str = "value",
) -> None:
    """Commit one batch's grain partials under ``batch_id=<id>``.

    Write-only: the store is not read (no growing input on the hot
    path — the property PERF.md measures for the CC store holds here by
    construction). Replay of the same batch_id rewrites
    exactly its own partition with identical rows."""
    partials = rollup_partials(
        batch_df,
        ts_col=ts_col,
        type_col=type_col,
        user_col=user_col,
        value_col=value_col,
    )
    commit_batch_partition(partials, store_path, batch_id)


def _merge_partials(rows: DataFrame) -> DataFrame:
    """Sum partials at the grain: the read-side merge and the fold."""
    return rows.groupBy("day", "event_type", "user_id").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_cents").alias("sum_cents"),
        F.min("min_cents").alias("min_cents"),
        F.max("max_cents").alias("max_cents"),
    )


def read_rollup_grain(
    spark: SparkSession, store_path: str
) -> DataFrame | None:
    """The merged grain — one row per ``(day, event_type, user_id)`` with
    partials summed across every live batch partition — or ``None`` when
    there is no maintained state: the store was never created, OR it was
    legitimately emptied (a GDPR forget that erased every row deletes the
    fully-erased partitions outright, leaving only the root _SUCCESS).
    Callers treat ``None`` as an empty report. A store holding FOREIGN
    content still raises (`store.read_store`)."""
    rows = read_store(spark, store_path)
    return None if rows is None else _merge_partials(rows)


def read_rollup(
    spark: SparkSession,
    store_path: str,
    by: tuple[str, ...] = ("day", "event_type"),
) -> DataFrame | None:
    """The report at any grain coarser than the store's: event count,
    EXACT distinct users (count of grain rows per group — the reason the
    store keys by user), exact-cents sum, min, max."""
    grain = read_rollup_grain(spark, store_path)
    if grain is None:
        return None
    return grain.groupBy(*by).agg(
        F.sum("n_events").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("sum_cents").alias("sum_cents"),
        F.min("min_cents").alias("min_cents"),
        F.max("max_cents").alias("max_cents"),
    )


def compact_rollup_store(
    spark: SparkSession, store_path: str, exclude: tuple[str, ...] = ()
) -> int:
    """Fold the batch partitions into ``batch_id=__compacted__``, summing
    partials at the grain (:func:`~.store.compact_store` with this
    store's fold — its crash protocol and its return value, the number
    of batch directories removed).

    HARD PRECONDITION — ``exclude``: batches that may still REPLAY (see
    :func:`~.store.checkpoint_replayable_ids`) must be excluded. A
    replayed batch rewrites its own ``batch_id=`` partition; if that
    partition was already folded, its partials would count twice."""
    return compact_store(spark, store_path, exclude, fold=_merge_partials)


def forget_user_from_rollup(
    spark: SparkSession,
    store_path: str,
    ids_df: DataFrame,
    *,
    audit_path: str | None = None,
) -> dict[str, int]:
    """GDPR forget over the rollup state: erase every grain row of the
    subject users across all partitions. EXACT by construction — the
    per-user grain means a subject's contribution is wholly contained in
    their own rows; no other key's aggregates change and no raw-event
    recompute is needed (the property a coarser store could not offer).
    Returns ``{batch_id: rows_erased}``. Run at quiescence, like every
    forget: a concurrently replayed batch would resurrect the partials.
    Over crashed-compaction residue the store listing finishes the
    committed fold first, so the subject's rows are erased — and
    audited — once."""
    from .forget import forget_matching_from_store

    return forget_matching_from_store(
        spark,
        store_path,
        ids_df,
        id_col="user_id",
        audit_path=audit_path,
    )
