"""Right-to-be-forgotten over DERIVED incremental state.

`sinks/forget.py::forget_keys` erases a subject from the published
tables; compliance also requires erasing them from the pipeline's
working state — the MinHash band store, the semantic signature store,
the perceptual-hash store — or the subject ghosts on: a re-submitted
document would still match the deleted subject's stored signatures and
be silently dropped as "duplicate of" data that legally no longer
exists.

``forget_ids_from_store`` rewrites exactly the store partitions that
contain the subject's rows (anti-join on the id column, dynamic
overwrite through the same ``commit_batch_partition`` the rungs use),
leaves every other partition untouched on disk, and returns a per-
partition removal manifest for the audit trail. Idempotent: a re-run
(or a crash-resume) removes nothing further and converges. After the
forget, re-ingesting the same content under a new id is NOVEL again —
the drill test pins that end-to-end through `incremental_dedup_batch`.

Scope note: this targets ID-CARRYING stores (band/semantic/phash rows
each name their ``doc_id``). Content-hash stores (the CDC chunk store
and the passage store hold ``(hash, len)`` only) carry no subject
linkage to erase by id; scrubbing specific CONTENT from them means
recomputing the hashes from the content and deleting those rows — the
caller owns that mapping, and the same function then applies with
``id_col="chunk_hash"``/``"passage_hash"``.

Reference scope note: the reference (dwp/dataworks-audit-data-ingest,
audit_data_ingest.py:1-313) has no state stores; this extends the
GDPR-forget surface the build brief adds beyond the reference.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.localrel import local_rows_df

from .store import (
    _hadoop_fs,
    _list_for_rewrite,
    _list_status,
    commit_batch_partition,
    read_batch,
)


def forget_ids_from_store(
    spark: SparkSession,
    store_path: str,
    ids: Sequence,
    *,
    id_col: str = "doc_id",
    audit_path: str | None = None,
) -> dict[str, int]:
    """Remove every row whose ``id_col`` is in ``ids`` from every batch
    partition of the store. Returns ``{batch_id: rows_removed}`` for the
    partitions that were rewritten (others are not touched on disk).
    ``audit_path``: append one manifest row recording the erasure
    (`incremental/audit.py` — the auditor-facing trail).
    """
    if not ids:
        return {}
    listed = _list_for_rewrite(spark, store_path)
    if listed is None:
        return {}
    fs, jvm, dirs = listed
    id_list = list(ids)
    removed: dict[str, int] = {}
    for bid in sorted(dirs):
        part = read_batch(spark, store_path, bid)
        if id_col not in part.columns:
            raise ValueError(
                f"store partition {bid!r} has no column {id_col!r}"
                f" (columns: {part.columns}); content-hash stores need the"
                " hash recomputed from content — see module docstring"
            )
        hits = part.filter(F.col(id_col).isin(id_list)).count()
        if hits == 0:
            continue
        kept = part.filter(~F.col(id_col).isin(id_list)).localCheckpoint()
        if kept.count() == 0:
            # dynamic overwrite writes nothing for an empty frame (no
            # partition values present), which would LEAVE the subject's
            # rows on disk — a fully-erased partition must be deleted
            # outright (same rule as sinks/forget.py's empty-partition
            # case)
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{store_path}/{dirs[bid]}"),
                True,
            )
        else:
            commit_batch_partition(kept, store_path, bid)
        removed[bid] = int(hits)
    if audit_path is not None:
        from .audit import record_audit

        record_audit(
            spark,
            audit_path,
            "forget_ids_from_store",
            sum(removed.values()),
            f"store={store_path} ids={len(id_list)}"
            f" partitions={sorted(removed)}",
        )
    return removed


def forget_matching_from_store(
    spark: SparkSession,
    store_path: str,
    ids_df,
    *,
    id_col: str = "doc_id",
    exclude_batch: str | None = None,
    audit_path: str | None = None,
) -> dict[str, int]:
    """`forget_ids_from_store` with the id set as a DATAFRAME — the form
    for removal sets too large to round-trip through the driver (e.g.
    every member of an affected near-dup component in the CC store's
    forget repair). Same partition-rewrite discipline: anti-join per
    partition, untouched partitions never rewritten, fully-erased
    partitions deleted outright, idempotent.

    The id set is taken from ``ids_df``'s ``id_col`` column when present;
    a single-column frame under any name is accepted (it IS the id set).
    A multi-column frame without ``id_col`` is rejected — silently using
    the first column would erase whatever happens to be positioned there.

    ``exclude_batch``: a partition to leave untouched — the CC forget's
    staged repair partition, which holds the POST-erasure labels and must
    survive the erasure pass that removes the pre-erasure rows."""
    listed = _list_for_rewrite(spark, store_path)
    if listed is None:
        return {}
    fs, jvm, dirs = listed
    if id_col in ids_df.columns:
        src_col = id_col
    elif len(ids_df.columns) == 1:
        src_col = ids_df.columns[0]
    else:
        raise ValueError(
            f"ids_df has columns {ids_df.columns} — none named {id_col!r};"
            " pass a single-column frame or one carrying the id column by"
            " name (positional guessing over a multi-column frame erases"
            " the wrong values)"
        )
    ids = (
        ids_df.select(F.col(src_col).alias(id_col))
        .distinct()
        .localCheckpoint()
    )
    if ids.limit(1).count() == 0:
        return {}
    removed: dict[str, int] = {}
    for bid in sorted(dirs):
        if exclude_batch is not None and bid == exclude_batch:
            continue
        part = read_batch(spark, store_path, bid)
        if id_col not in part.columns:
            raise ValueError(
                f"store partition {bid!r} has no column {id_col!r}"
                f" (columns: {part.columns})"
            )
        hits = part.join(ids, id_col, "left_semi").count()
        if hits == 0:
            continue
        kept = part.join(ids, id_col, "left_anti").localCheckpoint()
        if kept.count() == 0:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{store_path}/{dirs[bid]}"),
                True,
            )
        else:
            commit_batch_partition(kept, store_path, bid)
        removed[bid] = int(hits)
    if audit_path is not None:
        from .audit import record_audit

        record_audit(
            spark,
            audit_path,
            "forget_matching_from_store",
            sum(removed.values()),
            f"store={store_path} partitions={sorted(removed)}",
        )
    return removed


# ---------------------------------------------------------------------------
# Durable forget intents — crash-recoverable multi-store erasure.
#
# A forget that must erase SEVERAL stores (the join view's side op log
# plus the view itself) has a crash window between the erasures. The
# subject id set is typically DERIVED from the first store (the
# CDC-mirror example's shape), so a naive retry after a crash re-derives
# an EMPTY set from the already-erased store and silently leaves the
# other store's rows — personal data — on disk. The fix is a durable
# intent: persist the id set UNDER THE STORE ROOT before the first
# mutation, erase from the persisted copy, and clear the intent only
# after every store is clean. Recovery replays any surviving intent
# (each erasure is idempotent), so the only externally visible states
# are "not started" and "fully erased".

_PENDING_PREFIX = "_forget_pending_"


def persist_forget_intent(
    spark: SparkSession,
    root: str,
    ids_df,
    *,
    side: str,
    id_col: str,
    bucketed: bool,
    audit_path: str | None = None,
):
    """Durably record a forget request before any mutation. Returns
    ``(token, ids)`` where ``ids`` is the PERSISTED id set read back
    from disk (erasure must consume this copy, not the caller's lazy
    lineage), or ``None`` for an empty id set. The parquet write is the
    action that materializes the caller's lineage, so ids derived from
    the very store being erased are captured before it changes; the
    meta sidecar's ``_SUCCESS`` is the intent's commit marker — a
    pending dir without it crashed mid-persist, before any store was
    touched, and recovery simply drops it."""
    import uuid

    if id_col in ids_df.columns:
        src = id_col
    elif len(ids_df.columns) == 1:
        src = ids_df.columns[0]
    else:
        raise ValueError(
            f"ids_df has columns {ids_df.columns} — none named {id_col!r};"
            " pass a single-column frame or one carrying the id column"
        )
    ids = ids_df.select(F.col(src).alias(id_col)).distinct()
    token = uuid.uuid4().hex
    pend = f"{root}/{_PENDING_PREFIX}{token}"
    ids.write.parquet(f"{pend}/ids")
    persisted = spark.read.parquet(f"{pend}/ids")
    if persisted.limit(1).count() == 0:
        fs, jvm = _hadoop_fs(spark, root)
        fs.delete(jvm.org.apache.hadoop.fs.Path(pend), True)
        return None
    local_rows_df(
        spark,
        [(side, id_col, bool(bucketed), audit_path)],
        "side string, id_col string, bucketed boolean, audit_path string",
    ).coalesce(1).write.parquet(f"{pend}/meta")
    return token, persisted


def pending_forget_intents(spark: SparkSession, root: str) -> list[dict]:
    """Committed-but-uncleared forget intents under ``root`` (each one
    is an erasure that may have crashed mid-way and MUST be replayed).
    Torn intents (no meta ``_SUCCESS`` — crash before any mutation
    began) are rolled back here."""
    fs, jvm, statuses = _list_status(spark, root)
    out: list[dict] = []
    for s in statuses or ():
        name = s.getPath().getName()
        if not name.startswith(_PENDING_PREFIX):
            continue
        token = name[len(_PENDING_PREFIX):]
        pend = f"{root}/{name}"
        if not fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{pend}/meta/_SUCCESS")
        ):
            fs.delete(jvm.org.apache.hadoop.fs.Path(pend), True)
            continue
        row = spark.read.parquet(f"{pend}/meta").collect()[0]
        out.append(
            {
                "token": token,
                "side": row["side"],
                "id_col": row["id_col"],
                "bucketed": bool(row["bucketed"]),
                "audit_path": row["audit_path"],
                "ids_path": f"{pend}/ids",
            }
        )
    return sorted(out, key=lambda d: d["token"])


def clear_forget_intent(spark: SparkSession, root: str, token: str) -> None:
    """Commit point of a durable forget: every store is clean."""
    fs, jvm = _hadoop_fs(spark, root)
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(f"{root}/{_PENDING_PREFIX}{token}"),
        True,
    )
