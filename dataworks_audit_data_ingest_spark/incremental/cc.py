"""Incremental connected components — merge-only maintenance of a
persisted min-label store.

Every near-dup CC in the batch path (`functions/graph.py`) recomputes
labels from the full edge set. A 100 TB re-crawl produces a trickle of
NEW candidate pairs per batch (the incremental dedup stores already
surface them); recomputing a corpus-wide CC per batch is O(corpus) work
for an O(batch) change. This module maintains the labels incrementally:

- **Store**: the shared batch-partitioned contract (`incremental/
  store.py`) holding ``(node_id, cluster_id)`` delta rows. Labels are
  MONOTONE — a merge can only lower a component's minimum — so the
  current label of a node is ``MIN(cluster_id)`` over all of its rows,
  an order-free fold. That is what makes the store replay- and
  compaction-safe with no ordering metadata: duplicate rows, stale rows
  and fold order all wash out in the MIN.
- **Update** (:func:`update_cc_store`): contract each new edge's
  endpoints to their current representative (one store read + broadcast
  join), run the batch CC kernel on the CONTRACTED edges — a graph the
  size of the batch, never the corpus — then emit delta rows for (a)
  nodes first seen in this batch and (b) members of components whose
  minimum dropped (one store scan against the broadcast remap). Merge
  work is proportional to the touched components only.
- **Replay**: the update reads the store EXCLUDING its own batch
  partition and commits via dynamic partition overwrite — the same
  discipline as the signature stores, so a crashed batch re-runs to an
  identical (or, after later batches landed, strictly-lower — still
  correct under the MIN fold) partition.
- **Compaction**: `store.compact_store` folds partitions with set
  semantics; the MIN-fold read is indifferent to the fold, so the
  generic compactor applies unchanged (drill-pinned).

Deletions cannot ride the monotone fold (removing an edge can SPLIT a
component); they are a scoped RECOMPUTE instead —
:func:`forget_ids_from_cc_store` erases a subject and relabels exactly
the affected components from the caller's surviving edge list, the same
rebuild-derived-state discipline as the rest of the GDPR-forget surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..functions.localrel import local_rows_df

from ..functions.graph import connected_components
from .store import commit_batch_partition, read_store


def read_cc_labels(
    spark: SparkSession, store_path: str, exclude_batch: str | None = None
) -> DataFrame | None:
    """Current labels ``(node_id, cluster_id)`` — the MIN fold over every
    delta row — or ``None`` when the store does not exist yet. With
    ``exclude_batch`` the named partition is left out (the update's
    replay discipline)."""
    prev = read_store(
        spark, store_path, exclude=() if exclude_batch is None else (exclude_batch,)
    )
    if prev is None:
        return None
    return prev.groupBy("node_id").agg(F.min("cluster_id").alias("cluster_id"))


def update_cc_store(
    spark: SparkSession,
    store_path: str,
    edges: DataFrame,
    batch_id: str,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Fold one batch of new edges into the label store; returns the delta
    written to ``batch_id=<id>``. Labels after the call (``read_cc_labels``)
    equal batch CC over the union of every batch's edges (drill-pinned).

    Scale shape: one MIN-fold read of the store (slim: two longs per
    node), one CC over the CONTRACTED batch graph (size of the batch),
    one broadcast-remap scan of the store for relabels. The corpus text/
    vectors are never touched."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("node_id"))
        .union(e.select(F.col("v").alias("node_id")))
        .distinct()
    )
    prev = read_cc_labels(spark, store_path, exclude_batch=batch_id)
    if prev is None:
        delta = connected_components(e, src="u", dst="v")
    else:
        lu = prev.select(
            F.col("node_id").alias("u"), F.col("cluster_id").alias("lu")
        )
        lv = prev.select(
            F.col("node_id").alias("v"), F.col("cluster_id").alias("lv")
        )
        contracted = (
            e.join(lu, "u", "left")
            .join(lv, "v", "left")
            .select(
                F.coalesce("lu", F.col("u")).alias("a"),
                F.coalesce("lv", F.col("v")).alias("b"),
            )
        )
        # CC over the label graph: node_id = an existing representative or
        # a first-seen node, cluster_id = the merged component's minimum
        merged = connected_components(contracted, src="a", dst="b")
        remap = merged.filter(F.col("node_id") != F.col("cluster_id")).select(
            F.col("node_id").alias("old_label"),
            F.col("cluster_id").alias("new_label"),
        )
        relabeled = prev.join(
            F.broadcast(remap), prev.cluster_id == F.col("old_label")
        ).select("node_id", F.col("new_label").alias("cluster_id"))
        node_rep = nodes.join(prev, "node_id", "left").select(
            "node_id", F.coalesce("cluster_id", F.col("node_id")).alias("rep")
        )
        batch_labels = node_rep.join(
            F.broadcast(remap), node_rep.rep == F.col("old_label"), "left"
        ).select(
            "node_id", F.coalesce("new_label", F.col("rep")).alias("cluster_id")
        )
        new_nodes = nodes.join(prev.select("node_id"), "node_id", "left_anti")
        delta = (
            batch_labels.join(new_nodes, "node_id", "left_semi")
            .unionByName(relabeled)
            .groupBy("node_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
    delta = delta.select("node_id", "cluster_id").localCheckpoint(eager=True)
    commit_batch_partition(delta, store_path, batch_id)
    return delta


def forget_ids_from_cc_store(
    spark: SparkSession,
    store_path: str,
    ids,
    surviving_edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    audit_path: str | None = None,
) -> dict[str, int]:
    """Right-to-be-forgotten over the CLUSTER state: erase ``ids`` from
    the label store AND repair everything their absence invalidates.

    Plain row deletion is not enough here, in two ways the generic
    `forget_ids_from_store` cannot see:

    - a forgotten node's id may survive as OTHER rows' ``cluster_id``
      (labels are component minima — ids outlive their own row);
    - removing a node can SPLIT its component (cut vertex), which a
      monotone min-label store cannot express incrementally.

    So the repair recomputes exactly the affected components: members of
    any cluster the subject touched (as member or as minimum) have their
    rows deleted alongside the subject's, and the batch CC kernel
    relabels them from ``surviving_edges`` (the caller's post-erasure
    edge list — the store itself keeps no edges; pass the regenerable
    pair list, e.g. the signature store's pairs after their own forget).
    Members with no surviving edge become singletons.

    Crash safety (persist → stage → erase → settle): the member set and
    a per-invocation partition token are durably written to an
    id-addressed ``_forget_pending_<digest>`` sidecar FIRST, the repair
    rows are committed to the token's ``__forget_<token>__`` partition
    SECOND, only THEN are old rows erased (excluding the staged
    partition), and the sidecar is deleted last. The token is fresh per
    invocation (recovered from the sidecar on resume): a later, settled
    forget of the same ids stages a NEW partition rather than
    dynamic-overwriting the earlier repair's still-live rows. Mid-protocol the MIN
    fold still reads the old labels (a sub-component's new minimum is
    never lower than the old component's), so readers see the pre-forget
    state until the erase completes. A re-run of the SAME request (same
    ids, same ``surviving_edges``) finds the sidecar, recovers the full
    member set from it — the current labels can no longer name every
    member once the erase is partially done — recommits the identical
    repair, completes the erase, and settles: crashed or repeated
    requests converge (idempotent). Once settled (sidecar gone) a re-run
    is a plain no-op — it does NOT re-derive members from the staged
    partition, so clusters that later batches legitimately grew are never
    re-split by a stale replay. Run at quiescence, like every forget (a
    concurrently replayed old batch could resurrect the erased id as a
    label).

    Returns ``{"nodes_forgotten": n, "members_relabeled": m}``; with
    ``audit_path`` the erasure lands in the audit manifest."""
    import hashlib

    id_list = sorted(set(ids))
    if not id_list:
        return {"nodes_forgotten": 0, "members_relabeled": 0}
    labels = read_cc_labels(spark, store_path)
    if labels is None:
        return {"nodes_forgotten": 0, "members_relabeled": 0}
    from .forget import forget_matching_from_store

    import uuid

    # the sidecar is ADDRESSED by the id set (so a crashed request is
    # rediscoverable) but the staged partition is NAMED by a per-
    # invocation token RECORDED IN the sidecar: a later, already-settled
    # forget of the same ids must get a FRESH partition — reusing an
    # id-derived name would dynamic-overwrite the earlier forget's
    # still-live repair rows (their only rows in the store). The leading
    # "_" keeps the sidecar invisible to _list_partitions' foreign-
    # content check and to every store read.
    id_digest = hashlib.md5(
        "|".join(str(i) for i in id_list).encode()
    ).hexdigest()[:12]
    pending_path = f"{store_path}/_forget_pending_{id_digest}"
    jvm = spark._jvm
    ppath = jvm.org.apache.hadoop.fs.Path(pending_path)
    fs = ppath.getFileSystem(spark._jsc.hadoopConfiguration())
    affected = (
        labels.filter(F.col("node_id").isin(id_list))
        .select("cluster_id")
        .union(
            labels.filter(F.col("cluster_id").isin(id_list)).select(
                "cluster_id"
            )
        )
        .distinct()
    )
    # the member set stays a DataFrame end to end — an affected near-dup
    # component can hold millions of docs at scale, which must never
    # round-trip through the driver as an isin list
    members = labels.join(
        F.broadcast(affected), "cluster_id", "left_semi"
    ).filter(~F.col("node_id").isin(id_list)).select("node_id")
    # resume: a pending sidecar from a crashed prior attempt names members
    # the (partially erased) labels may no longer reach — and carries the
    # staged partition's token, so the resume overwrites the SAME
    # partition the crashed run staged
    token = None
    sidecar_ok = False
    if fs.exists(ppath):
        try:
            side = spark.read.parquet(pending_path).localCheckpoint()
            trow = side.select("token").limit(1).collect()
            token = trow[0][0] if trow else None
            members = members.unionByName(
                side.select("node_id")
            ).distinct()
            sidecar_ok = True
        except Exception:
            # a partial sidecar can only come from a crash DURING the
            # initial write — i.e. BEFORE any store mutation, so the
            # labels alone are still complete: regenerate from scratch
            fs.delete(ppath, True)
    if token is None:
        token = uuid.uuid4().hex[:12]
    forget_bid = f"__forget_{token}__"
    members = members.localCheckpoint(eager=True)
    if not sidecar_ok:
        # PERSIST the member set + token before any mutation — the
        # re-run's recovery record (deleted only after the erase
        # completes, below). A complete sidecar is never rewritten:
        # overwriting would delete the only durable copy before the
        # replacement commits, re-opening the crash window it closes.
        members.withColumn("token", F.lit(token)).write.parquet(
            pending_path
        )
    subjects = local_rows_df(
        labels.sparkSession,
        [(i,) for i in id_list],
        labels.select("node_id").schema,
    )
    # relabel the surviving members from the post-erasure edges
    e = (
        surviving_edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v")
        )
        .filter(
            ~F.col("u").isin(id_list) & ~F.col("v").isin(id_list)
        )
        .join(members.select(F.col("node_id").alias("u")), "u", "left_semi")
        .join(members.select(F.col("node_id").alias("v")), "v", "left_semi")
    )
    relabeled = connected_components(e, src="u", dst="v")
    singles = members.join(
        relabeled.select("node_id"), "node_id", "left_anti"
    ).select("node_id", F.col("node_id").alias("cluster_id"))
    new_rows = relabeled.select("node_id", "cluster_id").unionByName(
        singles
    )
    # STAGE second: commit the repair before touching any old row, so a
    # crash between stage and erase can no longer lose memberships
    commit_batch_partition(new_rows, store_path, forget_bid)
    forget_matching_from_store(
        spark,
        store_path,
        members.unionByName(subjects),
        id_col="node_id",
        exclude_batch=forget_bid,
    )
    # SETTLE: erase complete — drop the recovery record so later replays
    # of this request are plain no-ops (labels-derived members only)
    fs.delete(ppath, True)
    n_members = members.count()
    if audit_path is not None:
        from .audit import record_audit

        record_audit(
            spark,
            audit_path,
            "forget_ids_from_cc_store",
            len(id_list),
            f"store={store_path} members_relabeled={n_members}",
        )
    return {
        "nodes_forgotten": len(id_list),
        "members_relabeled": n_members,
    }
