"""Batch and streaming sink writers.

The reference's sink is S3 objects with envelope metadata — that lives in
``ingest.pipeline.encrypt_and_upload`` (the only sink needing custom code).
These are the engine's standard columnar sinks: partitioned parquet (the
lakehouse layout downstream analytics reads) and JSON lines.

Layout discipline for 100 TB: partition by the incremental key (``day``),
so the watermark filter on re-reads is partition pruning; size output files
via repartition before write (aim 128 MB-1 GB per file, never thousands of
KB-sized files per partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("day",),
    mode: str = "overwrite",
    files_per_partition: int | None = None,
) -> None:
    """Day-partitioned parquet sink (Hive layout ⇒ native partition
    pruning on read — the Spark-idiomatic form of the reference's
    `{prefix}{day}/` key scheme, `audit_data_ingest.py:172-173`)."""
    if files_per_partition is not None:
        df = df.repartition(files_per_partition, *partition_by)
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (interchange format of the audit payloads)."""
    df.write.mode(mode).json(path)


def start_parquet_stream_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    partition_by: tuple[str, ...] = (),
):
    """Streaming parquet file sink with exactly-once file commit via the
    checkpoint log (the built-in alternative to the foreachBatch S3 sink
    when per-object metadata isn't required), as one ``availableNow``
    drain."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer.start()


def _partition_dirs(root: str, depth: int) -> list[str]:
    """Hive ``key=value`` relative paths at ``depth`` under ``root``.

    Dot-hidden names are skipped even when they contain ``=``: the swap
    machinery's aside dirs (``.key=value.<nonce>``) and staging dirs are
    never partitions (the module-wide 'dot-hidden dirs are never parsed
    as a partition' contract), and counting one after an unclean crash
    would inflate compaction's repartition task count."""
    import os

    rels = [""]
    for _ in range(depth):
        nxt = []
        for rel in rels:
            base = os.path.join(root, rel) if rel else root
            for name in os.listdir(base):
                if name.startswith("."):
                    continue
                if "=" in name and os.path.isdir(os.path.join(base, name)):
                    nxt.append(os.path.join(rel, name) if rel else name)
        rels = nxt
    return rels


def _stage_dir(path: str) -> str:
    """A staging dir INSIDE the dataset root: same filesystem, so every
    swap below is an atomic ``os.rename`` (a /tmp stage often lives on a
    different filesystem, degrading moves to copy+delete that can fail
    half-way). The leading dot hides it from Spark's file listing."""
    import os
    import tempfile

    os.makedirs(path, exist_ok=True)
    return tempfile.mkdtemp(prefix=".staged_", dir=path)


def _swap_partition_dirs(staged: str, path: str, depth: int) -> None:
    """Crash-safe swap of each staged partition dir into the dataset.

    Per partition: rename the existing dir aside (to a dot-hidden sibling,
    invisible to readers and never parsed as a partition), rename the staged
    dir in, and only then delete the aside copy — all three are same-
    filesystem renames/removes, and the original data is never deleted
    before its replacement is in place. The swap is all-or-nothing ACROSS
    partitions too: a failure on partition N rolls every previously swapped
    partition back to its original (new data returns to staging, asides
    return in place), so readers never see a mixed old/new dataset after a
    failed multi-partition swap. A crash mid-rollback still loses nothing —
    every original survives either in place or in its dot-hidden aside. The
    unavoidable reader-visible window is the gap between two atomic
    renames, not a full rewrite.
    """
    import contextlib
    import os
    import shutil

    done: list[tuple[str, str, str | None]] = []  # (src, dest, aside)
    for rel in _partition_dirs(staged, depth):
        dest = os.path.join(path, rel)
        src = os.path.join(staged, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        aside = None
        if os.path.exists(dest):
            aside = os.path.join(
                os.path.dirname(dest), "." + os.path.basename(dest) + ".old"
            )
            if os.path.exists(aside):  # stale leftover from an older crash
                shutil.rmtree(aside)
            os.rename(dest, aside)
        try:
            os.rename(src, dest)
        except BaseException:
            if aside is not None:
                with contextlib.suppress(OSError):
                    os.rename(aside, dest)  # restore this partition
            # roll back every completed swap (best-effort: any partition
            # whose rename-back fails keeps its original in the aside dir)
            for psrc, pdest, paside in reversed(done):
                with contextlib.suppress(OSError):
                    os.rename(pdest, psrc)  # new data back to staging
                if paside is not None:
                    with contextlib.suppress(OSError):
                        os.rename(paside, pdest)  # original back in place
            raise
        done.append((src, dest, aside))
    # every swap succeeded: drop the aside copies and the staged skeleton
    for _, _, aside in done:
        if aside is not None:
            shutil.rmtree(aside, ignore_errors=True)
    shutil.rmtree(staged, ignore_errors=True)


def compact_parquet_partition(
    spark,
    path: str,
    target_files: int = 1,
    partition_filter: str | None = None,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Small-file compaction: rewrite a parquet location (optionally only the
    partitions matching ``partition_filter``) into compacted files per
    partition dir, preserving the Hive ``key=value`` layout.

    The small-files problem is the chronic failure mode of incremental
    sinks (every micro-batch adds files); compaction restores scan
    efficiency. Returns the number of rows rewritten. The rewrite is staged
    inside the dataset root and swapped in via atomic renames (rename the
    old dir aside, rename the new one in, then delete the old) — a crash at
    any point loses no data, and with ``partition_filter`` only the
    matching partition directories are swapped.
    """
    import os
    import shutil

    if partition_filter and not partition_by:
        raise ValueError(
            "partition_filter requires partition_by so the rewrite can be "
            "scoped to the matching partition directories"
        )

    df = spark.read.parquet(path)
    if partition_filter:
        df = df.filter(partition_filter)
    n = df.count()

    # Parallelism scales with the number of partition dirs — one writer
    # task per partition value (hash repartition on the key routes each
    # value to exactly one task => one compacted file per dir), never a
    # global single-task funnel. The task count comes from the directory
    # listing (free), NOT a distinct() scan of the data — an upper bound
    # when partition_filter narrows the set, which only costs empty tasks.
    if partition_by:
        n_parts = len(_partition_dirs(path, len(partition_by)))
        out = df.repartition(max(n_parts, 1), *partition_by)
    else:
        out = df.coalesce(max(target_files, 1))

    staged = _stage_dir(path)
    try:
        writer = out.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staged)

        if not partition_filter:
            # full rewrite, all renames: move the old top-level entries into
            # a hidden aside dir, rename the staged entries in, THEN delete
            # the aside — the old data outlives its replacement going live
            aside = staged + ".old"
            os.makedirs(aside)
            moved_old: list[str] = []
            try:
                for name in os.listdir(path):
                    if not name.startswith("."):
                        os.rename(
                            os.path.join(path, name), os.path.join(aside, name)
                        )
                        moved_old.append(name)
                for name in os.listdir(staged):
                    os.rename(os.path.join(staged, name), os.path.join(path, name))
            except BaseException:
                for name in moved_old:  # restore the original dataset
                    src, dst = os.path.join(aside, name), os.path.join(path, name)
                    if os.path.exists(src) and not os.path.exists(dst):
                        os.rename(src, dst)
                raise
            shutil.rmtree(aside, ignore_errors=True)
            shutil.rmtree(staged, ignore_errors=True)
            return n

        _swap_partition_dirs(staged, path, len(partition_by))
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    return n


def merge_upsert_partitioned(
    spark,
    path: str,
    updates: "DataFrame",
    key_cols: tuple[str, ...],
    partition_by: tuple[str, ...] = ("day",),
    order_col: str | None = None,
) -> int:
    """MERGE/upsert into a Hive-partitioned parquet dataset without a table
    format: rows in ``updates`` replace existing rows with the same key;
    new keys are inserted. Only the partitions present in ``updates`` are
    rewritten and swapped — untouched partitions keep their files (CDC-merge
    at the partition grain, the same discipline as compaction).

    ``order_col`` picks the winner among duplicate keys *within* updates
    (highest wins); by default the update row always beats the existing row.
    Returns the number of rows written into the rewritten partitions.

    Precondition (inherent to partition-grain CDC): the partition value must
    be stable per key — e.g. ``day`` derived from the record's immutable
    event date. If an update re-partitions a key, the old row in the
    now-untouched partition is NOT removed (removing it would require
    scanning the whole dataset, defeating the partition-scoped cost model);
    property test pins this contract.

    At 100 TB: cost ∝ data in the touched partitions, not the dataset —
    updates keyed to recent days rewrite only those days. The existing-side
    read is partition-pruned by an IN filter on the touched partition
    values (broadcast-sized by construction).
    """
    import shutil

    from pyspark.sql import Window

    if not partition_by:
        raise ValueError("merge_upsert_partitioned requires partition_by")

    touched = updates.select(*partition_by).distinct().collect()
    if not touched:
        return 0
    # partition-prune the existing side to the touched partitions only
    cond = None
    for row in touched:
        this = None
        for c in partition_by:
            eq = F.col(c) == F.lit(row[c])
            this = eq if this is None else (this & eq)
        cond = this if cond is None else (cond | this)

    existing = spark.read.parquet(path).filter(cond)
    # precedence: update rows beat existing rows; order_col beats both
    upd = updates.withColumn("_src", F.lit(1))
    old = existing.withColumn("_src", F.lit(0))
    unioned = upd.unionByName(old)
    order = (
        [F.col(order_col).desc(), F.col("_src").desc()]
        if order_col
        else [F.col("_src").desc()]
    )
    w = Window.partitionBy(*key_cols).orderBy(*order)
    merged = (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )

    n = merged.count()
    staged = _stage_dir(path)
    try:
        # one writer task per touched partition value (hash repartition on
        # the key routes each value to exactly one task) — parallelism
        # scales with the touched-partition count, never a repartition(1)
        # funnel through a single task
        (
            merged.repartition(max(len(touched), 1), *partition_by)
            .write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(staged)
        )
        _swap_partition_dirs(staged, path, len(partition_by))
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    return n


def write_partitioned_orc(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """ORC sink, same layout discipline as the parquet sink."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
