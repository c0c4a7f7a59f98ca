"""Shared batch-partitioned store contract for the incremental dedup
family — lexical bands (`text/incremental_dedup.py`), semantic signatures
(`text/incremental_semantic.py`), perceptual hashes
(`multimodal/incremental_phash.py`), and content-defined chunks
(`text/cdc.py`). All four rungs persist tiny per-item state in a parquet
store partitioned by ``batch_id`` and share one replay discipline; this
module is that discipline written once:

- **Read** (:func:`read_store_excluding_batch`): ``None`` means first
  batch (only PATH_NOT_FOUND — corrupt/permission/IO errors PROPAGATE; a
  swallowed read error would silently skip cross-batch dedup and admit
  duplicates). The current batch's own partition is EXCLUDED: on a
  replay (failure after the store write but before the downstream sink
  write) the store already holds this batch's rows, and reading them
  back would make every item self-match and silently drop the whole
  batch. Reads select the surviving partition directories by path, so
  the excluded partition is pruned before any reader state is built.
- **Commit** (:func:`commit_batch_partition`): rows land under
  ``batch_id=<id>`` via dynamic partition overwrite, so a replayed batch
  rewrites exactly its own partition — idempotent, the same
  commit-after-success discipline as the ingest watermark
  (`audit_data_ingest.py:65-68` in the reference).

Recovery precondition (documented once here, shared by every rung's
streaming wrapper): replay idempotency requires the SAME batch slicing —
streaming jobs must reuse their checkpoint on restart. A fresh checkpoint
with different slicing restarts batch_ids from 0 but leaves the old run's
higher-batch_id partitions in place, making genuinely new content look
non-novel; either redirect to a fresh store or clear partitions at/after
the restart point first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BATCH_COL = "batch_id"


def _list_partitions(spark: SparkSession, store_path: str):
    """(fs, jvm, {unescaped batch id -> directory name}) for the store, or
    ``None`` when the store path does not exist (first batch). Real IO
    errors propagate. Hadoop FS API so local disk, HDFS, and S3A all
    work; directory names are Hadoop %XX-escaped, ids are the unescaped
    strings callers use."""
    from urllib.parse import unquote

    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(store_path)
    fs = root.getFileSystem(hconf)
    try:
        # one metadata round-trip: missing path surfaces as
        # FileNotFoundException rather than a separate exists() probe
        # (on S3A that probe is an extra HEAD/LIST per batch)
        statuses = fs.listStatus(root)
    except Py4JJavaError as e:
        # match the exception CLASS, not the message: a path or wrapped
        # error whose text merely contains "FileNotFoundException" must
        # still PROPAGATE (a swallowed read error admits duplicates)
        klass = e.java_exception.getClass().getName()
        if klass.endswith("FileNotFoundException"):
            return None
        raise
    dirs = {}
    foreign = []
    for status in statuses:
        name = status.getPath().getName()
        # a stray root-level FILE named batch_id=... is foreign content,
        # not a partition — folding or recursively deleting it would be
        # wrong, and reading it as parquet would fail confusingly
        if name.startswith(f"{BATCH_COL}=") and status.isDirectory():
            dirs[unquote(name.split("=", 1)[1])] = name
        elif not name.startswith(("_", ".")):  # _SUCCESS etc. are ours
            foreign.append(name)
    if not dirs and foreign:
        # a populated path with no batch partitions is NOT a first batch:
        # treating a corrupt/foreign store as empty would silently skip
        # cross-batch dedup (the read_parquet_store_or_none lesson)
        raise ValueError(
            f"{store_path}: exists but is not a {BATCH_COL}=-partitioned "
            f"parquet store (found {foreign[:3]}); refusing to treat a "
            "corrupt store as a first batch"
        )
    return fs, jvm, dirs


def read_store_excluding_batch(
    spark: SparkSession, store_path: str, batch_id: str
) -> DataFrame | None:
    """The store minus the current batch's partition, or ``None`` on the
    first batch — see the module docstring for why both halves of that
    contract are load-bearing.

    The read selects the surviving partition DIRECTORIES by path instead
    of filtering an inferred ``batch_id`` column: partition-value
    inference coerces per style (a "007" directory reads back as the
    integer 7, which never compares equal to the string id "007"; mixed
    styles widen unpredictably), so the directory name — unescaped — is
    the only reliable identity for caller-chosen batch ids. Listing also
    prunes the excluded partition before any reader state is built.

    ``batch_id`` is coerced to ``str`` (directory names are strings, so
    an int 7 passed by a caller must exclude the "7" partition, exactly
    as the old column-comparison coercion did); empty ids are rejected —
    Spark writes them as ``__HIVE_DEFAULT_PARTITION__``, which could
    never match its directory-derived key on replay."""
    batch_id = _valid_id(batch_id)
    listed = _list_partitions(spark, store_path)
    if listed is None:
        return None
    _, _, dirs = listed
    keep = [name for bid, name in dirs.items() if bid != batch_id]
    if not keep:
        return None  # store holds only the current batch's own partition
    return spark.read.parquet(
        *[f"{store_path}/{name}" for name in sorted(keep)]
    )


_PAD = 12


def pad_batch_id(batch_id: int) -> str:
    """Streaming micro-batch int → lexicographically monotone store
    batch id (zero-padded: bare "10" sorts before "9" as a string, and
    everything order-sensitive — CDC op resolution, compaction's
    excluded-batches-sort-last precondition — compares ids
    lexicographically). THE id convention for every streaming rung;
    batch APIs accept any monotone string (ISO dates, padded
    sequences)."""
    return f"{int(batch_id):0{_PAD}d}"


def resolve_stream_batch_id(
    spark: SparkSession, store_path: str, batch_id: int
) -> str:
    """`pad_batch_id`, EXCEPT when this exact micro-batch already
    committed under the pre-padding BARE convention — i.e. a job
    upgraded in place is replaying the batch its old binary crashed on.
    Reusing the bare id makes the replay overwrite its own partition
    instead of duplicating the rows under the padded name. Only the
    replayed boundary batch can hit this (committed batches never
    re-run under the same checkpoint), so a store migrates to padded
    ids from the next batch on; bare legacy partitions sort BEFORE all
    padded ones, which is harmless for order-insensitive stores
    (append/additive rungs) — order-sensitive stores (the CDC op log)
    have used padded ids from birth."""
    bare = str(int(batch_id))
    listed = _list_partitions(spark, store_path)
    if listed is not None and bare in listed[2]:
        return bare
    return pad_batch_id(batch_id)


def _valid_id(batch_id) -> str:
    """Batch ids are DIRECTORY NAMES: coerce str/int (int 7 must address
    the "7" partition), reject everything else. ``None`` (an unset
    optional id) must not become a legitimate-looking "None" partition
    that independent buggy callers would share and dynamic-overwrite;
    empty strings would be written as ``__HIVE_DEFAULT_PARTITION__``,
    unmatchable on replay."""
    if not isinstance(batch_id, (str, int)) or isinstance(batch_id, bool):
        raise TypeError(
            f"batch_id must be a str or int, got {type(batch_id).__name__}"
        )
    s = str(batch_id)
    if not s:
        raise ValueError(
            "batch_id must be a non-empty string: an empty id is written "
            "as __HIVE_DEFAULT_PARTITION__ and can never be matched on "
            "replay or excluded from compaction"
        )
    return s


# Target rows per output file for batch commits whose size the caller
# already knows (~hundreds of MB at typical row widths — guide §6 file
# sizing). A delta-sized batch then produces delta-sized FILE COUNTS:
# without this, every tiny commit wrote one near-empty file per shuffle
# partition and the partitioned-write commit protocol dominated the
# incremental drills (measured 0.9 s → 0.35 s per fixture-scale commit).
_ROWS_PER_FILE = 4_000_000


def _sized(df: DataFrame, rows: int | None) -> DataFrame:
    """Coalesce a KNOWN-size (already materialized/checkpointed) batch to
    ceil(rows / _ROWS_PER_FILE) write tasks; identity when size unknown.
    Scale-adaptive by data volume: a 400M-row delta still writes ~100
    files in parallel."""
    if rows is None:
        return df
    return df.coalesce(max(1, -(-rows // _ROWS_PER_FILE)))


def commit_batch_partition(
    df: DataFrame, store_path: str, batch_id: str, rows: int | None = None
) -> None:
    """Write ``df`` as the store's ``batch_id=<id>`` partition via dynamic
    overwrite (replay ⇒ identical rewrite of exactly this partition).
    ``rows``: the caller's already-computed batch count — enables the
    file-count sizing of :func:`_sized` without an extra job."""
    (
        _sized(df, rows)
        .withColumn(BATCH_COL, F.lit(_valid_id(batch_id)))
        .write.mode("overwrite")
        .partitionBy(BATCH_COL)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(store_path)
    )


COMPACTED_ID = "__compacted__"

# A batch id no foreachBatch invocation can produce (Spark batch ids are
# integers): reading "excluding" it reads the WHOLE store.
_READ_ALL_ID = "__reader__"


def checkpoint_replayable_ids(
    spark: SparkSession, checkpoint_dir: str
) -> tuple[str, ...]:
    """The batch ids a restart of this Structured Streaming checkpoint may
    RE-RUN — exactly the ``exclude`` list :func:`compact_store`'s hard
    precondition requires, derived instead of hand-guessed.

    Spark's recovery contract: a batch with an ``offsets/<N>`` entry but
    no ``commits/<N>`` entry was planned but not confirmed complete, and
    the restart re-runs it with the same data slice; a committed batch
    never re-runs under the same checkpoint. So replayable =
    offsets − commits (usually empty after a clean availableNow
    termination, one id after a crash mid-batch). Listing uses the
    Hadoop FS API so the checkpoint can live on local disk, HDFS, or
    S3A like the store itself. A checkpoint directory that does not
    exist (stream never started) yields () — there is nothing to
    replay; the companion fresh-checkpoint hazard (old store partitions
    vs restarted batch ids) is documented in the module docstring and
    cannot be solved by an exclude list."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def _ids(sub: str) -> set[str]:
        p = jvm.org.apache.hadoop.fs.Path(f"{checkpoint_dir}/{sub}")
        fs = p.getFileSystem(hconf)
        try:
            statuses = fs.listStatus(p)
        except Py4JJavaError as e:
            if e.java_exception.getClass().getName().endswith(
                "FileNotFoundException"
            ):
                return set()
            raise
        out = set()
        for s in statuses:
            name = s.getPath().getName()
            if not name.startswith("."):  # .tmp / .crc staging entries
                out.add(name)
        return out

    planned = _ids("offsets")
    committed = _ids("commits")
    return tuple(sorted(planned - committed, key=lambda s: (len(s), s)))


def compact_store(
    spark: SparkSession, store_path: str, exclude: tuple[str, ...] = ()
) -> int:
    """Fold the store's batch partitions into one ``batch_id=__compacted__``
    partition and remove the originals; returns the number of partition
    directories removed.

    Why: every incremental batch reads the WHOLE store, and a long-lived
    job accumulates one ``batch_id=`` directory per batch — after 10⁴
    batches the file listing dwarfs the actual (tiny) store rows.
    Compaction restores O(1) partition count without changing any rung's
    semantics: store membership is consumed through anti-/band-joins, so
    row ORDER and PARTITION of the store never matter, only the set.

    HARD PRECONDITION — ``exclude``: a batch that may still be REPLAYED
    (at or after the streaming checkpoint's position, or the most recent
    batch of a manually driven job) must be listed in ``exclude``. The
    replay discipline works by excluding the current batch's own
    partition on read; folding a replayable batch into ``__compacted__``
    breaks that exclusion and the replay would self-match, silently
    marking the whole batch as duplicate. Batches strictly before the
    checkpoint can never re-run and are always safe to fold.

    Crash safety: the fold WRITES first (dynamic overwrite of
    ``__compacted__``) and DELETES second — and deletes ONLY the exact
    directory set it folded, snapshotted before the fold, so a batch a
    live job commits concurrently is neither folded nor deleted. A crash
    between the two steps leaves duplicate membership rows (compacted +
    original partitions), which is harmless — set-membership joins are
    idempotent to duplicates — and a re-run completes the deletion. The
    distinct() in the fold keeps the compacted partition itself
    duplicate-free.

    Identity discipline: batch ids are taken from the partition
    DIRECTORY names (Hadoop %XX-escaping undone), never from the
    type-inferred partition column — ``batch_id=007`` must compare
    against ``exclude=("007",)`` as the string "007", not as the
    inferred integer 7 — and the fold reads exactly the foldable
    directories by path, so there is no value-vs-directory mismatch
    anywhere.
    """
    # snapshot the directory set FIRST; everything (fold + delete)
    # operates on exactly this set, so a batch committed concurrently is
    # neither folded nor deleted
    listed = _list_partitions(spark, store_path)
    if listed is None:
        return 0  # not-yet-created store == legitimate empty state
    fs, jvm, dirs = listed
    if isinstance(exclude, str):
        # a bare string would iterate character-by-character, silently
        # NOT excluding the replayable batch — the hard-precondition
        # violation this parameter exists to prevent
        raise TypeError(
            "exclude must be a sequence of batch ids, not a bare string; "
            f"pass exclude=({exclude!r},)"
        )
    excluded = {_valid_id(x) for x in exclude}
    foldable = sorted(set(dirs) - (excluded - {COMPACTED_ID}))
    if foldable in ([], [COMPACTED_ID]):
        return 0
    # read exactly the foldable partition dirs by path (no partition
    # column materializes, so no inference can misidentify a batch)
    folded = spark.read.parquet(
        *[f"{store_path}/{dirs[bid]}" for bid in foldable]
    ).distinct()
    commit_batch_partition(folded, store_path, COMPACTED_ID)
    removed = 0
    for bid in foldable:
        if bid == COMPACTED_ID:
            continue  # just rewritten by the fold — never delete it
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{store_path}/{dirs[bid]}"), True
        )
        removed += 1
    return removed
