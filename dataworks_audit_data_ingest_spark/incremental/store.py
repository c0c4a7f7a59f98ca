"""Shared batch-partitioned store contract for the incremental dedup
family — lexical bands (`text/incremental_dedup.py`), semantic signatures
(`text/incremental_semantic.py`), perceptual hashes
(`multimodal/incremental_phash.py`), and content-defined chunks
(`text/cdc.py`). All four rungs persist tiny per-item state in a parquet
store partitioned by ``batch_id`` and share one replay discipline; this
module is that discipline written once:

- **Read** (:func:`read_store`, one batch :func:`read_batch`): the one
  reader every store goes through. ``None`` means first batch (only
  PATH_NOT_FOUND — corrupt/permission/IO errors PROPAGATE; a swallowed
  read error would silently skip cross-batch dedup and admit
  duplicates). It lists the store once, and batch identity is the
  DIRECTORY name, never the type-inferred ``batch_id`` column (a "007"
  directory reads back as the integer 7; mixed styles widen
  unpredictably), so the ``exclude`` batches are pruned by path before
  any reader state is built. An update excludes its own batch: on a
  replay (failure after the store write but before the downstream sink
  write) the store already holds this batch's rows, and reading them
  back would make every item self-match and silently drop the whole
  batch. Directories are read under their parquet footer schema, so a
  read starts no Spark job; with ``rank_col`` each directory is tagged
  with its batch id, the op stores' resolution order.
- **Commit** (:func:`commit_batch_partition`): rows land under
  ``batch_id=<id>`` via dynamic partition overwrite, so a replayed batch
  rewrites exactly its own partition — idempotent, the same
  commit-after-success discipline as the ingest watermark
  (`audit_data_ingest.py:65-68` in the reference).
- **Compact** (:func:`compact_store`): every store folds its old batch
  partitions into ``batch_id=__compacted__`` under ONE crash protocol, a
  staged swap — stage the fold in a ``_``-prefixed directory, commit a
  manifest of the folded directories, then swap. The store's own fold
  (distinct rows, summed partials, resolved op history) is a parameter.
  Contract: one maintainer per store; compaction and forget run between
  its batches; a reader finishes a committed fold. The last clause lives
  in :func:`_list_partitions`, which every read, update, forget and
  compaction goes through, so no caller makes a separate recovery call
  and no reader sees a folded partition beside the originals it
  replaced.

Recovery precondition (documented once here, shared by every rung's
streaming wrapper): replay idempotency requires the SAME batch slicing —
streaming jobs must reuse their checkpoint on restart. A fresh checkpoint
with different slicing restarts batch_ids from 0 but leaves the old run's
higher-batch_id partitions in place, making genuinely new content look
non-novel; either redirect to a fresh store or clear partitions at/after
the restart point first.
"""

from __future__ import annotations

import functools
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localrel import local_rows_df

BATCH_COL = "batch_id"
COMPACTED_ID = "__compacted__"
# the key-hash directory level under each batch of a bucketed join-view
# side store (`incremental/joinview.py`); a bucketed fold keeps it
BUCKET_COL = "__jv_bucket__"

# Compaction markers: the fold is staged under _FOLD_TMP<tok> (the
# leading "_" hides it from every store read and from the foreign-content
# check) and _FOLD_COMMIT<tok> is the manifest of the directories it
# folded, committed once the manifest's own _SUCCESS lands.
_FOLD = "_jv_fold_"
_FOLD_TMP = _FOLD + "tmp_"
_FOLD_COMMIT = _FOLD + "commit_"


def _hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem for ``path``, the py4j JVM view). The Hadoop FS
    API, so stores live on local disk, HDFS or S3A alike."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _list_status(spark: SparkSession, path: str):
    """(fs, jvm, statuses) for directory ``path``; ``statuses`` is
    ``None`` when the path does not exist. One metadata round-trip: a
    missing path surfaces as FileNotFoundException rather than a
    separate exists() probe (on S3A an extra HEAD/LIST per call)."""
    from py4j.protocol import Py4JJavaError

    fs, jvm = _hadoop_fs(spark, path)
    try:
        return fs, jvm, fs.listStatus(jvm.org.apache.hadoop.fs.Path(path))
    except Py4JJavaError as e:
        # match the exception CLASS, not the message: a path or wrapped
        # error whose text merely contains "FileNotFoundException" must
        # still PROPAGATE (a swallowed read error admits duplicates)
        klass = e.java_exception.getClass().getName()
        if klass.endswith("FileNotFoundException"):
            return fs, jvm, None
        raise


def _list_partitions(spark: SparkSession, store_path: str):
    """(fs, jvm, {unescaped batch id -> directory name}) for the store, or
    ``None`` when the store path does not exist (first batch). Real IO
    errors propagate. Directory names are Hadoop %XX-escaped, ids are
    the unescaped strings callers use.

    A fold whose commit manifest is durable but whose swap a crash cut
    short is finished here, from this one listing (:func:`compact_store`),
    and the store is listed again only then — so the partition set
    returned is always the one from before a fold or after it."""
    from urllib.parse import unquote

    fs, jvm, statuses = _list_status(spark, store_path)
    if statuses is None:
        return None
    if _finish_committed_folds(spark, fs, jvm, store_path, statuses):
        statuses = fs.listStatus(jvm.org.apache.hadoop.fs.Path(store_path))
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


def _list_for_rewrite(spark: SparkSession, store_path: str):
    """:func:`_list_partitions` for a maintainer about to fold or rewrite
    the store (compaction, forget). The listing has finished every
    committed fold, so a fold marker still standing belongs to a fold
    that never committed: its originals stand, and its staged rows —
    which may hold a subject a forget is erasing — are deleted."""
    listed = _list_partitions(spark, store_path)
    if listed is not None:
        fs, jvm, _ = listed
        for status in fs.listStatus(jvm.org.apache.hadoop.fs.Path(store_path)):
            if status.getPath().getName().startswith(_FOLD):
                fs.delete(status.getPath(), True)
    return listed


# the key under which Spark's parquet writer stores the row schema as JSON
# in every file footer; Spark's own schema inference reads it back
_SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"


def _first_data_file(fs, path):
    """The first file under ``path`` that a parquet read would include:
    names starting with "." and "_" are hidden, except "_"-prefixed
    ``k=v`` partition directories. ``None`` for a directory without one."""
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if name.startswith(".") or (name.startswith("_") and "=" not in name):
            continue
        if not status.isDirectory():
            return status.getPath()
        found = _first_data_file(fs, status.getPath())
        if found is not None:
            return found
    return None


def _dir_schema(spark: SparkSession, path: str):
    """The data schema ``spark.read.parquet(path)`` infers for one store
    directory, read from a data file's footer on the driver: Spark's own
    inference reads the same footer, but from a one-task Spark job per
    directory. ``None`` when the directory holds no data file or the file
    was not written by Spark; the caller then lets Spark infer."""
    import json

    from pyspark.sql.types import StructType

    fs, jvm = _hadoop_fs(spark, path)
    data = _first_data_file(fs, jvm.org.apache.hadoop.fs.Path(path))
    if data is None:
        return None
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            data, spark._jsc.hadoopConfiguration()
        )
    )
    try:
        meta = reader.getFooter().getFileMetaData().getKeyValueMetaData()
        found = meta.get(_SPARK_SCHEMA_KEY)
    finally:
        reader.close()
    return None if found is None else StructType.fromJson(json.loads(found))


def read_batch_dirs(
    spark: SparkSession, store_path: str, *names: str
) -> DataFrame:
    """The store's batch directories ``names`` without the
    schema-inference job: the schema is the first directory's
    (:func:`_dir_schema`), as Spark's inference, which reads one footer,
    would take it. Read from the store's ``basePath``, so partition
    directories below (a join-view side's bucket level) are discovered;
    so is ``batch_id``, type-inferred and therefore dropped unread. A
    caller that must notice a directory whose columns differ reads each
    directory on its own and unions them: the union fails, where one
    read under a shared schema would fill the missing columns with
    NULLs."""
    paths = [f"{store_path}/{name}" for name in names]
    schema = _dir_schema(spark, paths[0])
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.option("basePath", store_path).parquet(*paths).drop(BATCH_COL)


def _rank_of(bid: str) -> str:
    # the compacted partition is the FOLDED PREFIX of the batch history,
    # so it must sort before every live batch id; "" does, for any
    # non-empty id (_valid_id rejects empty)
    return "" if bid == COMPACTED_ID else bid


def _excluded(exclude) -> set[str]:
    if isinstance(exclude, str):
        # a bare string would iterate character-by-character, silently
        # NOT excluding the replayable batch — the hard-precondition
        # violation this parameter exists to prevent
        raise TypeError(
            "exclude must be a sequence of batch ids, not a bare string; "
            f"pass exclude=({exclude!r},)"
        )
    return {_valid_id(x) for x in exclude}


def _read_dirs(
    spark: SparkSession,
    store_path: str,
    dirs: dict[str, str],
    rank_col: str | None = None,
) -> DataFrame | None:
    """The ``{batch id: directory name}`` directories of the store, read
    as :func:`read_store` describes; ``None`` when ``dirs`` is empty."""
    if not dirs:
        return None
    ids = sorted(dirs)
    if rank_col is None:
        return read_batch_dirs(spark, store_path, *[dirs[b] for b in ids])
    return functools.reduce(
        DataFrame.unionByName,
        [
            read_batch_dirs(spark, store_path, dirs[b]).withColumn(
                rank_col, F.lit(_rank_of(b))
            )
            for b in ids
        ],
    )


def read_store(
    spark: SparkSession,
    store_path: str,
    *,
    exclude=(),
    rank_col: str | None = None,
) -> DataFrame | None:
    """The store's committed rows without the ``batch_id`` column, minus
    the ``exclude`` batches; ``None`` when the store does not exist or no
    batch directory is left (module docstring). The surviving
    directories come from one :func:`_list_partitions` and are read by
    :func:`read_batch_dirs`. With ``rank_col`` each directory is read on
    its own and tagged with its batch id under that name (``""`` for
    ``__compacted__``, the folded prefix of history), and the parts are
    unioned by name, so directories whose columns differ fail here
    instead of reading back NULLs."""
    excluded = _excluded(exclude)
    listed = _list_partitions(spark, store_path)
    if listed is None:
        return None
    keep = {bid: name for bid, name in listed[2].items() if bid not in excluded}
    return _read_dirs(spark, store_path, keep, rank_col)


def read_batch(
    spark: SparkSession, store_path: str, batch_id: str
) -> DataFrame | None:
    """One batch's committed rows (a change feed), read as
    :func:`read_store` reads; ``None`` when the store or the batch is
    absent — a batch already folded by compaction included."""
    listed = _list_partitions(spark, store_path)
    if listed is None:
        return None
    batch_id = _valid_id(batch_id)
    dirs = listed[2]
    if batch_id not in dirs:
        return None
    return _read_dirs(spark, store_path, {batch_id: dirs[batch_id]})


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

    def _ids(sub: str) -> set[str]:
        statuses = _list_status(spark, f"{checkpoint_dir}/{sub}")[2]
        return {
            s.getPath().getName()
            for s in statuses or ()
            # .tmp / .crc staging entries
            if not s.getPath().getName().startswith(".")
        }

    planned = _ids("offsets")
    committed = _ids("commits")
    return tuple(sorted(planned - committed, key=lambda s: (len(s), s)))


def compact_store(
    spark: SparkSession,
    store_path: str,
    exclude: tuple[str, ...] = (),
    *,
    fold=None,
    rank_col: str | None = None,
    bucketed: bool = False,
) -> int:
    """Fold the store's batch partitions into one ``batch_id=__compacted__``
    partition and remove the originals; returns the number of batch
    directories removed (a previous ``__compacted__`` is folded in again,
    never counted).

    Why: every incremental batch reads the WHOLE store, and a long-lived
    job accumulates one ``batch_id=`` directory per batch — after 10⁴
    batches the file listing dwarfs the actual (tiny) store rows.

    HARD PRECONDITION — ``exclude``: a batch that may still be REPLAYED
    (at or after the streaming checkpoint's position, or the most recent
    batch of a manually driven job) must be listed in ``exclude``. The
    replay discipline works by excluding the current batch's own
    partition on read; folding a replayable batch into ``__compacted__``
    breaks that exclusion and the replay would self-match, silently
    marking the whole batch as duplicate. Batches strictly before the
    checkpoint can never re-run and are always safe to fold.

    ``fold`` is the store's own fold: it receives the foldable rows
    WITHOUT the batch column and returns the folded rows. The default,
    ``distinct()``, serves the set-membership stores, whose rows are
    consumed through anti-/band-joins, so only the set matters. With
    ``rank_col`` set, each foldable directory is read on its own and
    tagged with its batch id under that name (``""`` for the compacted
    partition, the folded prefix of history) — the CDC op stores'
    resolution order, taken from trusted directory names; the
    type-inferred partition column would misorder "10" vs 9. Excluded
    batches must then all sort after every folded one. ``bucketed``
    folds per ``(batch, bucket)`` so a join-view side store's compacted
    partition keeps the directory level its pruned reads rely on.

    The crash protocol, the same for every store, under the contract
    "one maintainer per store; compaction and forget run between its
    batches; a reader finishes a committed fold" (`swap.py` states the
    same one):

    1. uncommitted residue of an earlier crashed fold is deleted
       (:func:`_list_for_rewrite`);
    2. the fold is written under ``_jv_fold_tmp_<tok>``, which no read
       sees (an empty fold stages an empty ``__compacted__``);
    3. the commit point: the manifest ``_jv_fold_commit_<tok>`` names
       every folded directory and is durable once its ``_SUCCESS`` lands;
    4. the swap (:func:`_complete_fold`): the old ``__compacted__`` is
       deleted, the staged one renamed into place (an empty one is
       dropped instead), the folded originals and both markers deleted.

    A crash before step 3 leaves the originals as the truth; after it,
    the next listing of the store (:func:`_list_partitions`) finishes
    step 4. No reader ever counts a folded row twice, which additive
    partials, z-set signs and join-view rows could not absorb. The
    directory set is snapshotted once, so a batch committed after the
    snapshot is neither folded nor deleted.

    Identity discipline: batch ids are taken from the partition
    DIRECTORY names (Hadoop %XX-escaping undone), never from the
    type-inferred partition column — ``batch_id=007`` must compare
    against ``exclude=("007",)`` as the string "007", not as the
    inferred integer 7 — and the fold reads exactly the foldable
    directories by path, so there is no value-vs-directory mismatch
    anywhere.
    """
    excluded = _excluded(exclude)
    listed = _list_for_rewrite(spark, store_path)
    if listed is None:
        return 0  # not-yet-created store == legitimate empty state
    fs, jvm, dirs = listed
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
    rows = _read_dirs(
        spark, store_path, {bid: dirs[bid] for bid in foldable}, rank_col
    )
    folded = rows.distinct() if fold is None else fold(rows)
    tok = uuid.uuid4().hex[:12]
    staged = f"{store_path}/{_FOLD_TMP}{tok}"
    (
        folded.withColumn(BATCH_COL, F.lit(COMPACTED_ID))
        .write.mode("overwrite")
        .partitionBy(*([BATCH_COL, BUCKET_COL] if bucketed else [BATCH_COL]))
        .parquet(staged)
    )
    # a fold with no rows (every key deleted, every group retracted)
    # writes no partition directory: stage an empty one, so the swap
    # still knows it has not happened and deletes the old __compacted__
    fs.mkdirs(
        jvm.org.apache.hadoop.fs.Path(f"{staged}/{BATCH_COL}={COMPACTED_ID}")
    )
    # the commit point (an Arrow local relation: createDataFrame(list)'s
    # python-RDD write costs ~4 s per fold at local[32] —
    # functions/localrel.py)
    manifest = [dirs[bid] for bid in foldable]
    local_rows_df(
        spark, [(d,) for d in manifest], "dir string"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{store_path}/{_FOLD_COMMIT}{tok}"
    )
    _complete_fold(fs, jvm, store_path, tok, manifest)
    return sum(1 for bid in foldable if bid != COMPACTED_ID)


def _finish_committed_folds(spark, fs, jvm, store: str, statuses) -> bool:
    """Finish every fold among ``statuses`` whose manifest committed;
    True when there was one. Committed vs torn is decided on the
    manifest's OWN _SUCCESS: a manifest torn mid-write names an
    incomplete set and must never drive deletes. A manifest that is
    committed but unreadable raises."""
    tokens = sorted(
        name[len(_FOLD_COMMIT):]
        for name in (s.getPath().getName() for s in statuses)
        if name.startswith(_FOLD_COMMIT)
        and fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{store}/{name}/_SUCCESS")
        )
    )
    for tok in tokens:
        # logs a benign "WARN DataSource: All paths were ignored": the
        # manifest dir is _-prefixed (which hides it from store reads),
        # and Spark still reads an EXPLICITLY-given path
        rows = spark.read.parquet(f"{store}/{_FOLD_COMMIT}{tok}").collect()
        _complete_fold(fs, jvm, store, tok, [r.dir for r in rows])
    return bool(tokens)


def _complete_fold(fs, jvm, store: str, tok: str, manifest: list[str]) -> None:
    """Step 4 of :func:`compact_store`'s protocol over the ``manifest``
    directories. Every step is idempotent, so a crash inside it is
    finished by the next listing."""

    def _p(rel: str):
        return jvm.org.apache.hadoop.fs.Path(f"{store}/{rel}")

    compacted = f"{BATCH_COL}={COMPACTED_ID}"
    staged = _p(f"{_FOLD_TMP}{tok}/{compacted}")
    if fs.exists(staged):
        # not swapped yet, so a __compacted__ standing now is the
        # pre-fold one (in the manifest): free the rename target
        fs.delete(_p(compacted), True)
        if len(fs.listStatus(staged)) == 0:
            fs.delete(staged, True)  # an empty fold: nothing to swap in
        elif not fs.rename(staged, _p(compacted)):
            # the Hadoop rename contract returns False instead of raising
            raise OSError(f"{store}: rename of the staged fold {tok} failed")
    for d in manifest:
        if d != compacted:
            fs.delete(_p(d), True)
    fs.delete(_p(f"{_FOLD_TMP}{tok}"), True)
    fs.delete(_p(f"{_FOLD_COMMIT}{tok}"), True)
