"""The ingest pipeline: Spark-first rebuild of the reference's driver loop
(`audit_data_ingest.py:36-68` and the CLI block `:235-313`).

Shape (SURVEY.md §3.4): driver-side listing of the day directories
strictly after the watermark → per day, a ``binaryFile`` scan of that
directory → one Arrow-batched ``mapInPandas`` stage that compresses,
encrypts and puts each record to S3 with per-object envelope metadata →
per-day all-or-nothing watermark commit, in day order, while up to four
day jobs run at once. Streaming ingest
(``streaming/jobs.py``) runs every micro-batch through the same kernel.

What the reference hand-rolled and Spark absorbs (SURVEY.md §4):
- `hdfs dfs -ls` subprocess (`:134-139`) → Hadoop ``FileSystem.listStatus``
  on the driver: the top level once, then each new day (no Spark job)
- `copyToLocal` staging + cleanup (`:153-166`, `:207-210`) → eliminated;
  executors read source splits directly
- ThreadPoolExecutor fan-out (`:82-90`) → task scheduling, one task per
  input partition; a driver-side pool keeps several day jobs in flight
  (the reference runs days one at a time only to bound its local
  staging, which this rebuild does not have)
- all-or-nothing day verdict (`:96-104`) → Spark job success/failure
"""

from __future__ import annotations

import base64
import functools
import json
import logging
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import date, datetime
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..session import tune
from .crypto import EnvelopeEncryptor
from .watermark import find_start_date, update_progress_file

logger = logging.getLogger(__name__)

@dataclass
class IngestConfig:
    """Job config tuple — (source, prefix, watermark-id) parameterization,
    mirroring how the reference deploys the same script for audit and
    equalities datasets (`ci/meta.yml:179-186`, SURVEY.md §3.3)."""

    src_dir: str
    s3_bucket: str
    # NB: concatenated to the day with NO inserted '/' — the prefix carries
    # its own trailing separator (`audit_data_ingest.py:172-173`, quirk 5).
    s3_prefix: str
    hsm_key_id: str  # "cloudhsm:privkeyid:pubkeyid" format (`:267-271`)
    rsa_public_key_pem: bytes
    progress_file: str
    aws_region: str = "eu-west-2"  # CLI default (`:275-280`)
    retries: int = 10  # botocore standard mode (`:190-197`, `:260-265`)
    s3_endpoint_url: str | None = None  # test seam (moto)
    extra_boto_kwargs: dict = field(default_factory=dict)


def fetch_hsm_key(
    param_name: str, region: str, endpoint_url: str | None = None
) -> bytes:
    """SSM-parameter fetch of the base64 RSA public key, driver-side once per
    run (`audit_data_ingest.py:200-204`; decoded at `:78`). The decoded bytes
    travel to executors via task closures (the broadcast analog of `:86-88`)."""
    import boto3

    ssm = boto3.client("ssm", region_name=region, endpoint_url=endpoint_url)
    value = ssm.get_parameter(Name=param_name, WithDecryption=True)["Parameter"][
        "Value"
    ]
    return base64.b64decode(value)


def day_columns() -> list:
    """The day rule, shared by :func:`scan_source` and the streaming twin:
    a scanned file's ``(path, basename, day)``, with ``day`` parsed from
    the immediate parent directory name, exactly what ``filter_date``
    parses (`audit_data_ingest.py:26-33`). Non-date directories yield
    NULL."""
    return [
        "path",
        F.element_at(F.split("path", "/"), -1).alias("basename"),
        F.expr(
            r"TRY_TO_DATE(REGEXP_EXTRACT(path, '([^/]+)/[^/]+$', 1), 'yyyy-MM-dd')"
        ).alias("day"),
    ]


def scan_source(spark: SparkSession, src_dir: str) -> DataFrame:
    """R1: the reference's copy to local disk becomes a ``binaryFile`` scan
    that executors read directly, projected by :func:`day_columns`.
    Non-date directories yield a NULL ``day`` and are skipped
    (warn-and-exclude semantics, `audit_data_ingest.py:30-32`)."""
    tune(spark)
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(src_dir)
    )
    return df.select(*day_columns(), "length", "content")


def filter_after_watermark(df: DataFrame, watermark: date | None) -> DataFrame:
    """R2: strictly-greater partition predicate — the committed day itself is
    never reprocessed on resume (`audit_data_ingest.py:33`). With a Hive
    `day=` layout this is pure partition pruning; here it prunes via the
    derived column.

    Deliberate deviation from the reference's first run: with no progress
    file the reference skips ``filter_date`` entirely and would process
    every listed path, non-dated directories included
    (`audit_data_ingest.py:145-146`); the warn-and-exclude of non-dated
    dirs (`:30-32`) only applies once a start date exists. Here non-dated
    directories are ALWAYS dropped (``day IS NOT NULL``) — a non-dated dir
    can never be watermark-committed, so processing it on run 1 and then
    re-processing it on every subsequent run is the less defensible
    behavior; excluding it uniformly keeps runs idempotent."""
    df = df.filter(F.col("day").isNotNull())
    if watermark is not None:
        df = df.filter(F.col("day") > F.lit(watermark))
    return df


_AUDIT_SCHEMA = "day string, basename string, s3_key string, n_bytes long"


@functools.lru_cache(maxsize=8)
def _s3_client(region: str, endpoint_url: str | None, retries: int, extra_items: tuple):
    """One boto3 S3 client per Python worker and config, reused by every task
    the worker runs: creating one costs 17-35 ms (PERF.md "Pipelined
    backfill"). Module-level on purpose: cloudpickle ships a module-level
    function by reference, so the cache lives in the worker process; a dict
    captured by a task closure would be copied into every task. boto3
    clients are thread-safe."""
    import boto3
    from botocore.config import Config

    return boto3.client(
        "s3",
        region_name=region,
        endpoint_url=endpoint_url,
        # botocore standard mode (`audit_data_ingest.py:190-197`, `:260-265`)
        config=Config(retries={"max_attempts": retries, "mode": "standard"}),
        **dict(extra_items),
    )


def _client_args(cfg: IngestConfig) -> tuple:
    """:func:`_s3_client`'s arguments for ``cfg``, hashable for its cache."""
    return (
        cfg.aws_region,
        cfg.s3_endpoint_url,
        cfg.retries,
        tuple(sorted(cfg.extra_boto_kwargs.items())),
    )


def encrypt_and_upload(df: DataFrame, cfg: IngestConfig) -> DataFrame:
    """R4+R5+R6+R11: compress+encrypt+upload in ONE Python stage.

    Per-object metadata is outside DataFrameWriter's model, so each task
    puts its objects with its worker's cached boto3 client (botocore
    standard-mode retries, `audit_data_ingest.py:169-197`) and one RSA key.
    Ciphertext never leaves its task; only audit rows (key, size) cross
    back (PERF.md). An action on the returned frame drives the upload; any
    task failure fails the job.
    """
    pem, key_id = cfg.rsa_public_key_pem, cfg.hsm_key_id
    client_args = _client_args(cfg)

    def batches(it):
        import pandas as pd

        client = _s3_client(*client_args)
        enc = EnvelopeEncryptor(pem, key_id)
        for pdf in it:
            out = {"day": [], "basename": [], "s3_key": [], "n_bytes": []}
            for day, basename, content in zip(
                pdf["day"].astype(str), pdf["basename"], pdf["content"]
            ):
                rec = enc.encrypt_record(bytes(content))
                # no separator after the prefix; suffix says .gz but the
                # framing is zlib (`audit_data_ingest.py:117,172-173`)
                key = f"{cfg.s3_prefix}{day}/{basename}.gz.enc"
                client.put_object(
                    Bucket=cfg.s3_bucket,
                    Key=key,
                    Body=rec.ciphertext,
                    Metadata=rec.metadata(),
                )
                out["day"].append(day)
                out["basename"].append(basename)
                out["s3_key"].append(key)
                out["n_bytes"].append(len(rec.ciphertext))
            yield pd.DataFrame(out)

    # guide §4: ship only the three columns the fused kernel reads
    return df.select("day", "basename", "content").mapInPandas(
        batches, schema=_AUDIT_SCHEMA
    )


class NewDay(NamedTuple):
    """A day directory :func:`list_new_days` keeps: its path, and the count
    and total size of the files a ``binaryFile`` scan of it reads."""

    path: str
    files: int
    bytes_in: int


def _day_of(name: str) -> date | None:
    """The day a directory name denotes. Only the zero-padded
    ``YYYY-MM-DD`` form counts: it is the one form the ``TRY_TO_DATE`` in
    :func:`scan_source` parses (``strptime`` alone also takes
    ``2020-1-5``)."""
    try:
        day = datetime.strptime(name, "%Y-%m-%d").date()
    except ValueError:
        return None
    return day if day.isoformat() == name else None


def _hidden(name: str) -> bool:
    """Spark's file index skips these names (``HadoopFSUtils
    .shouldFilterOutPathName``): ``_``/``.`` prefixes except Parquet's
    summary files and ``_k=v`` partitions, and in-flight ``._COPYING_``
    copies."""
    skip = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return skip and not name.startswith(("_common_metadata", "_metadata"))


def _hadoop_path(spark: SparkSession, path: str):
    """``path`` as a Hadoop ``Path``, and the ``FileSystem`` that serves it."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())


def qualified_path(spark: SparkSession, path: str) -> str:
    """``path`` qualified by its ``FileSystem`` (scheme, authority, absolute
    path): the form in which Spark's file sources report the files they
    read."""
    p, fs = _hadoop_path(spark, path)
    return fs.makeQualified(p).toString()


def list_new_days(
    spark: SparkSession, src_dir: str, watermark: date | None
) -> dict[date, NewDay]:
    """R1+R2 on the driver, as the reference lists (`audit_data_ingest.py:
    26-33,129-150`): one ``listStatus`` of ``src_dir`` keeps the
    directories named as a day strictly after ``watermark``, then one
    ``listStatus`` per kept day counts the plain files directly in it that
    ``binaryFile`` reads. Returns the days holding at least one such file,
    in ascending order. Non-date entries are always dropped (the first-run
    deviation in :func:`filter_after_watermark`). No Spark job runs."""
    root, fs = _hadoop_path(spark, src_dir)
    days = {}
    for status in fs.listStatus(root):
        path = status.getPath()
        day = _day_of(path.getName())
        if day is None or (watermark is not None and day <= watermark):
            continue
        if not status.isDirectory():  # a file named as a day
            continue
        sizes = [
            f.getLen()
            for f in fs.listStatus(path)
            if f.isFile() and not _hidden(f.getPath().getName())
        ]
        if sizes:
            days[day] = NewDay(path.toString(), len(sizes), sum(sizes))
    return dict(sorted(days.items()))


# Day jobs in flight at once during a backfill. Spark's FIFO scheduler gives
# free slots to the earliest job first, so tasks and memory stay bounded by
# the executor slots, not by this window; the window hides each day's
# driver-side plan build and job tail behind its neighbours' tasks (PERF.md
# "Pipelined backfill").
_DAYS_IN_FLIGHT = 4


def _ingest_day(spark: SparkSession, cfg: IngestConfig, day: date, path: str):
    """One day's job, over that day's directory only. Returns the objects
    uploaded and the seconds from plan build to the end of the job."""
    t0 = time.perf_counter()
    # only the files directly in the day's directory, the ones the listing
    # counted: a nested `day/day/x` would overwrite the key of `day/x`
    day_df = scan_source(spark, path).filter(
        F.regexp_extract("path", "^(.*)/[^/]+$", 1) == F.lit(path)
    )
    objects = encrypt_and_upload(day_df, cfg).count()
    return objects, time.perf_counter() - t0


def _warn_uncommitted(failed: date, watermark: date | None, jobs: dict) -> None:
    """After day ``failed`` could not be committed and the pool has shut
    down: warn which later days uploaded but stay uncommitted. The next run
    re-uploads them under the same keys."""
    uploaded = [
        day.isoformat()
        for day, job in jobs.items()
        if day > failed and not job.cancelled() and job.exception() is None
    ]
    logger.warning(
        json.dumps(
            {
                "failed_day": failed.isoformat(),
                "watermark": watermark and watermark.isoformat(),
                "uploaded_uncommitted": uploaded,
            }
        )
    )


def run_ingest(spark: SparkSession, cfg: IngestConfig) -> list[date]:
    """R13: the per-day driver loop. Each day is one Spark job over that
    day's directory only; up to four day jobs are in flight at once
    (``_DAYS_IN_FLIGHT``), each on its own thread under the caller's job
    group, description and tags. Days are committed strictly in ascending
    order on the calling thread: a day's watermark is written only after
    its job and every earlier day's succeeded (at-least-once over an
    idempotent overwrite sink, `audit_data_ingest.py:49-68,96-104`). A run
    with nothing new starts no thread and no Spark job.

    On a failure, the first failed day in day order is raised: no later
    day is committed, later days not yet started are cancelled, those in
    flight are waited for, and one WARNING JSON line names the later days
    that uploaded but stay uncommitted (``uploaded_uncommitted``). The next
    run retries from the failed day and re-uploads those under the same
    keys.

    Each committed day logs one JSON record: ``day``, ``files`` and
    ``bytes_in`` (from the listing), ``objects`` (uploaded), ``seconds``
    (the day's job on its thread, from plan build to the end of its last
    task; while days overlap it includes waits for executor slots and
    excludes the wait for earlier days' commits), ``MBps``,
    ``watermark_before`` and ``watermark_after``.

    Returns the list of committed days.
    """
    watermark = find_start_date(cfg.progress_file)
    days = list_new_days(spark, cfg.src_dir, watermark)
    if not days:
        logger.info("nothing newer than %s under %s", watermark, cfg.src_dir)
        return []

    # once, on this thread, so the day threads never race to ship the package
    tune(spark)
    # NB on small-file parallelism: binaryFile packing is governed by
    # maxPartitionBytes AND openCostInBytes (default 4 MB per file), so a day
    # of small files already fans out to ~max(1, bytes/(size+4MB)·cores)
    # tasks — measured 29 tasks for 200×1 MB files at defaults. Shrinking
    # maxPartitionBytes below default only added per-task overhead
    # (measured 38→26 MB/s); the defaults are kept deliberately.
    with ThreadPoolExecutor(_DAYS_IN_FLIGHT, thread_name_prefix="ingest-day") as pool:
        # wrapped once per day: each wrapper carries its own copy of this
        # thread's local properties, and a day's SQL execution writes its
        # execution id into that copy, so days must not share one
        jobs = {
            day: pool.submit(
                inheritable_thread_target(spark)(_ingest_day), spark, cfg, day, new.path
            )
            for day, new in days.items()
        }
        for day, new in days.items():
            try:
                objects, seconds = jobs[day].result()
                # reaching here means every task of this and every earlier
                # day's job succeeded
                update_progress_file(cfg.progress_file, day)
            except BaseException:
                # cancel the later days not started, wait for those in flight
                pool.shutdown(cancel_futures=True)
                _warn_uncommitted(day, watermark, jobs)
                raise
            logger.info(
                json.dumps(
                    {
                        "day": day.isoformat(),
                        "files": new.files,
                        "bytes_in": new.bytes_in,
                        "objects": objects,
                        "seconds": round(seconds, 3),
                        "MBps": round(new.bytes_in / 1e6 / seconds, 3),
                        "watermark_before": watermark and watermark.isoformat(),
                        "watermark_after": day.isoformat(),
                    }
                )
            )
            watermark = day
    return list(days)
