"""SparkSession construction and runtime tuning.

All queries must behave identically on a session we build and on a session
handed to us by the correctness driver, so everything that matters is applied
as *runtime* conf via :func:`tune` (legal on any live session).
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

# Runtime-settable confs every query relies on.
#
# - session.timeZone=UTC: fixture timestamps are naive (parquet NTZ); pinning
#   UTC makes any LTZ value we synthesize (timestamp_micros) collect to the
#   same naive datetime DuckDB returns.
# - nanosAsLong: events.parquet stores ts as INT64 TIMESTAMP(NANOS) which the
#   Spark parquet reader rejects; with this flag it surfaces as LONG nanos and
#   tables.load_events() converts to a proper timestamp column.
# - AQE + skew-join handling: runtime re-planning for the 100 TB design point.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Closures in mapInPandas/foreachPartition reference module-level symbols,
    which cloudpickle serializes *by reference* — the worker must import the
    module. When the driving application runs from a different cwd (the
    correctness driver, a notebook), the package isn't on the workers' path,
    so we zip it and addPyFile it once per session. On a real cluster this is
    what --py-files/pip-install does at submit time.
    """
    if getattr(spark, "_dwadi_pkg_shipped", False):
        return
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path("/tmp") / f"dwadi_pkg_{os.getpid()}.zip"
    if not zip_path.exists():
        with zipfile.ZipFile(zip_path, "w") as zf:
            for py in pkg_dir.rglob("*.py"):
                zf.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
    try:
        spark.sparkContext.addPyFile(str(zip_path))
    except Exception:
        pass  # e.g. Connect sessions without addPyFile; submit-time py-files apply
    spark._dwadi_pkg_shipped = True


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs; safe and idempotent on externally-owned sessions.

    Applied once per session object: every ``conf.set`` is a py4j round
    trip, and ``table()`` calls tune() on every load — at ~40 table loads
    per bench pass the re-pinning was measurable driver latency
    (optimization round 12, guide §5 "the driver should do almost no
    work"). Callers that deliberately change a session conf afterwards
    (tests do, temporarily) own the restore, exactly as before.
    """
    if getattr(spark, "_dwadi_tuned", False):
        return spark
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Not settable at runtime in this deployment (restricted or
            # Connect sessions); it never will be, so it is not retried —
            # individual loaders have fallbacks where it matters.
            pass
    _ship_package(spark)
    spark._dwadi_tuned = True
    return spark


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "dataworks-audit-data-ingest-spark") -> SparkSession:
    """Build a local session shaped like the target cluster profile.

    local[N] with N shuffle partitions: on a real cluster these come from
    spark-submit; nothing in the engine assumes local mode.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    # Two local sessions sharing a cwd share ./spark-warehouse and the
    # Derby metastore_db — a concurrent run (e.g. an oracle sweep while
    # pytest executes) can corrupt either. SPARK_GRAFT_WAREHOUSE points
    # both at a caller-owned directory; the pytest fixture sets it to a
    # per-session tmp dir so suites are immune to a second local session.
    wh = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if wh:
        builder = builder.config("spark.sql.warehouse.dir", wh).config(
            "spark.driver.extraJavaOptions", f"-Dderby.system.home={wh}"
        )
    return tune(builder.getOrCreate())


# Deployment profile for the 100 TB / 1000-executor design point. These are
# submit-time confs (most are not runtime-settable), kept here as the single
# documented source the cluster job config derives from; values assume
# ~32 GB / 8-core executors reading day-partitioned parquet.
CLUSTER_SUBMIT_CONF = {
    # ~128 MB of post-shuffle data per partition: at 20 TB shuffled that is
    # ~160k partitions; AQE coalesces the small tail at runtime.
    "spark.sql.shuffle.partitions": "160000",
    # scan split sizing: default 128 MB splits are right for large parquet;
    # openCostInBytes packs small files ~25-30 per task (measured, PERF.md)
    "spark.sql.files.maxPartitionBytes": "134217728",
    # dims up to 256 MB broadcast (region/nation/supplier/part fit easily)
    "spark.sql.autoBroadcastJoinThreshold": "268435456",
    # straggler protection on 1000-node fleets
    "spark.speculation": "true",
    # Arrow batches for the sanctioned Python kernels (crypto, media)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # task-level retry (the reference's per-object retry analog is inside
    # the sink's boto3 config; this covers executor loss)
    "spark.task.maxFailures": "4",
    # encrypt closure-shipped secrets in transit (ingest/decrypt.py warns
    # when this is off and a private key rides a task closure)
    "spark.io.encryption.enabled": "true",
}
