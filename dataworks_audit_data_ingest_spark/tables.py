"""Fixture-table loaders.

One parquet file per table under ``{sf_dir}/{name}.parquet`` (see TESTDATA.md).
``events.ts`` has shipped in two physical forms across fixture generations:

- INT64 TIMESTAMP(NANOS): Spark's reader rejects nanos, so we read it as LONG
  (``spark.sql.legacy.parquet.nanosAsLong``) and rebuild a microsecond
  timestamp with integer arithmetic (``DIV 1000`` — a double division would
  lose precision: 2024 epoch-nanos ≈ 1.7e18 > 2^53).
- TIMESTAMP(MICROS) with isAdjustedToUTC=false: Spark reads TIMESTAMP_NTZ,
  which ``unix_micros``/``window``/``withWatermark`` reject. We cast to the
  session-zoned TIMESTAMP — the session timezone is pinned UTC, so the wall
  values (and the DuckDB oracle's naive-timestamp view of the same file) are
  bit-identical.

Both normalizations are keyed on the observed read dtype, so either fixture
generation loads to the same ``ts: timestamp`` column.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import tune

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Inferred-schema cache: spark.read.parquet() re-reads the file footer on
# every call to infer the schema, a driver-side cost paid per table() load
# (~40 loads per bench pass — measured at ~25 % of the bench's per-query
# floor; guide §5 "the driver should do almost no data work"). The schema is
# metadata, not data: caching it is what a catalog does in production. The
# entry stores mtime+size so a rewritten fixture path (pytest tmp dirs,
# overwritten stores) re-infers; non-local / unstat-able paths skip the
# cache and infer exactly as before. Indexed by path (round 13, ADVICE):
# a rewrite REPLACES the old entry instead of accumulating one per
# (path, mtime, size) forever. Directories also skip the cache: a
# Spark-written parquet directory can be rewritten in place with part
# files of the same names, leaving the directory inode's mtime/size a
# weak invalidation signal — and a stale explicit schema would silently
# null-fill missing columns rather than error.
_SCHEMA_CACHE: dict[str, tuple[int, int, object]] = {}


def _cached_schema(spark: SparkSession, path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    if stat.S_ISDIR(st.st_mode):
        return None
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and (hit[0], hit[1]) == (st.st_mtime_ns, st.st_size):
        return hit[2]
    sch = spark.read.parquet(path).schema
    _SCHEMA_CACHE[path] = (st.st_mtime_ns, st.st_size, sch)
    return sch


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing types to match the DuckDB oracle."""
    tune(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _cached_schema(spark, path)
    df = (spark.read.schema(schema) if schema is not None else spark.read).parquet(
        path
    )
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanos → micros, truncating toward zero exactly like DuckDB's
            # ns→us cast
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            # UTC session: NTZ → LTZ is a pure reinterpretation, same micros
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# ---------------------------------------------------------------------------
# Scale-adaptive map-stage parallelizer (optimization guide §2.5 "input skew:
# one huge unsplittable file ... otherwise repartition immediately after the
# read").
#
# The fixture tables are single-file, SINGLE-ROW-GROUP parquet. Spark splits
# parquet scans at row-group boundaries, so every map-side computation that
# follows the read — gram/shingle explodes, signature hashing, decimal-exact
# partial aggregation, per-row vector math — runs in ONE task regardless of
# local[N] (measured: q01's 9 decimal aggregates cost ~1.3 s single-threaded
# vs 0.26 s for the same shape in doubles; the scan itself is 0.2 s).
#
# ``spread(df, sf_dir, *keys)`` hash-repartitions onto cores×mult (default
# mult=1 since round 13 — one wave of tasks fills the cores; ×2 only
# doubled scheduling overhead, A/B'd per user) partitions so
# that heavy per-row work parallelizes — but ONLY when the input genuinely
# cannot be split that wide: the gate estimates the scan's natural split
# count from the local fixture directory's on-disk bytes (cached per dir,
# core count and maxPartitionBytes; a non-local path, or enough bytes to
# fill cores×maxPartitionBytes splits, disables the spread). On a real
# cluster the inputs are many multi-row-group files, the gate sees a
# non-local path, and spread() is the identity — the
# partial aggregation/explode stays fused with the scan exactly as before,
# which is the right plan at 100 TB. Nothing here is tuned to local[32]:
# the target derives from defaultParallelism, so the driver's lower-core
# bench re-run scales the spread down with it.
#
# Keyed repartition (deterministic hash on a high-cardinality column) is
# preferred over round-robin: it skips the local sort every keyless
# repartition pays (spark.sql.execution.sortBeforeRepartition, SPARK-23207)
# and is retry-safe by construction (SPARK-38388).
# ---------------------------------------------------------------------------

_SPREAD_GATE: dict[tuple[str, int, int], bool] = {}


def _local_bytes(sf_dir: str) -> int:
    """Total on-disk bytes of a *local* fixture dir, or -1 if not local."""
    try:
        with os.scandir(sf_dir) as it:
            return sum(e.stat().st_size for e in it if e.is_file())
    except OSError:
        return -1


def spread(df: DataFrame, sf_dir: str, *keys: str, mult: int = 1) -> DataFrame:
    """Repartition ``df`` for map-side parallelism iff the source dir is a
    small local fixture whose parquet cannot be split ``cores`` ways.

    ``mult=1`` (exactly defaultParallelism partitions) since round 13: an
    interleaved A/B on every spread user showed cores×2 only doubled the
    post-spread task count and its scheduling overhead at fixture scale
    (q01 med 0.90 s vs 1.35 s, q81 0.56 vs 0.82, q82 0.83 vs 0.97,
    q55 0.56 vs 0.61); one wave of tasks is enough to fill the cores.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    # Spark's own parse of the byte string ("128m", "1t", ...)
    max_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    key = (sf_dir, cores, max_split)
    gate = _SPREAD_GATE.get(key)
    if gate is None:
        total = _local_bytes(sf_dir)
        gate = _SPREAD_GATE[key] = 0 <= total < cores * max_split
    if not gate:
        return df
    n = cores * mult
    if keys:
        return df.repartition(n, *[F.col(k) for k in keys])
    return df.repartition(n)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(
    spark: SparkSession, sf_dir: str, prefix: str = ""
) -> list[str]:
    """Register every fixture table as a temp view so users can work in raw
    SQL (``spark.sql("SELECT ... FROM lineitem ...")``) — the same table
    names the DuckDB oracle sees. Returns the view names."""
    names = []
    for name in TABLE_NAMES:
        view = f"{prefix}{name}"
        table(spark, sf_dir, name).createOrReplaceTempView(view)
        names.append(view)
    return names
