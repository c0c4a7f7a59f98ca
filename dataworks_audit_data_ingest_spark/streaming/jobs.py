"""Structured Streaming jobs.

The production source is Kafka (the reference ingests "UC Kafka audit data",
`README.md:5`) — swap ``stream_events_json`` for ``readStream.format("kafka")``
+ ``from_json(value)`` with the same downstream code. Every foreachBatch job
starts through :func:`run_foreach_batch`, and ``trigger(availableNow=True)``
is its only trigger: the streaming analog of the reference's 12-hourly
batch run (`ci/resources.yml:20-23`). Each run drains everything new and
stops, resuming from the checkpoint — which subsumes the reference's
progress-file watermark (`audit_data_ingest.py:71-73`).

Window/sessionization expressions are the same ones pinned in batch by
q30-q33 (queries/streaming_shaped.py), so their semantics are oracle-checked
even though streaming runs aren't SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..ingest.pipeline import (
    IngestConfig,
    day_columns,
    encrypt_and_upload,
    qualified_path,
)
from ..session import tune

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stream_events_json(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of event JSON lines (Kafka stand-in)."""
    tune(spark)
    reader = spark.readStream.schema(EVENT_SCHEMA).format("json")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(src_dir)


def tumbling_event_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-day window counts with late-data bound (q30's expression)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def sliding_user_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Sliding 2h/1h distinct-ish user counts (q31's expression; streaming
    uses approx_count_distinct — exact distinct isn't incremental)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "approx_users")
    )


def sessionized_events(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Stateful session windows per user (q32's expression)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_events_within_watermark(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon: the streaming
    dedup operator whose batch shape is q33. State for a key is dropped once
    the watermark passes it — bounded memory at 100 TB/day rates."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_foreach_batch(stream: DataFrame, fn, checkpoint_dir: str):
    """Start ``stream`` with ``fn(batch_df, batch_id)`` run on each
    micro-batch, as one ``availableNow`` drain resumable from
    ``checkpoint_dir``. A failed batch is not committed and is replayed.
    Returns the started query."""
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_encrypted_ingest_stream(
    spark: SparkSession, cfg: IngestConfig, checkpoint_dir: str
):
    """Streaming twin of ``ingest.run_ingest``: binaryFile stream →
    compress+encrypt → per-batch metadata-bearing S3 sink.

    ``foreachBatch`` reuses the batch pipeline's fused kernel unchanged;
    the commit log in ``checkpoint_dir`` provides the once-per-file
    guarantee the reference built by hand with its progress file +
    all-or-nothing day loop (`audit_data_ingest.py:50-68`). As in
    ``run_ingest``, only files directly in a day directory directly under
    ``cfg.src_dir`` are read.
    """
    tune(spark)
    root = qualified_path(spark, cfg.src_dir)
    # streaming sources require an explicit schema; this is binaryFile's fixed one
    binary_schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("recursiveFileLookup", "true")
        .load(cfg.src_dir)
        .select(*day_columns(), "content")
        .filter(
            F.col("day").isNotNull()
            & (F.regexp_extract("path", "^(.*)/[^/]+/[^/]+$", 1) == F.lit(root))
        )
    )
    return run_foreach_batch(
        files, lambda df, _id: encrypt_and_upload(df, cfg).count(), checkpoint_dir
    )


def synthetic_event_records(events: DataFrame) -> DataFrame:
    """Shape synthetic events (`sources/synthetic.py` schema) into the
    ingest pipeline's record contract ``(day, basename, content)`` — the
    file-as-record model of the reference (`audit_data_ingest.py:118-120`)
    applied to a message stream: one record per event, canonical JSON
    payload, UTC day derived by INTEGER arithmetic from ``ts_us`` (no
    session-timezone dependence), basename keyed by event_id so a replay
    overwrites the same S3 object (idempotent by key).

    Shared verbatim by the streaming job and its batch twin — the
    byte-identity drill compares decrypted payloads across the two."""
    return events.select(
        F.date_add(
            F.lit("1970-01-01").cast("date"),
            (F.col("ts_us") / F.lit(86_400_000_000)).cast("int"),
        )
        .cast("string")
        .alias("day"),
        F.concat(F.lit("event-"), F.col("event_id"), F.lit(".json")).alias(
            "basename"
        ),
        F.encode(
            F.to_json(
                F.struct(
                    "event_id", "user_id", "event_type", "value_cents", "ts_us"
                )
            ),
            "UTF-8",
        ).alias("content"),
    )


def start_synthetic_encrypted_ingest_stream(
    spark: SparkSession,
    cfg: IngestConfig,
    checkpoint_dir: str,
    rows: int,
    rows_per_batch: int,
):
    """The full north-star Kafka→encrypt→S3 shape as ONE streaming job,
    over the native Python streaming source (`sources/synthetic.py`) —
    the jar-free rehearsal of the reference's production topology (UC
    Kafka audit stream → envelope encrypt → S3, `README.md:5` +
    `audit_data_ingest.py:36-68`): checkpoint-resumable message offsets
    in, per-record zlib+AES-128-EAX envelopes with 3-field metadata out.
    Swapping the source line for ``readStream.format("kafka")`` +
    ``from_json(value)`` is the only production delta.

    ``cfg.src_dir`` is unused (rows are generated executor-side); each
    ``availableNow`` drain advances one committed ``rows_per_batch``
    chunk, so a restart — crash or scheduled — resumes exactly at the
    committed offset, and a REPLAYED batch re-uploads the same S3 keys
    (idempotent by key; see `synthetic_event_records`)."""
    from ..sources.synthetic import SyntheticEventsDataSource

    tune(spark)
    spark.dataSource.register(SyntheticEventsDataSource)
    events = (
        spark.readStream.format("synthetic_events")
        .option("rows", rows)
        .option("rows_per_batch", rows_per_batch)
        .load()
    )
    records = synthetic_event_records(events)

    return run_foreach_batch(
        records, lambda df, _id: encrypt_and_upload(df, cfg).count(), checkpoint_dir
    )


def purchases_to_errors_stream_join(
    purchases: DataFrame, errors: DataFrame, within: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each error event matched to purchase events
    of the same user in the preceding ``within`` interval.

    Both sides carry watermarks, and the join condition bounds the event-time
    range — that bound is what lets Spark evict join state (without it,
    stream-stream state grows forever). State size is O(events within the
    interval horizon) per side.
    """
    p = purchases.withWatermark("ts", within).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    e = errors.withWatermark("ts", within).select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("e_ts"),
    )
    return p.join(
        e,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr(f"INTERVAL {within}")),
    ).select("p_user", "purchase_id", "error_id", "p_ts", "e_ts")
