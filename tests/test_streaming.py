"""Structured Streaming tests: windowed aggregation parity with the batch
oracle-pinned queries, dedup-within-watermark, and checkpoint-resume of the
encrypted S3 stream (the streaming twin of the reference's progress-file
resume, `audit_data_ingest.py:213-232`).
"""

from __future__ import annotations

import json

import boto3
import pytest
from pyspark.sql import functions as F

from dataworks_audit_data_ingest_spark.ingest import IngestConfig, run_ingest
from dataworks_audit_data_ingest_spark.streaming import (
    dedup_events_within_watermark,
    start_encrypted_ingest_stream,
    stream_events_json,
    tumbling_event_counts,
)
from dataworks_audit_data_ingest_spark.tables import table

SF = "/root/testdata/sf0.001"


def _cfg(src, tmp_path, moto_s3, pub_pem, bucket):
    boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3).create_bucket(
        Bucket=bucket,
        CreateBucketConfiguration={"LocationConstraint": "eu-west-2"},
    )
    return IngestConfig(
        src_dir=str(src),
        s3_bucket=bucket,
        s3_prefix="stream/",
        hsm_key_id="cloudhsm:1,2",
        rsa_public_key_pem=pub_pem,
        progress_file=str(tmp_path / f"{bucket}-progress.txt"),
        s3_endpoint_url=moto_s3,
        extra_boto_kwargs={
            "aws_access_key_id": "testing",
            "aws_secret_access_key": "testing",
        },
    )


@pytest.fixture()
def events_json_dir(spark, tmp_path):
    """Materialize the fixture events as JSON-lines files, the file-source
    stand-in for the Kafka topic."""
    out = tmp_path / "events_json"
    out.mkdir()
    rows = table(spark, SF, "events").collect()
    half = len(rows) // 2
    for name, chunk in (("a.json", rows[:half]), ("b.json", rows[half:])):
        with open(out / name, "w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {
                            "event_id": r.event_id,
                            "ts": r.ts.isoformat(sep=" "),
                            "user_id": r.user_id,
                            "event_type": r.event_type,
                            "value": r.value,
                            "props": r.props,
                        }
                    )
                    + "\n"
                )
    return str(out)


def test_tumbling_stream_matches_batch(spark, tmp_path, events_json_dir):
    stream = stream_events_json(spark, events_json_dir)
    assert stream.isStreaming
    q = (
        tumbling_event_counts(stream)
        .writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    want = {
        (r.window_start, r.event_type): r.n_events
        for r in (
            table(spark, SF, "events")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        ).collect()
    }
    assert got == want


def test_dedup_within_watermark_stream(spark, tmp_path, events_json_dir):
    stream = stream_events_json(spark, events_json_dir)
    q = (
        dedup_events_within_watermark(stream)
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT COUNT(DISTINCT event_id) c, COUNT(*) n FROM dedup_test").first()
    assert n.c == n.n  # no duplicate event_ids survived
    assert n.n == table(spark, SF, "events").count()


def test_encrypted_stream_checkpoint_resume(
    spark, tmp_path, moto_s3, rsa_keypair
):
    """availableNow drain → objects land with 3-field metadata; a second
    drain with the same checkpoint uploads nothing new; a new file afterwards
    is picked up — the progress-file semantics, from the commit log."""
    _, pub_pem = rsa_keypair
    src = tmp_path / "src"
    (src / "2021-01-01").mkdir(parents=True)
    (src / "2021-01-01" / "f1.json").write_bytes(b'{"id":"1"}')
    bucket = "stream-bucket"
    cfg = _cfg(src, tmp_path, moto_s3, pub_pem, bucket)
    ckpt = str(tmp_path / "stream-ckpt")
    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3)

    q = start_encrypted_ingest_stream(spark, cfg, ckpt)
    q.awaitTermination(120)
    keys = {o["Key"] for o in s3.list_objects_v2(Bucket=bucket)["Contents"]}
    assert keys == {"stream/2021-01-01/f1.json.gz.enc"}
    meta = s3.head_object(Bucket=bucket, Key="stream/2021-01-01/f1.json.gz.enc")[
        "Metadata"
    ]
    assert set(meta) == {"iv", "ciphertext", "datakeyencryptionkeyid"}
    first_etag = s3.head_object(
        Bucket=bucket, Key="stream/2021-01-01/f1.json.gz.enc"
    )["ETag"]

    # resume with same checkpoint: nothing reprocessed (etag unchanged)
    q = start_encrypted_ingest_stream(spark, cfg, ckpt)
    q.awaitTermination(120)
    assert (
        s3.head_object(Bucket=bucket, Key="stream/2021-01-01/f1.json.gz.enc")["ETag"]
        == first_etag
    )

    # a newly arrived file (later day) is drained incrementally
    (src / "2021-01-02").mkdir()
    (src / "2021-01-02" / "f2.json").write_bytes(b'{"id":"2"}')
    q = start_encrypted_ingest_stream(spark, cfg, ckpt)
    q.awaitTermination(120)
    keys = {o["Key"] for o in s3.list_objects_v2(Bucket=bucket)["Contents"]}
    assert keys == {
        "stream/2021-01-01/f1.json.gz.enc",
        "stream/2021-01-02/f2.json.gz.enc",
    }


def test_stream_uploads_exactly_the_keys_run_ingest_uploads(
    spark, tmp_path, moto_s3, rsa_keypair
):
    """The day rule holds for both paths: a file counts only when it sits
    directly in a day directory directly under ``src_dir``. Day
    directories under a non-day one or nested in a day, even the same
    day, are skipped by the stream as by ``run_ingest``."""
    _, pub_pem = rsa_keypair
    src = tmp_path / "audit src"  # a space: paths compare in decoded form
    for rel in (
        "2020-10-09/a",
        "x/2020-10-10/b",
        "2020-10-11/2020-10-12/c",
        "2020-10-11/d",
        "2020-10-11/2020-10-11/e",
    ):
        (src / rel).parent.mkdir(parents=True, exist_ok=True)
        (src / rel).write_bytes(rel.encode())
    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3)

    batch = _cfg(src, tmp_path, moto_s3, pub_pem, "parity-batch")
    run_ingest(spark, batch)
    stream = _cfg(src, tmp_path, moto_s3, pub_pem, "parity-stream")
    q = start_encrypted_ingest_stream(spark, stream, str(tmp_path / "parity-ckpt"))
    assert q.awaitTermination(120), "drain did not terminate within 120s"

    def keys(bucket):
        return {o["Key"] for o in s3.list_objects_v2(Bucket=bucket).get("Contents", [])}

    assert keys("parity-batch") == {"stream/2020-10-09/a.gz.enc", "stream/2020-10-11/d.gz.enc"}
    assert keys("parity-stream") == keys("parity-batch")


def test_stream_stream_join(spark, tmp_path, events_json_dir):
    """Stream-stream inner join with event-time bounds matches the batch
    join over the same data."""
    from dataworks_audit_data_ingest_spark.streaming.jobs import (
        purchases_to_errors_stream_join,
    )

    base = stream_events_json(spark, events_json_dir)
    purchases = base.filter(F.col("event_type") == "purchase")
    errors = base.filter(F.col("event_type") == "error")
    q = (
        purchases_to_errors_stream_join(purchases, errors, "30 minutes")
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.purchase_id, r.error_id)
        for r in spark.sql("SELECT * FROM ssj").collect()
    }
    ev = table(spark, SF, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("e_ts"),
    )
    want = {
        (r.purchase_id, r.error_id)
        for r in p.join(
            e,
            (F.col("p_user") == F.col("e_user"))
            & (F.col("e_ts") >= F.col("p_ts"))
            & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 minutes")),
        ).collect()
    }
    assert got == want and len(got) > 0
