"""dataworks_audit_data_ingest_spark — a PySpark-native analytics & ingest engine.

A from-scratch rebuild of the capabilities of ``dwp/dataworks-audit-data-ingest``
(a date-incremental HDFS→encrypt→S3 batch ingest pipeline, see
``/root/reference/audit_data_ingest.py``) re-expressed Spark-first:

- ``ingest``      — reference-parity pipeline: binaryFile scan, strict-``>``
                    watermark resume, zlib compress + AES-128-EAX envelope
                    encryption UDFs, metadata-bearing S3 sink.
- ``queries``     — the relational / streaming-shaped / dedup / similarity /
                    text-analysis operator surface, each query paired with an
                    ANSI-SQL oracle (DuckDB-checkable).
- ``streaming``   — Structured Streaming jobs (file/Kafka-shaped source →
                    windowed aggs → foreachBatch sink, checkpoint resume).
- ``functions``   — portable expression helpers (cross-engine hashing, text,
                    vector math).
- ``multimodal``  — binary-column plumbing with stubbed decoders.
"""

from . import zipcache  # noqa: F401  (per-task zip re-read fix, see module)

__version__ = "0.1.0"
