"""Large-file ingest path: chunked streaming encrypt → multipart S3 upload.

The default pipeline materializes file contents as a ``binary`` column
(`binaryFile`), which shares the reference's whole-file-in-memory cliff
(`audit_data_ingest.py:118-120`) and Spark's 2 GB column hard cap
(SURVEY.md §4, §7 hard-part 4). This module processes *paths, not blobs*:

  listing scan (content column pruned) → one task per file → the task
  streams the file through zlib-compress + AES-EAX-CTR in fixed chunks,
  feeding boto3's multipart uploader — peak memory per task is
  O(chunk + compressor state), independent of file size.

CTR keeps a running keystream, so chunked ``update()`` calls produce the
byte-identical ciphertext that the whole-blob path produces — the two paths
are interchangeable per object and share one decrypt procedure.
"""

from __future__ import annotations

import base64
import io
import os
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

from .crypto import EnvelopeEncryptor, _omac
from .pipeline import IngestConfig, _client_args, _s3_client

_CHUNK = 8 * 1024 * 1024  # 8 MiB read granularity

_LARGE_SCHEMA = "day string, basename string, s3_key string, bytes_out long"


class _CompressEncryptStream(io.RawIOBase):
    """File-like view of compress(zlib)+encrypt(EAX-CTR) applied lazily to a
    source stream — what boto3's multipart uploader reads from."""

    def __init__(self, src, session_key: bytes, nonce: bytes):
        self._src = src
        self._comp = zlib.compressobj()
        n_prime = _omac(session_key, 0, nonce)
        self._enc = Cipher(algorithms.AES(session_key), modes.CTR(n_prime)).encryptor()
        self._buf = bytearray()
        self._eof = False

    def readable(self) -> bool:  # pragma: no cover - io protocol
        return True

    def _fill(self, want: int) -> None:
        while not self._eof and len(self._buf) < want:
            chunk = self._src.read(_CHUNK)
            if chunk:
                self._buf += self._enc.update(self._comp.compress(chunk))
            else:
                tail = self._comp.flush()
                self._buf += self._enc.update(tail) + self._enc.finalize()
                self._eof = True

    def read(self, size: int = -1) -> bytes:
        if size is None or size < 0:
            self._fill(1 << 62)
        else:
            self._fill(size)
        out = bytes(self._buf[: size if size and size > 0 else len(self._buf)])
        del self._buf[: len(out)]
        return out


def list_files(spark: SparkSession, src_dir: str) -> DataFrame:
    """Listing-only scan: same day/basename derivation as the blob path but
    the ``content`` column is never selected, so the parquet-style pruning
    keeps this a metadata pass (asserted by tests/test_plans.py)."""
    from .pipeline import scan_source

    return scan_source(spark, src_dir).select("path", "basename", "day").filter(
        F.col("day").isNotNull()
    )


def encrypt_and_upload_large(files: DataFrame, cfg: IngestConfig) -> DataFrame:
    """One task per file; each task streams its file into S3.

    Returns a DataFrame of (day, basename, s3_key, bytes_out) for auditing —
    an action on it drives the upload.
    """
    pem, key_id = cfg.rsa_public_key_pem, cfg.hsm_key_id
    client_args = _client_args(cfg)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        client = _s3_client(*client_args)
        enc = EnvelopeEncryptor(pem, key_id)
        for pdf in batches:
            out = {"day": [], "basename": [], "s3_key": [], "bytes_out": []}
            for path, basename, day in zip(pdf["path"], pdf["basename"], pdf["day"]):
                local = path[len("file:") :] if path.startswith("file:") else path
                session_key = enc._rng(16)
                nonce = enc._rng(16)
                key = f"{cfg.s3_prefix}{day}/{basename}.gz.enc"
                with open(local, "rb") as src:
                    stream = _CompressEncryptStream(src, session_key, nonce)
                    client.upload_fileobj(
                        stream,
                        cfg.s3_bucket,
                        key,
                        ExtraArgs={
                            "Metadata": {
                                "iv": base64.b64encode(nonce).decode(),
                                "ciphertext": base64.b64encode(
                                    enc._wrap(session_key)
                                ).decode(),
                                "datakeyencryptionkeyid": key_id,
                            }
                        },
                    )
                head = client.head_object(Bucket=cfg.s3_bucket, Key=key)
                out["day"].append(str(day))
                out["basename"].append(basename)
                out["s3_key"].append(key)
                out["bytes_out"].append(head["ContentLength"])
            yield pd.DataFrame(out)

    # one file per task: large files must not queue behind each other inside
    # a partition when the cluster has idle slots
    n = max(files.rdd.getNumPartitions(), int(os.environ.get("SPARK_GRAFT_CPUS", 8)))
    return files.repartition(n, "path").mapInPandas(run, schema=_LARGE_SCHEMA)
