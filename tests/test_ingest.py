"""Ingest pipeline tests: ports the reference's two assertions (object count,
3 metadata fields — `tests/test_audit_data_ingest.py:18-31`) and adds the
round-trip golden test the reference never had (SURVEY.md §5): decrypt →
decompress → byte-equality.
"""

from __future__ import annotations

import base64
import zlib
from datetime import date

import boto3
import pytest
from cryptography.hazmat.primitives import hashes
from cryptography.hazmat.primitives.asymmetric import padding

from dataworks_audit_data_ingest_spark.ingest import (
    EnvelopeEncryptor,
    IngestConfig,
    eax_decrypt,
    find_start_date,
    run_ingest,
    update_progress_file,
)

PAYLOAD_1 = b'{"id": "0001", "type": "donut", "name": "Cake"}'
PAYLOAD_2 = b'{"id": "0002", "type": "ice-cream", "name": "Chocobar"}'


@pytest.fixture()
def src_tree(tmp_path):
    """Reference layout: dated dirs + a non-date dir that must be skipped
    (`audit_data_ingest.py:26-33`; FIXTURES.md A2)."""
    src = tmp_path / "src"
    (src / "2020-10-09").mkdir(parents=True)
    (src / "2020-10-10").mkdir()
    (src / "not-a-date").mkdir()
    (src / "2020-10-09" / "audit-data-1.json").write_bytes(PAYLOAD_1)
    (src / "2020-10-10" / "audit-data-2.json").write_bytes(PAYLOAD_2)
    (src / "not-a-date" / "ignored.json").write_bytes(b"nope")
    return src


def _cfg(src, tmp_path, moto_s3, pub_pem, bucket="publish-bucket"):
    boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3).create_bucket(
        Bucket=bucket,
        CreateBucketConfiguration={"LocationConstraint": "eu-west-2"},
    )
    return IngestConfig(
        src_dir=str(src),
        s3_bucket=bucket,
        s3_prefix="audit-data/",
        hsm_key_id="cloudhsm:1,2",
        rsa_public_key_pem=pub_pem,
        progress_file=str(tmp_path / "progress.txt"),
        s3_endpoint_url=moto_s3,
        # executors are separate processes that never saw the fixture's env
        # vars — ship fake credentials through the job config instead
        extra_boto_kwargs={
            "aws_access_key_id": "testing",
            "aws_secret_access_key": "testing",
        },
    )


def test_end_to_end_roundtrip(spark, moto_s3, rsa_keypair, src_tree, tmp_path):
    priv, pub_pem = rsa_keypair
    cfg = _cfg(src_tree, tmp_path, moto_s3, pub_pem)
    committed = run_ingest(spark, cfg)
    assert committed == [date(2020, 10, 9), date(2020, 10, 10)]

    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3)
    keys = [
        o["Key"] for o in s3.list_objects_v2(Bucket=cfg.s3_bucket)["Contents"]
    ]
    # reference assertion 1: one object per input file, none for non-date dir
    assert sorted(keys) == [
        "audit-data/2020-10-09/audit-data-1.json.gz.enc",
        "audit-data/2020-10-10/audit-data-2.json.gz.enc",
    ]

    obj = s3.get_object(
        Bucket=cfg.s3_bucket, Key="audit-data/2020-10-09/audit-data-1.json.gz.enc"
    )
    meta = obj["Metadata"]
    # reference assertion 2: exactly 3 metadata fields
    assert set(meta) == {"iv", "ciphertext", "datakeyencryptionkeyid"}
    assert meta["datakeyencryptionkeyid"] == "cloudhsm:1,2"

    # golden round trip: RSA-unwrap session key → EAX decrypt → zlib inflate
    session_key = priv.decrypt(
        base64.b64decode(meta["ciphertext"]),
        padding.OAEP(
            mgf=padding.MGF1(algorithm=hashes.SHA256()),
            algorithm=hashes.SHA256(),
            label=None,
        ),
    )
    body = obj["Body"].read()
    assert body[:1] != b"\x78"  # ciphertext, not plaintext zlib
    plain = zlib.decompress(
        eax_decrypt(session_key, base64.b64decode(meta["iv"]), body)
    )
    assert plain == PAYLOAD_1

    # watermark advanced to the last committed day
    assert find_start_date(cfg.progress_file) == date(2020, 10, 10)


def test_strict_greater_resume(spark, moto_s3, rsa_keypair, src_tree, tmp_path):
    """Quirk 3: re-running after commit reprocesses nothing; a watermark at
    day-1 reprocesses only day-2 (`audit_data_ingest.py:33`)."""
    _, pub_pem = rsa_keypair
    cfg = _cfg(src_tree, tmp_path, moto_s3, pub_pem, bucket="resume-bucket")
    update_progress_file(cfg.progress_file, date(2020, 10, 10))
    assert run_ingest(spark, cfg) == []

    update_progress_file(cfg.progress_file, date(2020, 10, 9))
    assert run_ingest(spark, cfg) == [date(2020, 10, 10)]


def test_malformed_watermark_raises(tmp_path):
    p = tmp_path / "progress.txt"
    p.write_text("2020-13-45")
    with pytest.raises(ValueError, match="invalid date"):
        find_start_date(p)


def test_missing_watermark_means_full_reprocess(tmp_path):
    assert find_start_date(tmp_path / "absent.txt") is None


def test_unreadable_watermark_raises(tmp_path):
    """Only a missing file means "no watermark": any other OSError (here a
    directory at the progress path) must not silently re-ingest history."""
    with pytest.raises(IsADirectoryError):
        find_start_date(tmp_path)


@pytest.mark.parametrize("fail_at", ["os.fsync", "os.replace"])
def test_torn_watermark_commit_keeps_previous(tmp_path, monkeypatch, fail_at):
    """A failure mid-commit (after the new day is written, or at the rename)
    leaves the previous watermark readable and unchanged, and no temp file
    behind."""
    p = tmp_path / "progress.txt"
    update_progress_file(p, date(2020, 10, 9))

    def crash(*args):
        raise OSError(f"simulated crash in {fail_at}")

    monkeypatch.setattr(fail_at, crash)
    with pytest.raises(OSError, match="simulated crash"):
        update_progress_file(p, date(2020, 10, 10))
    monkeypatch.undo()
    assert find_start_date(p) == date(2020, 10, 9)
    assert [f.name for f in tmp_path.iterdir()] == ["progress.txt"]


def test_encryptor_deterministic_with_injected_rng(rsa_keypair):
    """Deterministic-crypto seam (SURVEY.md §5c): injecting the rng pins the
    session key and nonce."""
    priv, pub_pem = rsa_keypair
    fixed = bytes(range(16))
    enc = EnvelopeEncryptor(pub_pem, "kid", rng=lambda n: fixed[:n])
    r1 = enc.encrypt_record(b"hello world")
    r2 = enc.encrypt_record(b"hello world")
    assert r1.ciphertext == r2.ciphertext
    assert base64.b64decode(r1.iv) == fixed
    # zlib framing preserved under the hood (quirk 1): decrypt → 0x78 0x9c
    plain = eax_decrypt(fixed, fixed, r1.ciphertext)
    assert plain[:2] == b"\x78\x9c"
    assert zlib.decompress(plain) == b"hello world"


def test_failed_day_does_not_commit_watermark(spark, moto_s3, rsa_keypair, src_tree, tmp_path):
    """R7/R8 parity, negative path: any task failure in a day's job fails the
    run BEFORE the watermark commit, so the next run retries the whole day
    (`audit_data_ingest.py:65-68,96-104`)."""
    _, pub_pem = rsa_keypair
    cfg = _cfg(src_tree, tmp_path, moto_s3, pub_pem, bucket="failure-bucket")
    broken = IngestConfig(**{**cfg.__dict__, "s3_bucket": "does-not-exist"})
    with pytest.raises(Exception):
        run_ingest(spark, broken)
    assert find_start_date(cfg.progress_file) is None  # nothing committed

    # the retry with a working bucket processes both days from scratch
    assert run_ingest(spark, cfg) == [date(2020, 10, 9), date(2020, 10, 10)]


def test_two_dataset_deployments_share_code_independent_watermarks(
    spark, moto_s3, rsa_keypair, src_tree, tmp_path
):
    """SURVEY §3.3: the reference deploys the SAME script twice (audit +
    equalities) with different (source, prefix, progress-file) tuples. The
    engine's job config must make that a pure parameterization: run two
    configs against one bucket, assert objects land under both prefixes
    and the watermarks advance independently."""
    import dataclasses

    from dataworks_audit_data_ingest_spark.ingest.pipeline import run_ingest
    from dataworks_audit_data_ingest_spark.ingest.watermark import find_start_date

    _, pub_pem = rsa_keypair
    audit_cfg = _cfg(src_tree, tmp_path, moto_s3, pub_pem, bucket="dual-bucket")

    # equalities: its own source tree (one day only), prefix, progress file
    eq_src = tmp_path / "eq_src"
    (eq_src / "2021-01-05").mkdir(parents=True)
    (eq_src / "2021-01-05" / "equalities-1.json").write_bytes(b'{"eq": 1}')
    eq_cfg = dataclasses.replace(
        audit_cfg,
        src_dir=str(eq_src),
        s3_prefix="equalities/",
        progress_file=str(tmp_path / "progress-equalities.txt"),
    )

    run_ingest(spark, audit_cfg)
    run_ingest(spark, eq_cfg)

    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3)
    audit_keys = [
        o["Key"]
        for o in s3.list_objects_v2(Bucket="dual-bucket", Prefix="audit-data/")[
            "Contents"
        ]
    ]
    eq_keys = [
        o["Key"]
        for o in s3.list_objects_v2(Bucket="dual-bucket", Prefix="equalities/")[
            "Contents"
        ]
    ]
    assert len(audit_keys) == 2 and len(eq_keys) == 1
    assert eq_keys == ["equalities/2021-01-05/equalities-1.json.gz.enc"]
    # independent watermarks
    assert str(find_start_date(audit_cfg.progress_file)) == "2020-10-10"
    assert str(find_start_date(eq_cfg.progress_file)) == "2021-01-05"
