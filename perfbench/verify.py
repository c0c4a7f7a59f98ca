"""Output checks, run outside the timed region. Each check returns a list
of failure messages (empty when the output is right), so the caller can
count every failure instead of stopping at the first."""

from __future__ import annotations

import base64
import importlib.util
import math
import zlib
from collections import defaultdict
from pathlib import Path

from cryptography.hazmat.primitives import hashes, serialization
from cryptography.hazmat.primitives.asymmetric import padding

from dataworks_audit_data_ingest_spark.ingest.crypto import eax_decrypt

from .harness import ROOT

META_KEYS = {"iv", "ciphertext", "datakeyencryptionkeyid"}
_OAEP = padding.OAEP(
    mgf=padding.MGF1(algorithm=hashes.SHA256()), algorithm=hashes.SHA256(), label=None
)


def decrypt_object(priv, body: bytes, meta: dict[str, str]) -> bytes:
    """RSA-OAEP unwrap of the session key with the private key ``priv``,
    AES-EAX decrypt, inflate."""
    key = priv.decrypt(base64.b64decode(meta["ciphertext"]), _OAEP)
    return zlib.decompress(eax_decrypt(key, base64.b64decode(meta["iv"]), body))


def check_objects(
    objects: dict[str, tuple[bytes, dict[str, str]]],
    expected: dict[str, bytes],
    private_pem: bytes,
) -> tuple[int, list[str]]:
    """Every expected key present, nothing else, exactly the three
    metadata fields, and the decrypted body equal to the source bytes.
    ``objects`` and ``expected`` are keyed by S3 key. Returns the number
    of checks made and the failures."""
    priv = serialization.load_pem_private_key(private_pem, password=None)
    fails = [f"missing object {k}" for k in sorted(expected.keys() - objects.keys())]
    fails += [f"unexpected object {k}" for k in sorted(objects.keys() - expected.keys())]
    for key in sorted(expected.keys() & objects.keys()):
        body, meta = objects[key]
        if set(meta) != META_KEYS:
            fails.append(f"{key}: metadata keys {sorted(meta)}")
            continue
        try:
            plain = decrypt_object(priv, body, meta)
        except Exception as e:  # noqa: BLE001 — a corrupt object is a failure
            fails.append(f"{key}: decrypt failed: {type(e).__name__}")
            continue
        if plain != expected[key]:
            fails.append(f"{key}: decrypted bytes differ from source")
    return len(expected.keys() | objects.keys()), fails


def check_watermark(progress_file: Path, last_day: str) -> list[str]:
    try:
        got = progress_file.read_text().strip()
    except OSError as e:
        return [f"watermark unreadable: {e}"]
    return [] if got == last_day else [f"watermark {got!r} != last day {last_day!r}"]


def fetch_objects(client, bucket: str, prefix: str) -> dict[str, tuple[bytes, dict]]:
    out = {}
    for page in client.get_paginator("list_objects_v2").paginate(
        Bucket=bucket, Prefix=prefix
    ):
        for o in page.get("Contents", []):
            obj = client.get_object(Bucket=bucket, Key=o["Key"])
            out[o["Key"]] = (obj["Body"].read(), obj["Metadata"])
    return out


# ---------------------------------------------------------------------------
# queries: the DuckDB oracle, compared the way tools/check_oracle.py does
# ---------------------------------------------------------------------------


def _check_oracle_module():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "tools" / "check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(
    results: dict[str, tuple[list[str], list[tuple], object]], sf_dir: str, registry
) -> list[str]:
    """``results``: name -> (columns, rows, schema) as Spark returned them."""
    co = _check_oracle_module()
    con = co.duck_connection(sf_dir)
    fails = []
    for name, (cols, rows, schema) in results.items():
        sql = registry[name].sql
        if sql is None:
            continue
        try:
            cur = con.execute(sql)
            d_cols = [c[0] for c in cur.description]
            d_rows = cur.fetchall()
            diffs = co.dtype_class_diffs(schema, con, sql)
        except Exception as e:  # noqa: BLE001
            fails.append(f"{name}: oracle error {type(e).__name__}: {str(e)[:200]}")
            continue
        if diffs:
            fails.append(f"{name}: dtype class mismatch {diffs}")
        elif co._canon(cols, rows) != co._canon(d_cols, d_rows):
            fails.append(f"{name}: {len(rows)} spark rows differ from {len(d_rows)} oracle rows")
    con.close()
    return fails


# ---------------------------------------------------------------------------
# CDC: the maintained view and rollup against a recomputation
# ---------------------------------------------------------------------------


def cents(price: float) -> int:
    """Python twin of ``CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)``."""
    return math.floor(price * 100 + 0.5)


def check_cdc(
    view_rows: list[tuple], rollup_rows: list[tuple], state: tuple[dict, dict]
) -> list[str]:
    """``view_rows``: (o_orderkey, c_custkey, o_totalprice, o_orderpriority,
    c_mktsegment); ``rollup_rows``: (segment, priority, n, total, vmin,
    vmax). Both are compared with a recomputation over ``state``, the
    (orders, customers) the applied batches should have left."""
    orders, customers = state
    want_view = sorted(
        (oid, key, price, prio, customers[key][1])
        for key, oid, price, prio in orders.values()
        if key in customers
    )
    fails = []
    got_view = sorted(view_rows)
    if got_view != want_view:
        missing = len(set(want_view) - set(got_view))
        extra = len(set(got_view) - set(want_view))
        fails.append(f"view differs: {missing} rows missing, {extra} extra")
    groups: dict[tuple, list[int]] = defaultdict(list)
    for _, _, price, prio, seg in want_view:
        groups[(seg, prio)].append(cents(price))
    want_rollup = sorted(
        (seg, prio, len(v), sum(v), min(v), max(v)) for (seg, prio), v in groups.items()
    )
    if sorted(rollup_rows) != want_rollup:
        fails.append("rollup differs from recomputation over the final state")
    return fails
