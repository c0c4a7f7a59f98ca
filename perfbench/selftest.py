"""Self-test of the output checks: a clean set of encrypted objects passes,
and a flipped ciphertext byte, a missing object and a wrong watermark are
each counted as a failure. Needs no Spark.

    python3 perfbench/run.py --selftest
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from dataworks_audit_data_ingest_spark.ingest.crypto import EnvelopeEncryptor

from . import gen, verify
from .workloads import _keypair


def main() -> int:
    pub, priv = _keypair()
    enc = EnvelopeEncryptor(pub, "cloudhsm:7,8")
    with tempfile.TemporaryDirectory(dir=Path(__file__).resolve().parent.parent) as d:
        root = Path(d)
        corpus = gen.audit_corpus(root / "src", seed=7, n_days=2, files_per_day=3, total_mb=0.5)
        expected, objects = {}, {}
        for rel in corpus.files:
            if rel.startswith("not-"):
                continue
            body = (corpus.root / rel).read_bytes()
            rec = enc.encrypt_record(body)
            key = f"p/{rel}.gz.enc"
            expected[key] = body
            objects[key] = (rec.ciphertext, rec.metadata())
        progress = root / "progress"
        progress.write_text(corpus.days[-1].isoformat())
        last = corpus.days[-1].isoformat()

        first = sorted(objects)[0]
        flipped = dict(objects)
        body, meta = flipped[first]
        flipped[first] = (bytes([body[0] ^ 1]) + body[1:], meta)
        missing = {k: v for k, v in objects.items() if k != first}
        wrong_wm = root / "progress-wrong"
        wrong_wm.write_text(corpus.days[0].isoformat())

        cases = {
            "clean objects": (verify.check_objects(objects, expected, priv)[1], 0),
            "clean watermark": (verify.check_watermark(progress, last), 0),
            "flipped byte": (verify.check_objects(flipped, expected, priv)[1], 1),
            "missing object": (verify.check_objects(missing, expected, priv)[1], 1),
            "wrong watermark": (verify.check_watermark(wrong_wm, last), 1),
        }
    ok = True
    for name, (fails, want) in cases.items():
        good = (len(fails) >= 1) if want else not fails
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {name}: {len(fails)} failure(s) {fails[:1]}")
    return 0 if ok else 1
