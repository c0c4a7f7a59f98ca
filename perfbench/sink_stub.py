"""S3-compatible sink stub, run as its own process.

Implements just enough of the S3 REST API for the ingest paths:
``CreateBucket``/``HeadBucket``, ``PutObject`` (``x-amz-meta-*`` metadata,
botocore's ``x-amz-checksum-*`` headers and ``aws-chunked`` bodies with a
trailing checksum), ``GetObject``, ``ListObjectsV2`` and ``DeleteObject``.
Objects live in memory. Signatures are not checked.

It replaces moto for timing: the stub does no XML model validation or
response templating, so a put costs the HTTP round trip plus a dict
insert. Requests run on a fixed pool of one thread per CPU this process
may use; every response closes its connection so an idle client never
pins a thread.

Counters, read with ``GET /_stats``: puts, duplicate-key puts, body bytes
received, handler busy seconds, per-put handler time (median) and checksum
mismatches. ``POST /_drop?prefix=`` forgets stored objects under a prefix.

Run: ``python3 perfbench/sink_stub.py``; it binds a free port on
127.0.0.1 and prints it as its first stdout line. The stub exits when its parent process goes away.
"""

from __future__ import annotations

import base64
import http.server
import json
import os
import socketserver
import statistics
import sys
import threading
import time
import zlib
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import parse_qs, unquote, urlsplit
from xml.sax.saxutils import escape


class Store:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.buckets: set[str] = set()
        self.objects: dict[tuple[str, str], tuple[bytes, dict[str, str]]] = {}
        self.puts = 0
        self.dup_puts = 0
        self.bytes_in = 0
        self.busy_s = 0.0
        self.put_s: list[float] = []
        self.bad_checksums = 0

    def stats(self) -> dict:
        with self.lock:
            return {
                "puts": self.puts,
                "dup_puts": self.dup_puts,
                "mb_received": self.bytes_in / 1e6,
                "busy_s": self.busy_s,
                "put_p50_ms": (
                    1000 * statistics.median(self.put_s) if self.put_s else 0.0
                ),
                "bad_checksums": self.bad_checksums,
                "objects": len(self.objects),
            }


STORE = Store()


def _decode_aws_chunked(raw: bytes) -> tuple[bytes, dict[str, str]]:
    """Body and trailer headers of an ``aws-chunked`` payload:
    ``<hex-size>[;ext]\\r\\n<data>\\r\\n`` ... ``0\\r\\n<trailers>\\r\\n``."""
    out, pos, trailers = bytearray(), 0, {}
    while True:
        eol = raw.index(b"\r\n", pos)
        size = int(raw[pos:eol].split(b";")[0], 16)
        pos = eol + 2
        if size == 0:
            break
        out += raw[pos : pos + size]
        pos += size + 2
    for line in raw[pos:].split(b"\r\n"):
        if b":" in line:
            k, v = line.split(b":", 1)
            trailers[k.decode().strip().lower()] = v.decode().strip()
    return bytes(out), trailers


def _checksum_ok(body: bytes, headers: dict[str, str]) -> bool:
    want = headers.get("x-amz-checksum-crc32")
    if want is None:
        return True
    got = base64.b64encode(zlib.crc32(body).to_bytes(4, "big")).decode()
    return got == want


class Handler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def log_message(self, *args) -> None:  # keep stderr quiet
        pass

    def _split(self) -> tuple[str, str, dict[str, list[str]]]:
        parts = urlsplit(self.path)
        path = unquote(parts.path).lstrip("/")
        bucket, _, key = path.partition("/")
        return bucket, key, parse_qs(parts.query, keep_blank_values=True)

    def _send(
        self, code: int, body: bytes = b"", headers: dict[str, str] | None = None
    ) -> None:
        self.send_response(code)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(body)))
        self.send_header("Connection", "close")
        self.end_headers()
        if body and self.command != "HEAD":
            self.wfile.write(body)
        self.close_connection = True

    def _read_body(self) -> bytes:
        n = int(self.headers.get("Content-Length") or 0)
        return self.rfile.read(n) if n else b""

    def do_PUT(self) -> None:
        t0 = time.perf_counter()
        bucket, key, _ = self._split()
        raw = self._read_body()
        if not key:
            with STORE.lock:
                STORE.buckets.add(bucket)
            self._send(200)
            return
        headers = {k.lower(): v for k, v in self.headers.items()}
        body, trailers = raw, {}
        if "aws-chunked" in headers.get("content-encoding", "") or headers.get(
            "x-amz-content-sha256", ""
        ).startswith("STREAMING-"):
            body, trailers = _decode_aws_chunked(raw)
        meta = {
            k[len("x-amz-meta-") :]: v
            for k, v in headers.items()
            if k.startswith("x-amz-meta-")
        }
        ok = _checksum_ok(body, {**headers, **trailers})
        with STORE.lock:
            if not ok:
                STORE.bad_checksums += 1
            elif bucket not in STORE.buckets:
                ok = None
            else:
                STORE.dup_puts += (bucket, key) in STORE.objects
                STORE.objects[(bucket, key)] = (body, meta)
                STORE.puts += 1
                STORE.bytes_in += len(body)
        if ok is None:
            self._send(404, b"<Error><Code>NoSuchBucket</Code></Error>")
            return
        if not ok:
            self._send(400, b"<Error><Code>BadDigest</Code></Error>")
            return
        etag = '"%08x"' % zlib.crc32(body)
        self._send(200, headers={"ETag": etag})
        dt = time.perf_counter() - t0
        with STORE.lock:
            STORE.busy_s += dt
            STORE.put_s.append(dt)

    def do_HEAD(self) -> None:
        bucket, key, _ = self._split()
        with STORE.lock:
            found = (
                bucket in STORE.buckets
                if not key
                else (bucket, key) in STORE.objects
            )
        self._send(200 if found else 404)

    def do_GET(self) -> None:
        bucket, key, qs = self._split()
        if bucket == "_stats":
            self._send(200, json.dumps(STORE.stats()).encode())
            return
        if key:
            with STORE.lock:
                obj = STORE.objects.get((bucket, key))
            if obj is None:
                self._send(404, b"<Error><Code>NoSuchKey</Code></Error>")
                return
            body, meta = obj
            hdrs = {f"x-amz-meta-{k}": v for k, v in meta.items()}
            hdrs["Content-Type"] = "binary/octet-stream"
            self._send(200, body, hdrs)
            return
        self._list(bucket, qs)

    def _list(self, bucket: str, qs: dict[str, list[str]]) -> None:
        prefix = qs.get("prefix", [""])[0]
        start = qs.get("continuation-token", qs.get("start-after", [""]))[0]
        limit = int(qs.get("max-keys", ["1000"])[0])
        with STORE.lock:
            keys = sorted(
                (k, len(v[0]))
                for (b, k), v in STORE.objects.items()
                if b == bucket and k.startswith(prefix) and k > start
            )
        page, more = keys[:limit], len(keys) > limit
        items = "".join(
            f"<Contents><Key>{escape(k)}</Key><Size>{n}</Size></Contents>"
            for k, n in page
        )
        token = (
            f"<NextContinuationToken>{escape(page[-1][0])}</NextContinuationToken>"
            if more
            else ""
        )
        xml = (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<ListBucketResult xmlns="http://s3.amazonaws.com/doc/2006-03-01/">'
            f"<Name>{escape(bucket)}</Name><Prefix>{escape(prefix)}</Prefix>"
            f"<KeyCount>{len(page)}</KeyCount><MaxKeys>{limit}</MaxKeys>"
            f"<IsTruncated>{'true' if more else 'false'}</IsTruncated>"
            f"{items}{token}</ListBucketResult>"
        )
        self._send(200, xml.encode(), {"Content-Type": "application/xml"})

    def do_DELETE(self) -> None:
        bucket, key, _ = self._split()
        with STORE.lock:
            STORE.objects.pop((bucket, key), None)
        self._send(204)

    def do_POST(self) -> None:
        bucket, _, qs = self._split()
        self._read_body()
        if bucket == "_drop":
            prefix = qs.get("prefix", [""])[0]
            with STORE.lock:
                for k in [k for k in STORE.objects if k[1].startswith(prefix)]:
                    del STORE.objects[k]
        else:
            self._send(501)
            return
        self._send(200, b"{}")


class PooledServer(socketserver.TCPServer):
    """TCP server whose requests run on a fixed-size thread pool."""

    allow_reuse_address = True
    request_queue_size = 128

    def __init__(self, addr, handler, threads: int) -> None:
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address) -> None:
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — a broken client must not kill a worker
            pass
        finally:
            self.shutdown_request(request)


def _watch_parent(server: PooledServer, parent: int) -> None:
    while os.getppid() == parent:
        time.sleep(0.5)
    server.shutdown()


def main() -> int:
    threads = len(os.sched_getaffinity(0))
    server = PooledServer(("127.0.0.1", 0), Handler, threads)
    threading.Thread(
        target=_watch_parent, args=(server, os.getppid()), daemon=True
    ).start()
    print(server.server_address[1], flush=True)
    try:
        server.serve_forever(poll_interval=0.2)
    finally:
        server.pool.shutdown(wait=False, cancel_futures=True)
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
