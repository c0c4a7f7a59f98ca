"""Seeded input generators. The same seed always gives the same inputs.

- :func:`audit_corpus` — the reference's source layout: ``YYYY-MM-DD/``
  directories of audit JSON-lines files with log-normal sizes, a fixed
  share of incompressible blobs, and one non-date directory the pipeline
  must skip.
- :func:`tick_landing` — one streaming tick's day of small files, each
  record stamped with its landing time (also set as the file mtime).
- :func:`cdc_plan` — a sequence of CDC batches over orders ⋈ customer
  (inserts, deletes, value updates, key moves) and the closed-form final
  state they produce.
- :func:`fixture_tables` — the ten query tables (TPC-H-ish star schema,
  events, documents, embeddings) as parquet, shaped like the fixtures
  the query registry is written against.
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from pathlib import Path
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KB, MB = 1 << 10, 1 << 20
_EVENTS = ("LOGIN", "LOGOUT", "READ", "UPDATE", "SEARCH", "EXPORT", "DELETE")
_SERVICES = ("ucfs", "uc-claims", "uc-payments", "uc-identity", "uc-notify")


def _lognormal_sizes(n: int, total: int, lo: int, hi: int) -> list[int]:
    """``n`` sizes at the evenly spaced quantiles of a log-normal, clipped
    to [lo, hi] and rescaled to sum to ``total``. Every seed gets the same
    size profile (the seed only shuffles which file gets which size), so
    the work per run does not depend on the seed."""
    dist = NormalDist(mu=math.log(96 * KB), sigma=1.3)
    sizes = np.array([math.exp(dist.inv_cdf((i + 0.5) / n)) for i in range(n)])
    for _ in range(8):
        sizes = np.clip(sizes * (total / sizes.sum()), lo, hi)
    out = [int(x) for x in sizes]
    out[-1] += total - sum(out)
    return out


def _audit_lines(rng: random.Random, n_bytes: int, stamp: str) -> bytes:
    """JSON-lines audit records totalling exactly ``n_bytes``."""
    parts, size, i = [], 0, 0
    while size < n_bytes:
        rec = {
            "id": f"{rng.getrandbits(64):016x}",
            "ts": stamp,
            "service": _SERVICES[rng.randrange(len(_SERVICES))],
            "event": _EVENTS[rng.randrange(len(_EVENTS))],
            "user": f"user-{rng.randrange(5000):05d}",
            "seq": i,
            "ok": rng.random() < 0.97,
        }
        line = json.dumps(rec, separators=(",", ":")).encode() + b"\n"
        parts.append(line)
        size += len(line)
        i += 1
    blob = b"".join(parts)
    return blob[:n_bytes]


@dataclass
class Corpus:
    root: Path
    days: list[date]
    files: dict[str, int] = field(default_factory=dict)  # relpath -> bytes

    @property
    def dated_bytes(self) -> int:
        return sum(n for p, n in self.files.items() if not p.startswith("not-"))


def audit_corpus(
    root: Path,
    seed: int,
    n_days: int,
    files_per_day: int,
    total_mb: float,
    incompressible_share: float = 0.05,
) -> Corpus:
    """Write the day-directory corpus under ``root``. Each day holds the
    same log-normal size profile; in each day the file nearest to
    ``incompressible_share`` of the day's bytes is a random blob."""
    rng = np.random.default_rng(seed)
    prng = random.Random(seed)
    day_bytes = int(total_mb * MB) // n_days
    profile = _lognormal_sizes(files_per_day, day_bytes, 16 * KB, 6 * MB)
    blob = min(range(files_per_day), key=lambda i: abs(profile[i] - incompressible_share * day_bytes))
    first = date(2020, 10, 1) + timedelta(days=int(rng.integers(0, 300)))
    days = [first + timedelta(days=d) for d in range(n_days)]
    corpus = Corpus(root, days)
    for day in days:
        ddir = root / day.isoformat()
        ddir.mkdir(parents=True, exist_ok=True)
        for j, i in enumerate(rng.permutation(files_per_day)):
            if i == blob:
                body = rng.bytes(profile[i])
            else:
                body = _audit_lines(prng, profile[i], f"{day.isoformat()}T00:00:00Z")
            rel = f"{day.isoformat()}/audit-{j:04d}.json"
            (root / rel).write_bytes(body)
            corpus.files[rel] = len(body)
    nd = root / "not-a-date"
    nd.mkdir(parents=True, exist_ok=True)
    (nd / "stray.json").write_bytes(_audit_lines(prng, 32 * KB, "stray"))
    corpus.files["not-a-date/stray.json"] = 32 * KB
    return corpus


def tick_landing(
    root: Path, seed: int, tick: int, day: date, n_files: int
) -> dict[str, int]:
    """Land one tick's day of small files; returns relpath -> bytes.
    Every record and the file mtime carry the landing time."""
    rng = random.Random(seed * 1_000_003 + tick)
    landed = datetime.now()
    stamp = landed.isoformat(timespec="microseconds")
    ddir = root / day.isoformat()
    ddir.mkdir(parents=True, exist_ok=True)
    files = {}
    for j in range(n_files):
        size = int(rng.uniform(2, 24) * KB)
        rel = f"{day.isoformat()}/tick{tick:03d}-{j:03d}.json"
        tmp = root / f".{tick}-{j}.tmp"
        tmp.write_bytes(_audit_lines(rng, size, stamp))
        ts = landed.timestamp()
        os.utime(tmp, (ts, ts))
        os.replace(tmp, root / rel)  # atomic: the stream never sees a torn file
        files[rel] = size
    return files


# --------------------------------------------------------------------------
# CDC plan over orders ⋈ customer
# --------------------------------------------------------------------------

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


@dataclass
class CdcBatch:
    bid: str
    left_upserts: list[tuple] = field(default_factory=list)  # (key, id, price, prio)
    left_deletes: list[tuple] = field(default_factory=list)  # (key, id)
    right_upserts: list[tuple] = field(default_factory=list)  # (key, segment)
    right_deletes: list[tuple] = field(default_factory=list)  # (key,)


@dataclass
class CdcPlan:
    initial: CdcBatch
    batches: list[CdcBatch]
    # states[n]: (orders id -> (key, id, price, prio), customers key ->
    # (key, segment)) after the initial load and the first n batches
    states: list[tuple[dict, dict]]


def cdc_plan(
    seed: int, n_orders: int, n_customers: int, n_batches: int, ops_per_batch: int
) -> CdcPlan:
    """The initial load plus ``n_batches`` change batches. Each batch
    updates order prices and priorities, deletes orders, moves orders to
    another customer (delete old key + upsert new key in the same batch),
    inserts orders, and updates and deletes customers. Every id appears at
    most once per kind of op per side in a batch, as the CDC store
    requires."""
    rng = random.Random(seed)
    customers = {k: (k, _SEGMENTS[rng.randrange(5)]) for k in range(n_customers)}

    def new_order(oid: int) -> tuple:
        return (
            rng.randrange(n_customers),
            oid,
            round(rng.uniform(1000, 500000), 2),
            _PRIORITIES[rng.randrange(5)],
        )

    orders = {i: new_order(i) for i in range(n_orders)}
    initial = CdcBatch("b000000", list(orders.values()), [], list(customers.values()), [])
    states = [(dict(orders), dict(customers))]
    next_id = n_orders
    batches = []
    for b in range(1, n_batches + 1):
        batch = CdcBatch(f"b{b:06d}")
        pick = rng.sample(list(orders), min(len(orders), ops_per_batch))
        k = ops_per_batch // 2
        for oid in pick[:k]:  # value updates, same key
            key, _, price, _ = orders[oid]
            orders[oid] = (key, oid, round(price * rng.uniform(0.5, 1.5), 2),
                           _PRIORITIES[rng.randrange(5)])
            batch.left_upserts.append(orders[oid])
        for oid in pick[k : k + k // 2]:  # deletes
            batch.left_deletes.append(orders[oid][:2])
            del orders[oid]
        for oid in pick[k + k // 2 :]:  # key moves
            old = orders[oid]
            batch.left_deletes.append(old[:2])
            orders[oid] = ((old[0] + 1 + rng.randrange(7)) % n_customers,) + old[1:]
            batch.left_upserts.append(orders[oid])
        for _ in range(k):  # inserts
            orders[next_id] = new_order(next_id)
            batch.left_upserts.append(orders[next_id])
            next_id += 1
        ckeys = rng.sample(sorted(customers), min(len(customers), 6))
        for ck in ckeys[:5]:
            customers[ck] = (ck, _SEGMENTS[rng.randrange(5)])
            batch.right_upserts.append(customers[ck])
        for ck in ckeys[5:]:
            batch.right_deletes.append((ck,))
            del customers[ck]
        batches.append(batch)
        states.append((dict(orders), dict(customers)))
    return CdcPlan(initial, batches, states)


# --------------------------------------------------------------------------
# Query fixture tables
# --------------------------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en",) * 3 + ("de", "es", "fr", "zh")


def _ts(days_from: date, day_offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from.isoformat(), "us")
    return pa.array(base + day_offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(out: Path, seed: int, sf: float) -> None:
    """Write ``{out}/{table}.parquet`` for the ten query tables at scale
    ``sf`` (orders = 1.5M × sf rows, lineitem ≈ 4 per order)."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_docs = n_vecs = max(500, int(50_000 * sf))

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), out / f"{name}.parquet")

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    o_days = rng.integers(0, 2404, n_ord)
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(date(1995, 1, 1), o_days),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    per_order = np.clip(rng.poisson(4, n_ord), 0, 13)
    l_ord = np.repeat(np.arange(n_ord), per_order)
    n_li = len(l_ord)
    l_line = np.concatenate([np.arange(1, k + 1) for k in per_order if k])
    qty = rng.integers(1, 51, n_li).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(date(1995, 1, 1), o_days[l_ord] + rng.integers(1, 122, n_li)),
    })
    gaps = rng.exponential(259.0, n_ev)
    ev_us = np.cumsum(np.round(gaps * 1e6)).astype("int64")
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(49.6, n_ev), 2)),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_words)))
    write("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
