"""The four workloads, and the two benchmark workloads that run them in
pairs. Each one is a closed loop with one client: a pass runs the
workload's operations in order, each waiting for the previous.

Every workload reports two end-to-end times, its main and its side
operation (see ``README.md`` for what each means per workload), and its
own named metrics (``ingest_MBps``, ``tick_p50_s``, ...) in the detail
record. A traced pass replays the same public calls inside spans and adds
the per-layer metrics.
"""

from __future__ import annotations

import math
import shutil
import statistics
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from datetime import timedelta
from pathlib import Path

from pyspark.sql import functions as F

from . import gen, verify
from .harness import CREDS, Stub, median, nproc, python_workers_cpu_s
from .trace import Tracer

BUCKET = "audit"


class Ctx:
    """What the workloads of a run share: the session, the tracer, the work
    directory, the seed, the failure tally, the per-layer metrics and the
    sink stub with its key pair."""

    def __init__(self, spark, tracer: Tracer, work: Path, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []
        self.exclude_pids: set[int] = set()
        self.layers: dict[str, float] = {}
        self.stub: Stub | None = None
        self.keys: tuple[bytes, bytes] = (b"", b"")

    def record(self, n_checks: int, fails: list[str]) -> None:
        self.attempted += max(n_checks, len(fails))
        self.failed += len(fails)
        self.messages += fails[:20]

    def timed(self, fn, *args, **kw):
        """Run one operation; (seconds, result), result None on failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kw)
        except Exception as e:  # noqa: BLE001 — counted, the run goes on
            self.failed += 1
            self.messages.append(f"{getattr(fn, '__name__', fn)}: {type(e).__name__}: {e}"[:400])
            traceback.print_exc()
            return time.perf_counter() - t0, None
        return time.perf_counter() - t0, out


def _keypair() -> tuple[bytes, bytes]:
    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import rsa

    priv = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    return (
        priv.public_key().public_bytes(
            serialization.Encoding.PEM, serialization.PublicFormat.SubjectPublicKeyInfo
        ),
        priv.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.PKCS8,
            serialization.NoEncryption(),
        ),
    )


class Workload:
    name = ""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.work = ctx.work / self.name
        self.work.mkdir(parents=True, exist_ok=True)
        self.stub: Stub | None = None
        self.layers = ctx.layers
        # samples of the workload's main and side operation, keyed by
        # whether the pass was traced; the end-to-end metrics use untraced
        self.op_s: dict[bool, list[float]] = {False: [], True: []}
        self.side_s: dict[bool, list[float]] = {False: [], True: []}

    def span(self, name: str, layer: str):
        return self.tr.span(name, layer)

    def start_stub(self) -> None:
        """The run's sink stub and key pair, started by the first workload
        that needs them."""
        if self.ctx.stub is None:
            self.ctx.stub = Stub()
            self.ctx.exclude_pids.add(self.ctx.stub.proc.pid)
            self.ctx.stub.client().create_bucket(
                Bucket=BUCKET,
                CreateBucketConfiguration={"LocationConstraint": "eu-west-2"},
            )
            self.ctx.keys = _keypair()
        self.stub = self.ctx.stub
        self.pub, self.priv = self.ctx.keys

    def ingest_config(self, src: Path, prefix: str, progress: Path):
        from dataworks_audit_data_ingest_spark.ingest.pipeline import IngestConfig

        return IngestConfig(
            src_dir=str(src),
            s3_bucket=BUCKET,
            s3_prefix=prefix,
            hsm_key_id="cloudhsm:7,8",
            rsa_public_key_pem=self.pub,
            progress_file=str(progress),
            s3_endpoint_url=self.stub.url,
            extra_boto_kwargs=dict(CREDS),
        )

    def sink_layer(self, before: dict) -> None:
        after = self.stub.stats()
        for k in ("puts", "dup_puts", "mb_received", "busy_s"):
            self.layers[f"sink.{k}"] = self.layers.get(f"sink.{k}", 0) + after[k] - before[k]
        self.layers["sink.put_p50_ms"] = after["put_p50_ms"]

    def main(self) -> float:
        return median(self.op_s[False])

    def side(self) -> float:
        return median(self.side_s[False])

    def check_pass(self) -> None:
        """Checks to run after each pass, outside its timing and spans."""

    def trace_overhead(self) -> float:
        """Traced minus untraced median of the main operation."""
        return median(self.op_s[True]) - median(self.op_s[False])

    # subclasses: setup(), run_pass(i, traced) -> timed seconds, finish(),
    # details()


# ---------------------------------------------------------------------------
# ingest_backfill
# ---------------------------------------------------------------------------


class IngestBackfill(Workload):
    """``run_ingest`` with no progress file over the whole corpus, then
    ``run_ingest`` calls with nothing new (the reference's 12-hourly
    case). Each pass writes under its own S3 prefix and progress file."""

    name = "ingest_backfill"
    N_DAYS, FILES_PER_DAY, TOTAL_MB = 5, 16, 12.0
    RESUMES, WARM_RESUMES = 60, 40

    def setup(self) -> None:
        from dataworks_audit_data_ingest_spark.ingest.pipeline import run_ingest

        self.corpus = gen.audit_corpus(
            self.work / "src", self.ctx.seed, self.N_DAYS, self.FILES_PER_DAY, self.TOTAL_MB
        )
        self.start_stub()
        # warm-up, untimed: a backfill of the last day only (the progress
        # file starts at the day before) runs every step of a full one and
        # starts the Python workers; then resumes until their times settle
        progress = self.work / "warm.progress"
        progress.write_text(self.corpus.days[-2].isoformat())
        warm = self.ingest_config(self.corpus.root, "warm/", progress)
        for _ in range(1 + self.WARM_RESUMES):
            run_ingest(self.spark, warm)
        self.stub.drop("warm/")
        # per-layer observations of traced calls, reduced in finish()
        self.obs: dict[str, list[float]] = defaultdict(list)

    def run_pass(self, i: int, traced: bool) -> float:
        """One backfill and its resumes under a fresh prefix and progress
        file; returns the timed seconds."""
        from dataworks_audit_data_ingest_spark.ingest.pipeline import run_ingest

        prefix, progress = f"p{i:03d}/", self.work / f"progress-{i}"
        cfg = self.ingest_config(self.corpus.root, prefix, progress)
        before = self.stub.stats()
        call = self.replay_ingest if traced else run_ingest
        t0 = time.perf_counter()
        dt, committed = self.ctx.timed(call, self.spark, cfg)
        self.op_s[traced].append(dt)
        for _ in range(self.RESUMES):
            dt, again = self.ctx.timed(call, self.spark, cfg)
            self.side_s[traced].append(dt)
            self.ctx.record(1, [] if again == [] else [f"resume re-ingested {again}"])
        took = time.perf_counter() - t0
        if traced:
            self.sink_layer(before)
        self.pending = (prefix, progress, committed)  # for check_pass()
        return took

    def check_pass(self) -> None:
        """Check the pass's objects and watermark, then forget them."""
        prefix, progress, committed = self.pending
        days = [d.isoformat() for d in self.corpus.days]
        objects = verify.fetch_objects(self.stub.client(), BUCKET, prefix)
        expected = {
            f"{prefix}{rel}.gz.enc": (self.corpus.root / rel).read_bytes()
            for rel in self.corpus.files
            if not rel.startswith("not-")
        }
        self.ctx.record(*verify.check_objects(objects, expected, self.priv))
        self.ctx.record(1, verify.check_watermark(progress, days[-1]))
        got = [d.isoformat() for d in committed or []]
        self.ctx.record(1, [] if got == days else [f"committed {got} != {days}"])
        self.stub.drop(prefix)

    def replay_ingest(self, spark, cfg):
        """``run_ingest``'s public steps in order, each in a span."""
        from dataworks_audit_data_ingest_spark.ingest import pipeline as P
        from dataworks_audit_data_ingest_spark.ingest import watermark as W

        with self.span("run_ingest", "ingest.pipeline"):
            with self.span("find_start_date", "ingest.watermark") as s:
                wm = W.find_start_date(cfg.progress_file)
            self.obs["watermark.read_s"].append(s.dur)
            with self.span("listing", "ingest.pipeline") as s:
                scanned = P.filter_after_watermark(P.scan_source(spark, cfg.src_dir), wm)
                files = {
                    r["day"]: int(r["n"])
                    for r in scanned.groupBy("day")
                    .agg(F.sum("length").alias("total_bytes"), F.count("*").alias("n"))
                    .collect()
                }
            self.obs["pipeline.listing_s"].append(s.dur)
            if not files:
                return []
            self.obs["pipeline.files_listed"].append(sum(files.values()))
            self.obs["pipeline.days"].append(len(files))
            cpu0 = python_workers_cpu_s(self.ctx.exclude_pids)
            for day in sorted(files):
                with self.span(f"day {day}", "ingest.pipeline") as s:
                    day_df = scanned.filter(F.col("day") == F.lit(day))
                    P.encrypt_and_upload(day_df, cfg).count()
                self.obs["pipeline.day_job_p50_s"].append(s.dur)
                with self.span("update_progress_file", "ingest.watermark") as s:
                    W.update_progress_file(cfg.progress_file, day)
                self.obs["watermark.commit_s"].append(s.dur)
            self.obs["pipeline.encrypt_upload_cpu_s"].append(
                python_workers_cpu_s(self.ctx.exclude_pids) - cpu0
            )
            self.obs["watermark.commits"].append(len(files))
        return sorted(files)

    def crypto_layer(self) -> None:
        """Single-threaded kernel rates over a sample of the corpus."""
        import zlib

        from dataworks_audit_data_ingest_spark.ingest.crypto import (
            EnvelopeEncryptor,
            eax_encrypt,
        )

        sample = [
            (self.corpus.root / rel).read_bytes()
            for rel in sorted(self.corpus.files)[:: max(1, len(self.corpus.files) // 24)]
        ]
        with self.span("crypto sample", "ingest.crypto"):
            n_in = sum(map(len, sample))
            t0 = time.perf_counter()
            packed = [zlib.compress(b) for b in sample]
            t_zip = time.perf_counter() - t0
            n_out = sum(map(len, packed))
            key, nonce = b"k" * 16, b"n" * 16
            t0 = time.perf_counter()
            for p in packed:
                eax_encrypt(key, nonce, p)
            t_eax = time.perf_counter() - t0
            enc = EnvelopeEncryptor(self.pub, "cloudhsm:7,8")
            small = [b[: 16 * 1024] for b in sample]
            per = []
            for b in small:
                t0 = time.perf_counter()
                enc.encrypt_record(b)
                per.append(time.perf_counter() - t0)
        self.layers.update(
            {
                "crypto.compress_MBps": n_in / 1e6 / t_zip,
                "crypto.eax_MBps": n_out / 1e6 / t_eax,
                "crypto.record_us": 1e6 * statistics.median(per),
                "crypto.compress_ratio": n_in / n_out,
            }
        )

    def finish(self) -> None:
        if self.obs:
            self.crypto_layer()
            # times: median per traced call; counts: per traced backfill
            for k, vs in self.obs.items():
                self.layers[k] = median(vs) if k.endswith("_s") else max(vs)

    def corpus_mb(self) -> float:
        return self.corpus.dated_bytes / 1e6

    def details(self) -> dict:
        return {
            "ingest_MBps": self.corpus_mb() / self.main() if self.main() else 0.0,
            "ingest_resume_s": self.side(),
            "corpus_mb": self.corpus_mb(),
            "corpus_files": len(self.corpus.files),
        }


# ---------------------------------------------------------------------------
# stream_ticks
# ---------------------------------------------------------------------------


class StreamTicks(Workload):
    """``start_encrypted_ingest_stream`` with ``availableNow``, one query
    per tick: land a new day of small files next to the growing history,
    then drain it. Tick latency runs from the first file landing to the
    drain returning. Every pass starts from the state set-up leaves: after
    its checks, the pass's days, their objects and the checkpoint are put
    back, so each pass does the same work however many run."""

    name = "stream_ticks"
    HISTORY_DAYS, FILES_PER_TICK, TICKS_PER_PASS, WARM_TICKS = 4, 16, 8, 3

    def setup(self) -> None:
        self.start_stub()
        self.src = self.work / "src"
        self.ckpt = self.work / "ckpt"
        self.day = gen.date(2021, 3, 1)
        self.landed: dict[str, int] = {}
        self.tick = 0
        for _ in range(self.HISTORY_DAYS):
            self._land()
        self.cfg = self.ingest_config(self.src, "s/", self.work / "unused.progress")
        self.progress: list[dict] = []
        self.run_ids: list[str] = []
        # warm-up: untimed ticks (the first drains the history too); the
        # first ticks after start run markedly slower than later ones
        for _ in range(self.WARM_TICKS):
            self._drain()
        self.base = (self.tick, self.day, dict(self.landed))
        shutil.copytree(self.ckpt, self.work / "ckpt.base")

    def _land(self) -> None:
        self.landed.update(
            gen.tick_landing(self.src, self.ctx.seed, self.tick, self.day, self.FILES_PER_TICK)
        )
        self.tick += 1
        self.day += timedelta(days=1)

    def _drain(self):
        from dataworks_audit_data_ingest_spark.streaming.jobs import (
            start_encrypted_ingest_stream,
        )

        with self.span("land files", "bench"):
            self._land()
        q = start_encrypted_ingest_stream(self.spark, self.cfg, str(self.ckpt))
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.run_ids.append(str(q.runId))
        return [p if isinstance(p, dict) else {"durationMs": p.durationMs} for p in q.recentProgress]

    def run_pass(self, i: int, traced: bool) -> float:
        before = self.stub.stats()
        t0 = time.perf_counter()
        for _ in range(self.TICKS_PER_PASS):
            with self.span(f"tick {self.tick}", "streaming.jobs"):
                dt, prog = self.ctx.timed(self._drain)
            self.op_s[traced].append(dt)
            if traced:
                self.tr.foreign_groups.append(self.run_ids[-1])
            for p in prog or []:
                d = p.get("durationMs", {})
                if "triggerExecution" in d:
                    self.side_s[traced].append(d["triggerExecution"] / 1e3)
                if traced:
                    self.progress.append(d)
        took = time.perf_counter() - t0
        if traced:
            self.sink_layer(before)
        return took

    def check_pass(self) -> None:
        """Check every object against its source, then put back the state
        set-up left."""
        objects = verify.fetch_objects(self.stub.client(), BUCKET, "s/")
        expected = {
            f"s/{rel}.gz.enc": (self.src / rel).read_bytes() for rel in self.landed
        }
        self.ctx.record(*verify.check_objects(objects, expected, self.priv))
        self.tick, self.day, base = self.base
        for day in {rel.split("/")[0] for rel in self.landed.keys() - base.keys()}:
            shutil.rmtree(self.src / day)
            self.stub.drop(f"s/{day}/")
        self.landed = dict(base)
        shutil.rmtree(self.ckpt)
        shutil.copytree(self.work / "ckpt.base", self.ckpt)

    def finish(self) -> None:
        dups = self.stub.stats()["dup_puts"]
        self.ctx.record(1, [] if dups == 0 else [f"{dups} objects uploaded twice"])
        if self.progress:
            self.layers["stream.triggers"] = len(self.progress)
            for k in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
                self.layers[f"stream.{k}_s"] = sum(d.get(k, 0) for d in self.progress) / 1e3

    def details(self) -> dict:
        return {
            "tick_p50_s": self.main(),
            "trigger_p50_s": self.side(),
            "ticks": len(self.op_s[False]) + len(self.op_s[True]),
            "files_landed": len(self.landed),
        }


# ---------------------------------------------------------------------------
# query_headline
# ---------------------------------------------------------------------------


class QueryHeadline(Workload):
    """``bench.BENCH_QUERIES`` over generated tables, each forced with a
    noop write. The warm-up collects every result once; those results are
    checked against the DuckDB oracle after timing."""

    name = "query_headline"
    SF = 0.01

    def setup(self) -> None:
        from bench import BENCH_QUERIES

        from dataworks_audit_data_ingest_spark.queries import all_queries

        self.names = list(BENCH_QUERIES)
        self.registry = all_queries()
        self.sf_dir = str(self.work / "tables")
        gen.fixture_tables(Path(self.sf_dir), self.ctx.seed, self.SF)
        # warm-up: collect every result once, on a thread per core — the
        # cold pass is mostly JIT and code generation, which overlap well
        with ThreadPoolExecutor(nproc()) as pool:
            got = dict(zip(self.names, pool.map(self._collect, self.names)))
        self.results = {n: r for n, r in got.items() if not isinstance(r, str)}
        self.ctx.record(len(self.names), [r for r in got.values() if isinstance(r, str)])
        self.samples: dict[str, list[float]] = {n: [] for n in self.names}
        self.parts: dict[str, float] = {}

    def _collect(self, name: str):
        """(columns, rows, schema) of one query, or the error as a string."""
        try:
            df = self.registry[name].fn(self.spark, self.sf_dir)
            return df.columns, [tuple(r) for r in df.collect()], df.schema
        except Exception as e:  # noqa: BLE001 — counted as a failed check
            return f"{name}: {type(e).__name__}: {e}"[:400]

    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _untraced(self, name: str) -> None:
        self._noop(self.registry[name].fn(self.spark, self.sf_dir))

    def _traced(self, name: str) -> None:
        with self.span(name, "queries"):
            with self.span("build", "queries") as b:
                df = self.registry[name].fn(self.spark, self.sf_dir)
            with self.span("plan", "queries") as p:
                df._jdf.queryExecution().executedPlan()
            with self.span("exec", "queries") as e:
                self._noop(df)
        for k, s in (("build", b), ("plan", p), ("exec", e)):
            self.parts[f"query.{k}_s"] = self.parts.get(f"query.{k}_s", 0.0) + s.dur
        self.parts[f"query.{name}.exec_s"] = e.dur

    def run_pass(self, i: int, traced: bool) -> float:
        took = 0.0
        for name in self.names:
            dt, _ = self.ctx.timed(self._traced if traced else self._untraced, name)
            if not traced:
                self.samples[name].append(dt)
            took += dt
        self.op_s[traced].append(took)
        return took

    def finish(self) -> None:
        self.ctx.record(
            len(self.results), verify.check_queries(self.results, self.sf_dir, self.registry)
        )
        self.layers.update(self.parts)

    def per_query(self) -> dict[str, float]:
        return {n: median(s) for n, s in self.samples.items()}

    def main(self) -> float:
        return sum(self.per_query().values())

    def side(self) -> float:
        """Geometric mean of the per-query medians: every query counts
        alike, however long it runs."""
        per = list(self.per_query().values())
        return math.exp(statistics.fmean(math.log(t) for t in per)) if all(per) else 0.0

    def details(self) -> dict:
        return {
            "query_total_s": self.main(),
            "query_geomean_s": self.side(),
            "queries": self.per_query(),
            "sf": self.SF,
        }


# ---------------------------------------------------------------------------
# cdc_maintain
# ---------------------------------------------------------------------------


class CdcMaintain(Workload):
    """A seeded sequence of CDC batches over orders ⋈ customer: each batch
    goes through ``update_join_view_cdc`` then ``update_cdc_rollup`` (the
    q265/q269 shape), with one ``compact_join_view_cdc`` mid-stream. Set-up
    loads the initial state and applies the first batch; each pass applies
    the second batch, compacts, then applies the third. After its checks
    the stores are put back as set-up left them, so each pass does the same
    work however many run."""

    name = "cdc_maintain"
    N_ORDERS, N_CUSTOMERS, OPS = 15000, 1500, 60
    GROUPS = ("c_mktsegment", "o_orderpriority")
    CENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
    SCHEMAS = {
        "left_upserts": ("c_custkey", "o_orderkey", "o_totalprice", "o_orderpriority"),
        "left_deletes": ("c_custkey", "o_orderkey"),
        "right_upserts": ("c_custkey", "c_mktsegment"),
        "right_deletes": ("c_custkey",),
    }

    def setup(self) -> None:
        from dataworks_audit_data_ingest_spark.incremental.joinview import JoinViewSpec

        self.spec = JoinViewSpec(
            key="c_custkey", left_id="o_orderkey", right_id="c_custkey", n_buckets=8
        )
        # the warm-up batch, then the two batches each pass applies
        self.plan = gen.cdc_plan(self.ctx.seed, self.N_ORDERS, self.N_CUSTOMERS, 3, self.OPS)
        self.root = str(self.work / "view")
        self.store = str(self.work / "rollup")
        self.batches = [self.plan.initial, *self.plan.batches]
        self.parts: dict[str, list[float]] = {"joinview": [], "rollup": [], "read": []}
        # warm-up: the initial load and the first batch
        self._apply(0, self._frames(0), traced=False)
        self._apply(1, self._frames(1), traced=False)
        for d in (self.root, self.store):
            shutil.copytree(d, d + ".base")

    def _frames(self, k: int) -> dict:
        import pandas as pd

        b = self.batches[k]
        out = {}
        for feed, cols in self.SCHEMAS.items():
            rows = getattr(b, feed)
            out[feed] = (
                self.spark.createDataFrame(pd.DataFrame(rows, columns=list(cols)))
                if rows
                else None
            )
        return out

    def _apply(self, k: int, frames: dict, traced: bool) -> None:
        from dataworks_audit_data_ingest_spark.incremental.joinview_cdc import (
            read_join_view_cdc,
            read_join_view_cdc_delta,
            update_join_view_cdc,
        )
        from dataworks_audit_data_ingest_spark.incremental.rollup_cdc import (
            update_cdc_rollup,
        )

        bid = self.batches[k].bid
        with self.span("update_join_view_cdc", "incremental.joinview_cdc") as j:
            update_join_view_cdc(self.spark, self.root, bid, self.spec, **frames)
        with self.span("read feed and view", "incremental.joinview_cdc") as r:
            feed = read_join_view_cdc_delta(self.spark, self.root, bid)
            view = read_join_view_cdc(self.spark, self.root)
        with self.span("update_cdc_rollup", "incremental.rollup_cdc") as u:
            update_cdc_rollup(
                self.spark, self.store, feed, view, bid,
                group_cols=self.GROUPS, value_expr=self.CENTS,
            )
        if traced:
            for key, sp in (("joinview", j), ("read", r), ("rollup", u)):
                self.parts[key].append(sp.dur)

    def _compact(self, k: int) -> None:
        from dataworks_audit_data_ingest_spark.incremental.joinview_cdc import (
            compact_join_view_cdc,
        )

        with self.span("compact_join_view_cdc", "incremental.joinview_cdc"):
            compact_join_view_cdc(
                self.spark, self.root, self.spec, exclude=(self.batches[k].bid,)
            )

    def run_pass(self, i: int, traced: bool) -> float:
        took = 0.0
        for k in (2, 3):
            frames = self._frames(k)  # the feed, built outside the timing
            with self.span(f"batch {k}", "bench"):
                dt, _ = self.ctx.timed(self._apply, k, frames, traced)
            self.op_s[traced].append(dt)
            took += dt
            if k == 2:
                dt, _ = self.ctx.timed(self._compact, k)
                self.side_s[traced].append(dt)
                took += dt
        return took

    def check_pass(self) -> None:
        """Compare the view and rollup to a recomputation over the final
        state, then put back the stores set-up left."""
        from dataworks_audit_data_ingest_spark.incremental.joinview_cdc import (
            read_join_view_cdc,
        )
        from dataworks_audit_data_ingest_spark.incremental.rollup_cdc import (
            read_cdc_rollup,
        )

        view = read_join_view_cdc(self.spark, self.root).select(
            "o_orderkey", "c_custkey", "o_totalprice", "o_orderpriority", "c_mktsegment"
        )
        rollup = read_cdc_rollup(self.spark, self.store, self.GROUPS).select(
            *self.GROUPS, "n", "total", "vmin", "vmax"
        )
        self.ctx.record(
            2,
            verify.check_cdc(
                [tuple(r) for r in view.collect()],
                [tuple(r) for r in rollup.collect()],
                self.plan.states[-1],
            ),
        )
        for d in (self.root, self.store):
            shutil.rmtree(d)
            shutil.copytree(d + ".base", d)

    def finish(self) -> None:
        if self.parts["joinview"]:
            self.layers.update(
                {
                    "joinview_cdc.update_p50_s": median(self.parts["joinview"]),
                    "joinview_cdc.jobs_per_batch": self._jobs_per_call("update_join_view_cdc"),
                    "rollup_cdc.update_p50_s": median(self.parts["rollup"]),
                    "rollup_cdc.jobs_per_batch": self._jobs_per_call("update_cdc_rollup"),
                    "joinview_cdc.compact_s": median(self.side_s[False] + self.side_s[True]),
                    "joinview_cdc.read_s": median(self.parts["read"]),
                }
            )

    def _jobs_per_call(self, name: str) -> float:
        """Mean Spark jobs per traced call of ``name``, its children's
        and its pool threads' jobs included."""
        counts = []
        for top in self.tr.spans:
            if top.name != name:
                continue
            ids = {top.id}
            for sp in self.tr.spans:
                if sp.parent in ids:
                    ids.add(sp.id)
            counts.append(
                len({s["job"] for sp in self.tr.spans if sp.id in ids for s in sp.stages})
            )
        return statistics.mean(counts) if counts else 0.0

    def details(self) -> dict:
        return {
            "cdc_batch_p50_s": self.main(),
            "cdc_compact_s": self.side(),
            "batches": len(self.op_s[False]) + len(self.op_s[True]),
        }


# BENCHMARK.json's workloads: each runs two of the four above in one
# process, so they share the JVM start and its warm-up; the first of a
# pair reports the end-to-end ``bulk_*`` metrics, the second ``incr_*``
WORKLOADS = {
    "ingest_stream": (IngestBackfill, StreamTicks),
    "query_cdc": (QueryHeadline, CdcMaintain),
}
