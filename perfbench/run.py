"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Runs one benchmark workload, a pair of the workloads in ``workloads.py``,
in this process against the package's public functions, with Spark at
local[nproc]. After set-up it runs passes until ``--seconds`` of pass
time have elapsed (at least one pass; a pass runs each workload of the
pair once), checks every output, and prints three JSON lines: the
environment record, the detail record (the workloads' own metrics,
per-layer numbers and failure messages), and last the result
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` passes alternate
untraced and traced, and the metrics are the per-layer ones.

All files go under ``.perfbench/`` in the checkout: the run's work
directory (removed at the end) and ``.perfbench/out/`` (span dumps).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import harness  # noqa: E402

# metric names and units, and the workload names, as BENCHMARK.json lists them
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
E2E_UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
WORKLOAD_NAMES = [w["name"] for w in SPEC["workloads"]]


def _stop_jvm() -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM and its
    Python workers to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=30)
    deadline = time.time() + 20
    while time.time() < deadline and len(harness._tree(set())) > 1:
        time.sleep(0.1)


def _measure(args, pair, tracer) -> dict:
    passes, measured = 0, 0.0
    roots = []
    while passes == 0 or measured < args.seconds or (args.trace and passes < 2):
        traced = bool(args.trace) and passes % 2 == 1
        if traced:
            tracer.active = True
            try:
                with tracer.span("pass", "bench") as root:
                    took = sum(wl.run_pass(passes, True) for wl in pair)
            finally:
                tracer.active = False
            roots.append(root)
            tracer.collect()
        else:
            took = sum(wl.run_pass(passes, False) for wl in pair)
        for wl in pair:
            wl.check_pass()
        measured += took
        passes += 1
    return {"passes": passes, "measured_s": measured, "roots": roots}


def _layer_metrics(tracer, pair, m: dict) -> tuple[dict, dict]:
    totals: dict[str, float] = {}
    selfs: dict[str, float] = {}
    for root in m["roots"]:
        for k, v in tracer.spark_totals(root).items():
            totals[f"spark.{k}"] = totals.get(f"spark.{k}", 0) + v
        for k, v in tracer.self_times(root).items():
            selfs[f"self.{k}_s"] = selfs.get(f"self.{k}_s", 0) + v
    wall = sum(r.dur for r in m["roots"])
    totals["trace.wall_s"] = wall
    totals["trace.untraced_s"] = selfs.get("self.bench_s", 0.0)
    totals["trace.overhead_s"] = sum(wl.trace_overhead() for wl in pair)
    selfs["trace.residual_s"] = wall - sum(selfs.values())
    return totals, selfs


def run(args) -> int:
    proc_start = harness.process_start_epoch()
    out_dir = ROOT / ".perfbench" / "out"
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    harness.prepare_env(work)
    steal0 = harness.cpu_times()
    env = harness.environment(args.seed, args.workload, bool(args.trace))

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    spark = harness.start_spark()
    phases = {"spark_up": time.time() - proc_start}
    tracer = Tracer(spark)
    ctx = Ctx(spark, tracer, work, args.seed)
    pair = [cls(ctx) for cls in WORKLOADS[args.workload]]
    sampler = None
    try:
        for wl in pair:
            wl.setup()
        setup_s = time.time() - proc_start
        # peak_rss_mb covers the passes; the sink stub is not counted
        sampler = harness.RssSampler(ctx.exclude_pids)
        m = _measure(args, pair, tracer)
        peak = sampler.stop()
        phases["passes_done"] = time.time() - proc_start
        for wl in pair:
            ctx.timed(wl.finish)  # a check that raises counts as a failure
        phases["checks_done"] = time.time() - proc_start
        detail = {"setup_s": setup_s, "peak_rss_mb": peak}
        for wl in pair:
            detail.update(wl.details())
            detail[f"{wl.name}.samples_s"] = {
                "main": wl.op_s[False],
                "side": wl.side_s[False],
            }
        detail.update(ctx.layers)
        detail.update(passes=m["passes"], measured_s=m["measured_s"])
        if args.trace:
            metrics, selfs = _layer_metrics(tracer, pair, m)
            detail.update(selfs)
            units = LAYER_UNITS
            tracer.dump(out_dir / f"spans-{args.workload}-{args.seed}-{os.getpid()}.jsonl")
        else:
            bulk, incr = pair
            metrics = {
                "setup_s": setup_s,
                "peak_rss_mb": peak,
                "bulk_s": bulk.main(),
                "bulk_side_s": bulk.side(),
                "incr_s": incr.main(),
                "incr_side_s": incr.side(),
            }
            units = E2E_UNITS
    finally:
        if ctx.stub is not None:
            ctx.stub.stop()
        if sampler is not None:
            sampler.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    harness.finish_environment(env, steal0)
    phases["stopped"] = time.time() - proc_start
    detail["phases_s"] = phases  # seconds since process start
    detail["op_fail_ratio"] = ctx.failed / max(1, ctx.attempted)
    detail["failures"] = ctx.messages[:10]
    print(json.dumps({"env": env}))
    print(json.dumps({"detail": detail}, default=str))
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {
                    k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in units.items()
                },
            }
        )
    )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    missing = harness.checkout_missing()
    if missing:
        print(f"perfbench: not a checkout of the package; missing {missing}", file=sys.stderr)
        return 2
    if args.selftest:
        from perfbench.selftest import main as selftest

        return selftest()
    if args.workload not in WORKLOAD_NAMES:
        print(f"perfbench: --workload must be one of {WORKLOAD_NAMES}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
