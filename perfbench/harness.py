"""Process-level plumbing: the checkout-local environment, the Spark
session, the sink stub process, the environment record, and sampling of
the driver/JVM/Python-worker process tree (resident memory and CPU)."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import urllib.request
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "dataworks_audit_data_ingest_spark"
CREDS = {"aws_access_key_id": "perfbench", "aws_secret_access_key": "perfbench"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def checkout_missing() -> list[str]:
    """Repository files the benchmark drives; empty when all are present."""
    need = [f"{PKG}/__init__.py", "bench.py", "tools/check_oracle.py"]
    return [p for p in need if not (ROOT / p).is_file()]


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and make the package importable by Python workers. Must run before
    the JVM starts and before anything calls ``tempfile``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # driver JVM only (spark-submit adds these to its command): the heap is
    # committed and touched up front, so peak_rss_mb moves with what a
    # workload adds outside it rather than with when the collector grows it
    os.environ["SPARK_SUBMIT_OPTS"] = "-Xms1g -XX:+AlwaysPreTouch"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.pop("SPARK_MASTER", None)  # get_spark then runs local[nproc]
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_spark():
    """The package's ``get_spark`` (which applies ``tune``), configured
    through the environment :func:`prepare_env` sets. ``tune`` would zip
    the package to a fixed path under ``/tmp`` for the Python workers;
    they import it from ``PYTHONPATH`` here, so the session is marked as
    carrying it and no file is written outside the checkout."""
    from pyspark.sql import SparkSession

    from dataworks_audit_data_ingest_spark.session import get_spark

    SparkSession._dwadi_pkg_shipped = True
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# sink stub
# ---------------------------------------------------------------------------


class Stub:
    """The S3 sink stub (``sink_stub.py``) as a child process."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "sink_stub.py")],
            stdout=subprocess.PIPE,
            text=True,
        )
        port = int(self.proc.stdout.readline())
        self.url = f"http://127.0.0.1:{port}"

    def _call(self, method: str, path: str) -> dict:
        data = None if method == "GET" else b""
        req = urllib.request.Request(self.url + path, method=method, data=data)
        with urllib.request.urlopen(req, timeout=30) as r:
            return json.loads(r.read() or b"{}")

    def stats(self) -> dict:
        return self._call("GET", "/_stats")

    def drop(self, prefix: str) -> None:
        self._call("POST", f"/_drop?prefix={prefix}")

    def client(self):
        import boto3

        return boto3.client(
            "s3", region_name="eu-west-2", endpoint_url=self.url, **CREDS
        )

    def stop(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


# ---------------------------------------------------------------------------
# process tree sampling
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_start_epoch() -> float:
    """Wall-clock start of this process, from ``/proc``."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / _TICK


def _tree(exclude: set[int]) -> list[tuple[int, list[str], str]]:
    """(pid, stat fields after comm, comm) for this process and every
    descendant, minus ``exclude`` and their subtrees."""
    procs: dict[int, tuple[int, list[str], str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        rest = raw.rsplit(")", 1)[1].split()
        procs[int(d)] = (int(rest[1]), rest, comm)
    me = os.getpid()
    keep, frontier = [], [me]
    while frontier:
        pid = frontier.pop()
        if pid in exclude or pid not in procs:
            continue
        keep.append((pid, procs[pid][1], procs[pid][2]))
        frontier.extend(p for p, v in procs.items() if v[0] == pid)
    return keep


def tree_rss_mb(exclude: set[int]) -> float:
    """Resident memory of the tree. A child the JVM has spawned but not yet
    exec'd (``posix_spawn`` clones it with ``CLONE_VM``; Hadoop's local
    file system spawns ``chmod`` and the like) reports the JVM's own pages;
    such a child, whose size and resident pages equal its parent's, is
    skipped."""
    tree = _tree(exclude)
    stat = {pid: f for pid, f, _ in tree}
    # fields 4, 23 and 24 of /proc/<pid>/stat (ppid; vsize, bytes; rss,
    # pages) are indexes 1, 20 and 21 after comm
    pages = sum(
        int(f[21])
        for _, f, _ in tree
        if int(f[1]) not in stat or stat[int(f[1])][20:22] != f[20:22]
    )
    return pages * _PAGE / 1e6


def python_workers_cpu_s(exclude: set[int]) -> float:
    """User+system CPU of the Python worker processes under the JVM,
    reaped children included."""
    me = os.getpid()
    return sum(
        sum(int(x) for x in f[11:15]) / _TICK
        for pid, f, comm in _tree(exclude)
        if pid != me and comm.startswith("python")
    )


class RssSampler:
    def __init__(self, exclude: set[int], period: float = 0.25) -> None:
        self.exclude = exclude
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.exclude))
            self._stop.wait(self.period)

    def stop(self) -> float:
        if not self._stop.is_set():
            self._stop.set()
            self._t.join()
            self.peak = max(self.peak, tree_rss_mb(self.exclude))
        return self.peak


# ---------------------------------------------------------------------------
# environment record
# ---------------------------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies, read as ``bench.py`` reads them."""
    from bench import _cpu_times

    return _cpu_times()


def environment(seed: int, workload: str, trace: bool) -> dict:
    import botocore
    import pyarrow
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "cpus": nproc(),
        "master": f"local[{nproc()}]",
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "botocore": botocore.__version__,
        "python": sys.version.split()[0],
        "load_avg_start": os.getloadavg()[0],
    }


def finish_environment(env: dict, steal0: tuple[int, int]) -> None:
    steal1 = cpu_times()
    d_total = steal1[1] - steal0[1]
    env["load_avg_end"] = os.getloadavg()[0]
    env["cpu_steal_pct"] = (
        100.0 * (steal1[0] - steal0[0]) / d_total if d_total > 0 else -1.0
    )


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
