"""Spans around the benchmark's calls into the package, and Spark stage
metrics read from the in-process status store (works with the UI off).

A span records name, layer, start, end, parent and run id. With tracing
on, each span also gets its own Spark job group, so the stages its jobs
ran can be read back after the pass (:meth:`Tracer.collect`), outside its
timing. Jobs started on other threads carry no group (the package runs
some store phases on thread pools) or the streaming query's run id as
their group; their stages are credited to the innermost span whose
interval holds the stage's submission time.

Spans stay in memory; :meth:`Tracer.dump` writes them out at the end.
Tracing is switched per pass with :attr:`Tracer.active`; while it is off,
:meth:`Tracer.span` only times the call: it records nothing, sets no job
group and reads no stages, so untraced passes run the same code as a run
without tracing.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import uuid
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    group: str | None = None
    stages: list[dict] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.active = False
        self.run = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        # job groups of streaming queries started under spans
        self.foreign_groups: list[str] = []
        self._collected = 0  # spans before this index have their stages
        self._stack = threading.local()
        self._seen_stages: set[int] = set()
        self._t0_wall = time.time() - time.perf_counter()

    def _parents(self) -> list[Span]:
        if not hasattr(self._stack, "s"):
            self._stack.s = []
        return self._stack.s

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            sp = Span(-1, name, layer, None, self.run, time.perf_counter())
            try:
                yield sp
            finally:
                sp.end = time.perf_counter()
            return
        stack = self._parents()
        sp = Span(
            id=len(self.spans),
            name=name,
            layer=layer,
            parent=stack[-1].id if stack else None,
            run=self.run,
            start=time.perf_counter(),
            group=f"{self.run}:{len(self.spans)}",
        )
        self.spans.append(sp)
        stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if stack:
                sc.setJobGroup(stack[-1].group, stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    # -- Spark status store -------------------------------------------------

    def _stage(self, sid: int) -> dict | None:
        if sid in self._seen_stages:
            return None
        store = self.spark.sparkContext._jsc.sc().statusStore()
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — evicted or never ran
            return None
        if str(s.status()) != "COMPLETE" and str(s.status()) != "FAILED":
            return None
        self._seen_stages.add(sid)
        sub, done = s.submissionTime(), s.completionTime()
        to_s = lambda o: o.get().getTime() / 1000.0 - self._t0_wall  # noqa: E731
        return {
            "id": sid,
            "tasks": int(s.numCompleteTasks()),
            "task_failures": int(s.numFailedTasks()),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
            "shuffle_read_mb": s.shuffleReadBytes() / 1e6,
            "start": to_s(sub) if sub.isDefined() else None,
            "end": to_s(done) if done.isDefined() else None,
        }

    def _stages_of_group(self, group: str | None) -> list[dict]:
        st = self.spark.sparkContext.statusTracker()
        out = []
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                s = self._stage(int(sid))
                if s is not None:
                    out.append({**s, "job": jid})
        return out

    def collect(self) -> None:
        """Read the stages of the jobs run since the last call: each span's
        own group, then jobs outside any span's group (pool threads,
        streaming queries), credited to the innermost span holding their
        submission time."""
        for sp in self.spans[self._collected :]:
            sp.stages += self._stages_of_group(sp.group)
        self._collected = len(self.spans)
        stages = self._stages_of_group(None)
        for g in self.foreign_groups:
            stages += self._stages_of_group(g)
        self.foreign_groups.clear()
        for s in stages:
            if s["start"] is None:
                continue
            holders = [sp for sp in self.spans if sp.start <= s["start"] <= sp.end]
            if holders:
                max(holders, key=lambda sp: sp.start).stages.append(s)

    # -- Reports ------------------------------------------------------------

    def self_times(self, root: Span) -> dict[str, float]:
        """Per-layer self time under ``root``: each span's duration minus
        the part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}

        def walk(sp: Span) -> None:
            covered = sum(c.dur for c in kids.get(sp.id, []))
            out[sp.layer] = out.get(sp.layer, 0.0) + max(0.0, sp.dur - covered)
            for c in kids.get(sp.id, []):
                walk(c)

        walk(root)
        return out

    def spark_totals(self, root: Span) -> dict[str, float]:
        """Stage counters summed over ``root`` and its descendants, plus the
        time at least one stage was running (``stage_busy_s``) and the rest
        of the root's wall time (``driver_gap_s``)."""
        ids = {root.id}
        for sp in self.spans:  # spans are appended parent-first
            if sp.parent in ids:
                ids.add(sp.id)
        stages = [s for sp in self.spans if sp.id in ids for s in sp.stages]
        spans = [
            (max(s["start"], root.start), min(s["end"], root.end))
            for s in stages
            if s["start"] is not None and s["end"] is not None
        ]
        busy, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(spans):
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                busy += (cur_e - cur_s) if cur_e is not None else 0.0
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        busy += (cur_e - cur_s) if cur_e is not None else 0.0
        return {
            "jobs": len({s["job"] for s in stages}),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "task_failures": sum(s["task_failures"] for s in stages),
            "executor_run_s": sum(s["run_s"] for s in stages),
            "executor_cpu_s": sum(s["cpu_s"] for s in stages),
            "shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages),
            "shuffle_read_mb": sum(s["shuffle_read_mb"] for s in stages),
            "stage_busy_s": busy,
            "driver_gap_s": root.dur - busy,
        }

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            for sp in self.spans:
                rec = asdict(sp)
                rec["stages"] = len(sp.stages)
                fh.write(json.dumps(rec) + "\n")
