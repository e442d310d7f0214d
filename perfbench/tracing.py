"""Benchmark-side timing: operations, spans and Spark counters.

Every operation the benchmark sends runs under its own Spark job group.
With tracing on, spans are recorded around each call into a layer's
public function, and after the operation ends its Spark counters are
read from the driver's status store by job group (no Spark UI needed).
Everything is kept in memory and written out once, at exit.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

# Counters summed over the executed stages of an operation's jobs.
COUNTERS = (
    "jobs", "stages", "stages_skipped", "tasks", "job_busy_s", "driver_gap_s",
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "input_mb",
)
MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op_id: int
    start: float  # epoch seconds, comparable with Spark job timestamps
    end: float = 0.0
    jobs: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Op:
    """One closed-loop request: ``kind`` groups operations for counters
    (query, read, write, diagnose, consume), ``key`` names the exact
    operation (a query name, a request type, ``<pipeline>.<step>``)."""

    id: int
    kind: str
    key: str
    phase: str
    latency_s: float = 0.0
    failed: bool = False
    counters: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.phase = "warmup"  # set by the runner: warmup, timed, check
        self.ops: list[Op] = []
        self.spans: list[Span] = []
        self.overhead_s: list[float] = []
        self._stack: list[Span] = []
        self._op: Op | None = None

    @contextmanager
    def op(self, kind: str, key: str):
        """Time one operation. Failures are recorded, not raised, so the
        closed loop keeps going; the caller reads ``op.failed``."""
        rec = Op(len(self.ops), kind, key, self.phase)
        self.ops.append(rec)
        group = f"perfbench-{rec.id}"
        self.sc.setJobGroup(group, f"{kind}:{key}")
        self._op = rec
        t0, w0 = time.perf_counter(), time.time()
        try:
            with self.span(key):
                yield rec
        except Exception:  # noqa: BLE001 — one failed request must not end the run
            rec.failed = True
            print(f"perfbench: {kind} {key} failed", file=sys.stderr)
            traceback.print_exc()
        rec.latency_s = time.perf_counter() - t0
        w1 = time.time()
        self._op = None
        if self.enabled:
            t = time.perf_counter()
            rec.counters = self._counters(rec, group, w0, w1)
            self.overhead_s.append(time.perf_counter() - t)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.spark.catalog.clearCache()

    @contextmanager
    def span(self, name: str):
        """A span around one layer call; recorded only when tracing."""
        if not self.enabled or self._op is None:
            yield
            return
        s = Span(
            len(self.spans), name, self._stack[-1].id if self._stack else None,
            self._op.id, time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()

    def _counters(self, rec: Op, group: str, w0: float, w1: float) -> dict:
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        quantiles = getattr(store, "stageList$default$4")()
        c = dict.fromkeys(COUNTERS, 0.0)
        intervals, stage_ids = [], set()
        op_spans = [s for s in self.spans if s.op_id == rec.id]
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            c["jobs"] += 1
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                t_sub = sub.get().getTime() / 1000.0
                end = comp.get().getTime() / 1000.0 if comp.isDefined() else w1
                intervals.append((max(t_sub, w0), min(end, w1)))
                inner = [s for s in op_spans if s.start <= t_sub <= s.end]
                if inner:
                    max(inner, key=lambda s: s.start).jobs += 1
            ids = str(jd.stageIds().mkString(","))
            stage_ids.update(int(s) for s in ids.split(",") if s)
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    c["stages_skipped"] += 1
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["executor_run_s"] += sd.executorRunTime() / 1e3
                c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                c["spill_mb"] += sd.diskBytesSpilled() / MB
                c["input_mb"] += sd.inputBytes() / MB
        c["job_busy_s"] = _union_length(intervals)
        c["driver_gap_s"] = max((w1 - w0) - c["job_busy_s"], 0.0)
        return c

    def self_times(self, phase: str) -> dict[str, tuple[int, float, float]]:
        """span name -> (count, total seconds, total self seconds) over the
        operations of ``phase``; self time is the span's duration minus
        what its child spans cover."""
        ops = {o.id for o in self.ops if o.phase == phase}
        spans = [s for s in self.spans if s.op_id in ops]
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, list] = {}
        for s in spans:
            covered = _union_length([(k.start, k.end) for k in children.get(s.id, [])])
            row = out.setdefault(s.name, [0, 0.0, 0.0])
            row[0] += 1
            row[1] += s.duration
            row[2] += s.duration - covered
        return {k: tuple(v) for k, v in out.items()}

    def write(self, path: str, env: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "env": env,
                    "ops": [o.__dict__ for o in self.ops],
                    "spans": [dict(s.__dict__) for s in self.spans],
                },
                fh,
            )


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def process_tree(pids: list[int]) -> set[int]:
    """``pids`` and all their live descendants."""
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent_of[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    todo, seen = list(pids), set()
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.add(p)
        todo.extend(c for c, pp in parent_of.items() if pp == p)
    return seen


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``."""
    total_kb = 0
    for p in pids:
        with open(f"/proc/{p}/status") as fh:
            total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return total_kb / 1024.0
