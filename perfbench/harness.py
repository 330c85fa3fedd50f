"""Measurement core: op timing, failure accounting and the span trace.

Every call into the engine goes through :meth:`Recorder.op`.  An op is
one user-visible operation (a registered query, a ``FeatureStore``
call, a stream replay).  It is timed with ``perf_counter``; an
exception inside it is recorded as a failure of that op, never
swallowed, and the run carries on.

With tracing on, each op also becomes a span tree built only from
Spark's public status surfaces, read after the op returns:

* one op span, carrying its phase intervals (``build`` = the engine
  call, ``action`` = the sink write or collect), each phase run under
  its own job group;
* Spark-job spans from the status store's submission and completion
  times of every job in those job groups, plus the groups of any
  streaming query the op started (a stream tags its jobs with its
  run id);
* micro-batch spans from ``StreamingQueryListener`` progress events.

Job and micro-batch spans are children of their op span, so an op's
self time (its span minus the part its children cover) is the time
the driver spent outside Spark jobs.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


def median(xs) -> float:
    """Median of ``xs``; NaN (not measured) when there are none."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else math.nan


def gmean(xs) -> float:
    """Geometric mean of the positive ``xs``; NaN when there are none."""
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else math.nan


def covered_ms(intervals, lo: float, hi: float) -> float:
    """Length (ms) of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total * 1000.0


@dataclass
class Op:
    """One timed engine operation and, when traced, its ledger."""

    id: int
    name: str
    layer: str
    warm: bool
    traced: bool
    start: float = 0.0
    end: float = 0.0
    ms: float = 0.0
    phases: dict = field(default_factory=dict)
    ok: bool = True
    run_ids: list = field(default_factory=list)
    jobs: list = field(default_factory=list)
    batches: list = field(default_factory=list)
    persisted_rdds: int = 0
    info: dict = field(default_factory=dict)

    def phase_ms(self, phase: str) -> float:
        a, b = self.phases.get(phase, (0.0, 0.0))
        return (b - a) * 1000.0

    def jobs_in(self, phase: str) -> list:
        return [j for j in self.jobs if j["phase"] == phase]

    @property
    def driver_ms(self) -> float:
        return self.ms - covered_ms(
            [(j["start"], j["end"]) for j in self.jobs], self.start, self.end
        )


class ProgressListener(StreamingQueryListener):
    """Collects micro-batch progress of every streaming query."""

    def __init__(self) -> None:
        self._cv = threading.Condition()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        ops = p.stateOperators
        rec = {
            "run_id": str(p.runId),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "planning_ms": d.get("queryPlanning", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "commit_offsets_ms": d.get("commitOffsets", 0),
            "latest_offset_ms": d.get("latestOffset", 0),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_mem_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_instances": sum(o.numStateStoreInstances for o in ops),
            "start": datetime.fromisoformat(p.timestamp).timestamp(),
        }
        with self._cv:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def drain(self, timeout: float = 30.0) -> None:
        """Wait until every started query's termination was delivered
        (the listener bus is asynchronous)."""
        deadline = time.time() + timeout
        with self._cv:
            while any(r not in self.terminated for r in self.started):
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError("streaming listener events not delivered")
                self._cv.wait(left)


class Recorder:
    """Runs ops, counts failures and (when traced) builds the ledger."""

    def __init__(self, spark, trace: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracing = trace
        self.ops: list[Op] = []
        self.failures: list[dict] = []
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)

    # -- ops -----------------------------------------------------------
    @contextmanager
    def op(self, name: str, layer: str, warm: bool = True):
        """Time one op; an exception inside is recorded as its failure.

        Yields the :class:`Op`; call :meth:`phase` inside to split it
        into build and action."""
        op = Op(len(self.ops), name, layer, warm, self.tracing)
        self.ops.append(op)
        n_started = len(self.listener.started)
        op.start, t0 = time.time(), time.perf_counter()
        try:
            yield op
        except Exception as e:  # the run must go on: count it, log the traceback
            traceback.print_exc(limit=8, file=sys.stderr)
            self.fail(op, f"{type(e).__name__}: {str(e).strip().splitlines()[0][:300]}")
        op.ms = (time.perf_counter() - t0) * 1000.0
        op.end = op.start + op.ms / 1000.0
        if self.listener.started[n_started:]:
            try:
                self.listener.drain()
            except TimeoutError as e:
                self.fail(op, str(e))
        op.run_ids = self.listener.started[n_started:]
        if op.run_ids:
            ids = set(op.run_ids)
            op.batches = [p for p in self.listener.progress if p["run_id"] in ids]
        if op.traced:
            self._ledger(op)

    def phase(self, op: Op, phase: str, fn, *args, **kw):
        """Run ``fn`` as one phase of ``op`` under its own job group."""
        if op.traced:
            self.sc.setJobGroup(f"op{op.id}/{phase}", op.name)
        t0 = time.time()
        try:
            return fn(*args, **kw)
        finally:
            op.phases[phase] = (t0, time.time())
            if op.traced:
                self.sc.setJobGroup("bench", "harness")

    def fail(self, op: Op, reason: str) -> None:
        """Record a failed output check of ``op`` (made outside its timer)."""
        op.ok = False
        self.failures.append({"op": op.name, "error": reason})

    def check(self, op: Op, fn, *args) -> None:
        """Run an output check of ``op`` outside its timer: ``fn``
        returns an error string or None; a check that raises fails."""
        if not op.ok:
            return
        try:
            err = fn(*args)
        except Exception as e:  # a broken output must not stop the run
            err = f"check raised {type(e).__name__}: {e}"
        if err:
            self.fail(op, err)

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)

    # -- ledger --------------------------------------------------------
    def _ledger(self, op: Op) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        groups = [(f"op{op.id}/{p}", p) for p in op.phases]
        groups += [(rid, "stream") for rid in op.run_ids]
        for group, phase in groups:
            for jid in sorted(tracker.getJobIdsForGroup(group)):
                op.jobs.append(self._job(store, jid, phase))
        op.persisted_rdds = self.sc._jsc.getPersistentRDDs().size()

    @staticmethod
    def _job(store, jid: int, phase: str) -> dict:
        jd = store.job(jid)
        sub, done = jd.submissionTime(), jd.completionTime()
        job = {
            "id": jid,
            "phase": phase,
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
            "end": done.get().getTime() / 1000.0 if done.isDefined() else 0.0,
            "stages": 0, "tasks": 0, "shuffle_write": 0, "spill": 0,
            "run_ms": 0, "gc_ms": 0,
        }
        sids = jd.stageIds()
        for i in range(sids.size()):
            st = store.lastStageAttempt(sids.apply(i))
            if st.status().toString() == "SKIPPED":
                continue
            job["stages"] += 1
            job["tasks"] += st.numTasks()
            job["shuffle_write"] += st.shuffleWriteBytes()
            job["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            job["run_ms"] += st.executorRunTime()
            job["gc_ms"] += st.jvmGcTime()
        return job

    def spans(self) -> list[dict]:
        """Flatten traced ops into spans (name, start, end, parent, op)."""
        out: list[dict] = []
        for op in self.ops:
            if not op.traced:
                continue
            root = f"op{op.id}"
            out.append({"id": root, "name": op.name, "layer": op.layer,
                        "start": op.start, "end": op.end, "parent": None,
                        "op": op.id, "ok": op.ok, "phases": op.phases})
            for j in op.jobs:
                out.append({"id": f"job{j['id']}", "name": "spark_job",
                            "layer": "spark", "start": j["start"], "end": j["end"],
                            "parent": root, "op": op.id, "phase": j["phase"],
                            **{k: j[k] for k in ("stages", "tasks", "shuffle_write",
                                                 "spill", "run_ms", "gc_ms")}})
            for b in op.batches:
                out.append({"id": f"batch:{b['run_id']}:{b['batch']}",
                            "name": "micro_batch", "layer": "streaming",
                            "start": b["start"],
                            "end": b["start"] + b["trigger_ms"] / 1000.0,
                            "parent": root, "op": op.id, "rows": b["rows"]})
        for s, ms in zip(out, self_time_ms(out)):
            s["self_ms"] = ms
        return out

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


def self_time_ms(spans: list[dict]) -> list[float]:
    """Self time of every span: its duration minus the union of its
    children's intervals."""
    kids: dict[str, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) * 1000.0
        - covered_ms(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    ]


def read_hwm_kb(pid: int) -> int:
    """Kernel high-water mark of a process's resident set (``VmHWM``)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (PySpark daemon and workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _stat_cpu(pid: int) -> float:
    """utime + stime + cutime + cstime of ``pid`` in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return float(sum(int(x) for x in f[11:15]))
    except (OSError, IndexError, ValueError):
        return 0.0


def tree_cpu_s(jvm: int) -> float:
    """CPU seconds used so far by this process, the JVM and the JVM's
    descendants (PySpark daemon and workers; reaped workers are in
    their parent's child times)."""
    t = os.times()
    ticks = sum(_stat_cpu(p) for p in (jvm, *descendants(jvm)))
    return t.user + t.system + ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """Summed ``VmHWM`` of this driver process, the JVM and its live
    PySpark workers; read before ``spark.stop()``."""
    jvm = int(spark._jvm.ProcessHandle.current().pid())
    pids = {os.getpid(), jvm, *descendants(jvm)}
    return sum(read_hwm_kb(p) for p in pids) / 1024.0


def ledger(rec: Recorder) -> list[dict]:
    """One row per op: the per-query job ledger of the run."""
    rows = []
    for o in rec.ops:
        row = {
            "op": o.id, "name": o.name, "layer": o.layer,
            "warm": o.warm, "traced": o.traced, "ok": o.ok, "ms": o.ms,
            **{f"{p}_ms": o.phase_ms(p) for p in o.phases},
            "batches": len(o.batches), **o.info,
        }
        if o.traced:
            row.update({
                "jobs": len(o.jobs),
                "eager_jobs": len(o.jobs_in("build")),
                "driver_ms": o.driver_ms,
                "persisted_rdds": o.persisted_rdds,
                **{k: sum(j[k] for j in o.jobs) for k in (
                    "stages", "tasks", "shuffle_write", "spill", "run_ms", "gc_ms")},
            })
        rows.append(row)
    return rows
