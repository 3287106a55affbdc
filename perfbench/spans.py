"""Op timing, optional per-layer spans, and Spark event-log accounting.

Every run times its ops (``Recorder.op``). A traced run additionally
tags each op's Spark jobs with ``setJobGroup``, records a span around
every wrapped public function of the package (``Tracer.wrap``), and
after the session stops reads Spark's uncompressed event log to add the
executor-side work of each op. Spans are kept in memory and summarised
once, at the end of the run.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


def cpu_ticks() -> tuple[int, int]:
    """(stolen, busy) CPU ticks of this VM so far, from /proc/stat: time
    the host gave to other guests while a vCPU here was runnable, and time
    the vCPUs ran (user, nice, system, irq, softirq)."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return steal, user + nice + system + irq + softirq


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time this VM wanted between two ``cpu_ticks()``
    readings that the host gave to other guests instead."""
    stolen = after[0] - before[0]
    return stolen / max(1, stolen + after[1] - before[1])


@dataclass
class Op:
    name: str
    kind: str  # "commit" or "read"
    t0: float  # epoch seconds (comparable with event-log timestamps)
    t1: float = 0.0
    ok: bool = True
    error: str = ""
    group: str = ""
    catalyst: dict = field(default_factory=dict)
    stolen: float = 0.0  # share of the VM's runnable CPU time the host took

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0

    @property
    def run_ms(self) -> float:
        """Latency with the stolen share taken out: what the op would have
        taken had the host not run other guests on this VM's CPUs."""
        return self.ms * (1.0 - self.stolen)


class Recorder:
    """Times the ops of the measured loop. ``traced`` adds job groups."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.ops: list[Op] = []

    @contextmanager
    def op(self, name: str, kind: str):
        rec = Op(name, kind, time.time())
        if self.traced:
            rec.group = f"op{len(self.ops)}"
            self.spark.sparkContext.setJobGroup(rec.group, name)
        self.ops.append(rec)
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        try:
            yield rec
        except Exception as exc:  # one failed op must not end the run
            rec.ok = False
            rec.error = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            rec.t1 = rec.t0 + (time.perf_counter() - t0)
            rec.stolen = stolen_share(ticks, cpu_ticks())
            if self.traced:
                self.spark.sparkContext.setJobGroup("", "")

    def check(self, rec: Op, ok: bool, what: str) -> None:
        """Mark ``rec`` failed when a correctness check on its output fails."""
        if not ok and rec.ok:
            rec.ok = False
            rec.error = f"check failed: {what}"[:300]

    def record_catalyst(self, rec: Op, df) -> None:
        """Catalyst phase times of a DataFrame the benchmark executed itself,
        from its ``QueryExecution.tracker()``."""
        if not self.traced:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                rec.catalyst[name] = rec.catalyst.get(name, 0.0) + float(
                    opt.get().durationMs()
                )


class Tracer:
    """Spans around calls into the package's public functions."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, float]] = []  # name, t0, t1, child ms
        self._stack: list[list[float]] = []
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            tracer._stack.append([0.0])
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                child = tracer._stack.pop()[0]
                dur = (t1 - t0) * 1000.0
                if tracer._stack:
                    tracer._stack[-1][0] += dur
                tracer.spans.append((name, t0, t1, child))

        traced.__wrapped__ = fn
        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def durations(self, name: str) -> list[float]:
        return [(t1 - t0) * 1000.0 for n, t0, t1, _ in self.spans if n == name]

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus wrapped children."""
        out: dict[str, float] = defaultdict(float)
        for n, t0, t1, child in self.spans:
            out[n] += (t1 - t0) * 1000.0 - child
        return dict(out)


# ---------------------------------------------------------------------------
# Spark event log


def _event_files(log_dir: Path) -> list[Path]:
    files = []
    for p in sorted(log_dir.iterdir()):
        if p.is_dir():  # rolling layout: eventlog_v2_<app>/events_<n>_<app>
            files += sorted(q for q in p.iterdir() if q.name.startswith("events_"))
        elif not p.name.startswith("."):
            files.append(p)
    return files


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_event_log(log_dir: Path) -> dict:
    """Jobs (with group and interval), stages per job, and summed task
    metrics per job, from an uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id") or "",
                        "t0": ev["Submission Time"] / 1000.0,
                        "t1": ev["Submission Time"] / 1000.0,
                        "stages": len(ev.get("Stage IDs", [])),
                        "tasks": 0, "task_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
                        "input_bytes": 0, "shuffle_read": 0, "shuffle_write": 0,
                        "spill": 0, "py_sent": 0, "py_recv": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["task_ms"] += m.get("Executor Run Time", 0)
                    job["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    job["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job["spill"] += m.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        upd = acc.get("Update")
                        if not isinstance(upd, (int, float)):
                            try:
                                upd = int(upd)
                            except (TypeError, ValueError):
                                continue
                        if acc.get("Name") == _PY_SENT:
                            job["py_sent"] += upd
                        elif acc.get("Name") == _PY_RECV:
                            job["py_recv"] += upd
    return {"jobs": list(jobs.values())}


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] covered by the union of ``intervals``."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in cut:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total * 1000.0


def spark_layer_metrics(ops: list[Op], log: dict) -> dict[str, float]:
    """Per-op means of the event-log figures. Jobs tagged with an op's job
    group are that op's; every other job (side threads that do not inherit
    the group, streaming micro-batches, which carry their own group) falls
    in the explicit ``unattributed`` bucket."""
    by_group: dict[str, list[dict]] = defaultdict(list)
    groups = {op.group for op in ops}
    unattributed = []
    for job in log["jobs"]:
        if job["group"] in groups and job["group"]:
            by_group[job["group"]].append(job)
        else:
            unattributed.append(job)
    n = max(1, len(ops))

    def total(key: str, jobs) -> float:
        return float(sum(j[key] for j in jobs))

    attributed = [j for op in ops for j in by_group[op.group]]
    intervals = [(j["t0"], j["t1"]) for j in log["jobs"]]
    outside = [max(0.0, op.ms - _covered_ms(intervals, op.t0, op.t1)) for op in ops]
    in_ops = [
        j for j in unattributed if any(op.t0 <= j["t0"] <= op.t1 for op in ops)
    ]
    return {
        "spark.jobs_per_op": len(attributed) / n,
        "spark.stages_per_op": total("stages", attributed) / n,
        "spark.tasks_per_op": total("tasks", attributed) / n,
        "spark.unattributed_jobs_per_op": len(in_ops) / n,
        "spark.unattributed_task_ms_per_op": total("task_ms", in_ops) / n,
        "driver.outside_jobs_ms": statistics.median(outside) if outside else 0.0,
        "executor.task_ms": total("task_ms", attributed + in_ops) / n,
        "executor.cpu_ms": total("cpu_ms", attributed + in_ops) / n,
        "executor.gc_ms": total("gc_ms", attributed + in_ops) / n,
        "scan.input_bytes": total("input_bytes", attributed + in_ops) / n,
        "shuffle.read_bytes": total("shuffle_read", attributed + in_ops) / n,
        "shuffle.write_bytes": total("shuffle_write", attributed + in_ops) / n,
        "executor.spill_bytes": total("spill", attributed + in_ops) / n,
        "python_worker.bytes_sent": total("py_sent", attributed + in_ops) / n,
        "python_worker.bytes_received": total("py_recv", attributed + in_ops) / n,
    }
