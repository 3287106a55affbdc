"""The repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload taxi_elt --seed 1 --seconds 20 --trace 0

One client drives the workload in a closed loop (each op starts when the
previous one has returned) on ``local[N]``, N = the CPUs this process may
use. Each invocation is a fresh driver process with a fresh JVM. Set-up
(session start, then the seeded inputs and their expected outputs, built
several times) and one untimed warm-up cycle come first; then whole
workload cycles run until ``--seconds`` have passed. Every op's output is
checked; a failed check counts as a failed op.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a separate
run that prints the per-layer metrics: with Spark's event log on, it
alternates traced cycles (spans around the package's public functions,
Spark jobs tagged per op) with untraced ones; the difference between the
two is the tracing overhead. The last line of standard output is one
JSON object. All files go under ``.perfbench_work/`` in the checkout and
are removed at exit.

``bench.py`` at the repository root stays the 200-query coverage artifact;
claims about performance are made against this benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

from spans import (Recorder, Tracer, cpu_ticks, read_event_log, spark_layer_metrics,
                   stolen_share)

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "nyc_taxi_data_pipeline_elt_spark"
SETUP_REPEATS = 3
DRIVER_MEMORY = "1g"
# a fixed, pre-touched heap and young generation keep the JVM's resident
# size from following G1's adaptive sizing and GC timing, which differ run
# to run; peak_rss_mb then moves with memory outside the Java heap
JVM_OPTIONS = ("-Xms1g -Xmn384m -XX:+AlwaysPreTouch -XX:-UsePerfData "
               "-XX:TieredStopAtLevel=1")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_ms": "ms",
    "rows_per_s": "rows/s",
    "commit_p50_ms": "ms",
    "read_p50_ms": "ms",
    "storage_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_ms": "ms",
    "plans.build_ms": "ms",
    "operators.build_ms": "ms",
    "sources.readers.read_layer_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "driver.outside_jobs_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.unattributed_jobs_per_op": "count",
    "spark.unattributed_task_ms_per_op": "ms",
    "executor.task_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.gc_ms": "ms",
    "scan.input_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "executor.spill_bytes": "bytes",
    "python_worker.bytes_sent": "bytes",
    "python_worker.bytes_received": "bytes",
    "pipeline.read_landing_conformed_ms": "ms",
    "pipeline.process_trips_yellow_ms": "ms",
    "pipeline.process_trips_green_ms": "ms",
    "pipeline.build_reports_ms": "ms",
    "pipeline.rows_dead_lettered": "count",
    "sources.writers.write_ms": "ms",
    "sources.writers.bytes_written": "bytes",
    "sources.snapshots.append_ms": "ms",
    "sources.snapshots.merge_ms": "ms",
    "sources.snapshots.update_ms": "ms",
    "sources.snapshots.delete_ms": "ms",
    "sources.snapshots.optimize_ms": "ms",
    "sources.snapshots.read_ms": "ms",
    "sources.snapshots.read_changes_cdf_ms": "ms",
    "sources.snapshots.files_rewritten": "count",
    "sources.snapshots.files_pruned_ratio": "ratio",
    "sources.snapshots.rows_changed": "count",
    "sources.snapshots.rows_rewritten_per_row_changed": "ratio",
    "sources.snapshots.bytes_written": "bytes",
    "sources.snapshots.history_versions": "count",
    "sources.snapshots.detail_num_files": "count",
    "sources.snapshot_datasource.scan_ms": "ms",
    "streaming.cdf_replay_ms": "ms",
    "streaming.batches": "count",
    "trace.overhead_s": "s",
    "trace.untraced_wall_s": "s",
    "host.load_avg_1m": "load",
    "host.overloaded": "flag",
    "host.steal_share": "ratio",
}


def _workloads() -> dict:
    from snapshot_dml import SnapshotDml
    from taxi_elt import TaxiElt

    return {w.name: w for w in (TaxiElt, SnapshotDml)}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: Path, trace: bool) -> None:
    """Keep every file the run writes inside ``work``; size the session
    to this host's CPUs. Must run before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # Python workers import the package (and pickled benchmark code) by path
    paths = [str(ROOT), str(HERE)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    args = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS}",
        "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir()
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            # Spark 4.1 otherwise writes a zstd-compressed rolling log
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"]
    )


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


@dataclass
class Cycle:
    ops: list
    storage: float  # stored bytes per input byte after the cycle


def _measure(wl, seconds: float, modes: list) -> list[list[Cycle]]:
    """Rounds of whole cycles, one per mode — (recorder, tracer or None)
    pairs — until ``seconds`` per mode have passed. Returns the cycles of
    each mode."""
    out: list[list[Cycle]] = [[] for _ in modes]
    t0 = time.perf_counter()
    while True:
        for (rec, tracer), cycles in zip(modes, out):
            wl.install(rec, tracer)
            first = len(rec.ops)
            wl.cycle()
            if tracer is not None:
                tracer.unwrap_all()
            cycles.append(Cycle(rec.ops[first:], wl.output_bytes / wl.input_bytes))
        if time.perf_counter() - t0 >= seconds * len(modes):
            return out


def _since(t0: float, ticks: tuple[int, int]) -> float:
    """Seconds since ``t0``, with the share the host stole since ``ticks``
    taken out, as for ops."""
    return (time.perf_counter() - t0) * (1.0 - stolen_share(ticks, cpu_ticks()))


def op_medians(ops, kind: str | None = None) -> dict[str, float]:
    """Median latency (ms, stolen share taken out) of each op name,
    optionally of one kind only. Every op name runs once per cycle."""
    by_name: dict[str, list[float]] = {}
    for op in ops:
        if kind is None or op.kind == kind:
            by_name.setdefault(op.name, []).append(op.run_ms)
    return {k: statistics.median(v) for k, v in by_name.items()}


def typical_cycle_s(ops) -> float:
    """A cycle made of every op's median latency."""
    return sum(op_medians(ops).values()) / 1000.0


def end_to_end(wl, cycles: list[Cycle], setup_s, rss_mb) -> dict[str, float]:
    # percentiles over op names' medians, not over the pooled samples: the
    # ops of one cycle differ in size, and a pooled median would jump
    # between two op names with the cycle count
    ops = [op for c in cycles for op in c.ops]
    wall = typical_cycle_s(ops)
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "op_p50_ms": statistics.median(op_medians(ops).values()),
        "rows_per_s": wl.input_rows / wall,
        "commit_p50_ms": statistics.median(op_medians(ops, "commit").values()),
        "read_p50_ms": statistics.median(op_medians(ops, "read").values()),
        "storage_bytes_per_input_byte": statistics.median(c.storage for c in cycles),
        "peak_rss_mb": rss_mb,
    }


def execute(workload: str, seed: int, seconds: float, trace: bool,
            scale: float = 1.0, patch=None) -> dict:
    """Run one workload in this process and return the result object.
    ``patch(workload)`` runs after set-up (the self-test uses it to
    corrupt an output)."""
    work = ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, trace)
    sys.path.insert(0, str(ROOT))
    cpus = _cpus()
    load = [os.getloadavg()[0]]
    spark = None
    try:
        t0, ticks = time.perf_counter(), cpu_ticks()
        from nyc_taxi_data_pipeline_elt_spark.session import get_spark

        spark = get_spark("perfbench")
        session_s = _since(t0, ticks)

        wl = _workloads()[workload](spark, work, seed, scale)
        setups = []
        for i in range(SETUP_REPEATS):
            t0, ticks = time.perf_counter(), cpu_ticks()
            wl.setup(i)
            setups.append(_since(t0, ticks))
        setup_s = session_s + statistics.median(setups)
        if patch is not None:
            patch(wl)

        warm = Recorder(spark, traced=False)
        wl.install(warm, None)
        t0 = time.perf_counter()
        wl.cycle()  # untimed warm-up: JIT, codegen, Python worker start
        warm_s = time.perf_counter() - t0
        checked = list(warm.ops)

        rec = Recorder(spark, traced=trace)
        if trace:
            # traced and untraced cycles alternate, traced first, so a
            # lingering warm-up trend cannot hide the tracing overhead
            tracer = Tracer()
            plain = Recorder(spark, traced=False)
            cycles, _ = _measure(wl, seconds, [(rec, tracer), (plain, None)])
            checked += plain.ops
        else:
            tracer = None
            [cycles] = _measure(wl, seconds, [(rec, None)])
        load.append(os.getloadavg()[0])
        from pyspark import SparkContext

        rss_mb = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(SparkContext._gateway.proc.pid)
        if tracer is not None:
            layer = wl.trace_metrics(tracer, rec.ops, len(cycles))
    finally:
        if spark is not None:
            _stop(spark)

    ops = rec.ops
    failed = [op for op in checked + ops if not op.ok]
    for op in failed[:5]:
        print(f"perfbench: op {op.name} failed: {op.error}", file=sys.stderr)
    overloaded = max(load) > cpus  # bench.py's contamination rule
    print(
        f"perfbench: {workload} seed={seed} cpus={cpus} "
        f"load_avg={'/'.join(f'{x:.2f}' for x in load)} overloaded={overloaded} "
        f"session_s={session_s:.2f} setups_s={'/'.join(f'{x:.2f}' for x in setups)} "
        f"warmup_s={warm_s:.2f} cycles_s(stolen share out)="
        + "/".join(f"{sum(o.ms for o in c.ops) / 1000:.2f}"
                   f"({sum(o.run_ms for o in c.ops) / 1000:.2f})" for c in cycles),
        file=sys.stderr,
    )
    print("perfbench: op median ms: " + ", ".join(
        f"{k}={v:.0f}" for k, v in op_medians(ops).items()), file=sys.stderr)
    if trace:
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update(layer)
        metrics.update(spark_layer_metrics(ops, read_event_log(work / "eventlog")))
        phases = [op.catalyst for op in ops if op.catalyst]
        for name in ("analysis", "optimization", "planning"):
            metrics[f"catalyst.{name}_ms"] = (
                sum(p.get(name, 0.0) for p in phases) / len(phases) if phases else 0.0
            )
        metrics["session.get_spark_ms"] = session_s * 1000.0
        metrics["trace.untraced_wall_s"] = typical_cycle_s(plain.ops)
        metrics["trace.overhead_s"] = typical_cycle_s(ops) - typical_cycle_s(plain.ops)
        metrics["host.load_avg_1m"] = max(load)
        metrics["host.overloaded"] = float(overloaded)
        metrics["host.steal_share"] = statistics.median(op.stolen for op in ops)
        units = PER_LAYER
    else:
        metrics = end_to_end(wl, cycles, setup_s, rss_mb)
        units = END_TO_END
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()  # only when no other run is using it
    except OSError:
        pass
    return {
        "correct": not failed,
        "attempted": len(checked) + len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: the package {PACKAGE.name}/ is not in {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    if args.workload not in _workloads():
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = execute(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
