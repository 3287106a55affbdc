"""Janino compiles per op and per cycle of a benchmark workload.

    python3 scripts/codegen_probe.py --workload snapshot_dml --seed 5101 --cycles 3

Runs the workload of ``perfbench/`` the way ``perfbench/run.py`` does (the
same environment, session and set-up; one set-up instead of three) for
``--cycles`` whole cycles in one JVM, and counts the classes Spark's code
generator compiled during each op. Spark keeps compiled classes in an LRU
cache of ``spark.sql.codegen.cache.maxEntries`` entries; the first cycle
compiles the workload's classes, and a warm cycle compiles only what that
cache evicted. The count is Spark's own ``CodegenMetrics`` compilation
histogram, read through py4j before and after each op. Compiles outside
any op (the workload's output checks) are printed as ``(between ops)``.

The last lines give the JVM's code cache (the memory pools holding JIT
output, in MB) after the last cycle, which the generated classes' methods
also fill. The benchmark's own files are only imported, never changed.
"""

from __future__ import annotations

import argparse
import shutil
import sys
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"


def compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def code_cache_mb(spark) -> list[tuple[str, float, float]]:
    """(pool, used MB, max MB) of each JVM memory pool holding JIT code."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    out = []
    for pool in mf.getMemoryPoolMXBeans():
        name = pool.getName()
        if name == "CodeCache" or name.startswith("CodeHeap"):
            usage = pool.getUsage()
            out.append((name, usage.getUsed() / 2**20, usage.getMax() / 2**20))
    return out


def counting_recorder(spark):
    """A benchmark ``Recorder`` that also counts each op's compiles."""
    from spans import Recorder

    class Counting(Recorder):
        def __init__(self):
            super().__init__(spark, traced=False)
            self.compiles: dict[str, int] = {}

        @contextmanager
        def op(self, name: str, kind: str):
            c0 = compiles(spark)
            try:
                with super().op(name, kind) as rec:
                    yield rec
            finally:
                self.compiles[name] = self.compiles.get(name, 0) + compiles(spark) - c0

    return Counting()


def probe(workload: str, seed: int, cycles: int) -> int:
    sys.path.insert(0, str(BENCH))
    sys.path.insert(0, str(ROOT))
    import run

    if workload not in run._workloads():
        print(f"codegen_probe: unknown workload {workload!r}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"codegen-{workload}"
    shutil.rmtree(work, ignore_errors=True)
    run._prepare_env(work, trace=False)
    from nyc_taxi_data_pipeline_elt_spark.session import get_spark

    spark = get_spark("codegen-probe")
    failed = []
    try:
        wl = run._workloads()[workload](spark, work, seed, 1.0)
        wl.setup(0)
        per_cycle = []
        for _ in range(cycles):
            rec = counting_recorder(spark)
            wl.install(rec, None)
            c0 = compiles(spark)
            wl.cycle()
            total = compiles(spark) - c0
            rec.compiles["(between ops)"] = total - sum(rec.compiles.values())
            per_cycle.append((rec.compiles, total))
            failed += [op for op in rec.ops if not op.ok]
        max_entries = spark.conf.get("spark.sql.codegen.cache.maxEntries")
        pools = code_cache_mb(spark)
    finally:
        run._stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass

    heads = [f"cycle {i + 1}" for i in range(cycles)]
    print(f"{workload} seed={seed} spark.sql.codegen.cache.maxEntries={max_entries}")
    print(f"{'op':<16}" + "".join(f"{h:>10}" for h in heads))
    for name in per_cycle[0][0]:
        print(f"{name:<16}" + "".join(f"{c.get(name, 0):>10}" for c, _ in per_cycle))
    print(f"{'cycle total':<16}" + "".join(f"{t:>10}" for _, t in per_cycle))
    for name, used, cap in pools:
        print(f"JVM {name}: {used:.1f} MB used of {cap:.1f} MB")
    for op in failed[:5]:
        print(f"op {op.name} failed: {op.error}", file=sys.stderr)
    return 1 if failed else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cycles", type=int, default=3, help="the first is cold")
    args = ap.parse_args(argv)
    return probe(args.workload, args.seed, max(1, args.cycles))


if __name__ == "__main__":
    sys.exit(main())
