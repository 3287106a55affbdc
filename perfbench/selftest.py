"""Self-test of the benchmark at smoke size.

    python3 perfbench/selftest.py

Checks that, for every workload in BENCHMARK.json, an untraced run prints
every end-to-end metric and a traced run every per-layer metric, each
with the unit BENCHMARK.json names; that a deliberately corrupted output
counts as a failed op; and that the command refuses to run, without
printing a result, from a directory holding only the benchmark. Each case
is a fresh process with its own JVM.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SMOKE = {"taxi_elt": 0.01, "snapshot_dml": 0.02}


def _corrupt_taxi(wl) -> None:
    """Write a Q1 report one dollar off."""
    from nyc_taxi_data_pipeline_elt_spark import pipeline
    from pyspark.sql import functions as F

    write_report = pipeline.write_report

    def corrupted(df, path):
        if path.endswith("q1_monthly_revenue"):
            df = df.withColumn("avg_total_amount", F.col("avg_total_amount") + 1.0)
        write_report(df, path)

    pipeline.write_report = corrupted


def _corrupt_snapshot(wl) -> None:
    """Make every delete remove only part of the rows it should."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable

    delete = SnapshotTable.delete

    def corrupted(self, spark, predicate, *args, **kwargs):
        return delete(self, spark, f"({predicate}) AND trip_id % 2 = 0", *args, **kwargs)

    SnapshotTable.delete = corrupted


CORRUPT = {"taxi_elt": _corrupt_taxi, "snapshot_dml": _corrupt_snapshot}


def _child(workload: str, trace: bool, corrupt: bool) -> None:
    sys.path.insert(0, str(HERE))
    import run

    patch = CORRUPT[workload] if corrupt else None
    print(json.dumps(run.execute(workload, 7, 0.1, trace, scale=SMOKE[workload],
                                 patch=patch)))


def _case(workload: str, trace: bool, corrupt: bool) -> dict:
    proc = subprocess.run(
        [sys.executable, __file__, "--case", workload, str(int(trace)), str(int(corrupt))],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n"
                             + proc.stderr[-3000:])
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            res = _case(name, trace, corrupt=False)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{name} trace={trace}: metrics/units differ: "
                                f"missing {sorted(want.keys() - got.keys())}, "
                                f"extra {sorted(got.keys() - want.keys())}, "
                                f"units {[k for k in want if got.get(k) not in (None, want[k])]}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                problems.append(f"{name} trace={trace}: clean run not correct: {res}")
            print(f"selftest: {name} trace={int(trace)} ok={not problems}", flush=True)
        res = _case(name, False, corrupt=True)
        if res["correct"] or res["failed"] < 1:
            problems.append(f"{name}: corrupted output was not counted as failed: {res}")
        print(f"selftest: {name} corrupted failed={res['failed']}", flush=True)

    bare = ROOT / ".perfbench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in spec["paths"]:
            shutil.copytree(ROOT / p, bare / p,
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            spec["command"] + ["--workload", spec["workloads"][0]["name"], "--seed", "1",
                               "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        if proc.returncode == 0 or proc.stdout.strip():
            problems.append(f"bare directory: rc={proc.returncode} stdout={proc.stdout!r}")
        print(f"selftest: bare directory rc={proc.returncode}", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            bare.parent.rmdir()  # only when no run is using it
        except OSError:
            pass

    for p in problems:
        print("selftest: FAIL " + p, file=sys.stderr)
    print("selftest: " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "--case":
        _child(sys.argv[2], sys.argv[3] == "1", sys.argv[4] == "1")
    else:
        sys.exit(main())
