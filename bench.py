"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line ``{"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}``.

Each query is materialized with the ``noop`` sink — full execution of the
physical plan (scan -> shuffle -> agg) with no driver collect, which is the
honest cost of the query at scale.

Measurement protocol (round-4 rework — single-pass timing in this sandbox
spread up to ~10x per query across otherwise-identical runs):

- **median of N passes, each in its own SUBPROCESS** (default 3,
  ``$SPARK_GRAFT_BENCH_PASSES``): every pass gets a genuinely fresh JVM
  (an in-process SparkSession restart is not enough — py4j keeps the JVM,
  and accumulated generated classes/heap debt measurably taxed later
  passes: dedup_clusters 5.3 s in pass 1 vs 30-39 s in passes 2-3 of one
  run, against 3.5-3.9 s across five isolated repeats). Each query
  reports its per-pass median, so one polluted pass cannot set any
  query's number and JVM age cannot inflate whole passes.
- **state reset before the heavy families** (dedup/kNN/graph/edit-distance):
  cache clear + explicit JVM GC, so earlier queries' garbage is not billed
  to them.
- **self-identifying contamination**: the 1-minute host load average is
  sampled before every pass and emitted, together with each query's
  median/min spread across passes. ``median/min > 2`` on a >=1 s query
  means at least half its passes were polluted — those queries are listed
  in ``suspect_queries``; the run-level ``contaminated: true`` fires when
  the host was overloaded or >10% of the >=1 s queries are suspect. A
  flagged artifact says "re-run me", not "the code got slower".

Warm-up: within a pass, queries share one session, so whichever query
FIRST touches a table pays its file-index/footer listing, and the first
pandas/Arrow query pays Python-worker-pool startup (~1-2 s). Measured
round-2-vs-1: multimodal_meta 0.20 s -> 2.49 s with an unchanged plan,
2.09 s cold vs 0.33 s warm in the same JVM. Every pass subprocess
therefore touches all fixture tables and spins up the Python worker pool
untimed, so per-query numbers compare plans across rounds instead of
suite ordering.

**One headline per round** (VERDICT r7 task #7): the round's ONLY
quotable total is the driver's ``BENCH_r{N}.json`` artifact. Manual
re-runs of this script are for iterating on a query — do not cite
their totals in commit messages or ledgers (r7 ended up with three
different "headline" numbers: 205.5/219.3 in commits vs the driver's
228.1). When a manual number must be recorded (e.g. an isolated
regression probe), cite the probe conditions next to it: passes,
load_avg, sf, and which artifact it challenges.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entrymod
from nyc_taxi_data_pipeline_elt_spark.session import get_spark

# queries whose plans churn enough memory (shingle explosions, iterative
# joins, numpy slabs) that accumulated session garbage measurably taxes
# them — reset JVM state before each so they start clean
_HEAVY_PREFIXES = (
    "dedup_",
    "decontaminate_",
    "knn_",
    "embedding_neardup",
    "pagerank",
    "triangles",
    "similar_part_names",
)


def _reset_heavy_state(spark) -> None:
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def run_one_pass(sf_dir: str) -> dict[str, float]:
    """Run every registered query once in THIS process's (fresh) JVM and
    return name -> seconds (-1.0 on failure). Untimed warmup first:
    JIT/codegen compilation, the per-table file-index/footer caches, and
    the Python worker pool are per-JVM one-time costs, not per-query
    costs (see module docstring for the measured ordering artifact this
    removes). Codegen is one-time only while the generated classes fit
    Spark's compiled-class cache (``session.CODEGEN_CACHE_ENTRIES``
    entries in a :func:`get_spark` session): a class evicted from it
    is compiled again on its next use."""
    queries = entrymod.queries()
    spark = get_spark("ntx-bench")
    try:
        queries["q1_monthly_revenue"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        from nyc_taxi_data_pipeline_elt_spark.sources.readers import (
            TESTDATA_TABLES,
            load_table,
        )

        for t in TESTDATA_TABLES:
            load_table(spark, sf_dir, t).write.format("noop").mode(
                "overwrite"
            ).save()
        spark.range(1024).repartition(32).mapInPandas(
            lambda batches: batches, "id long"
        ).write.format("noop").mode("overwrite").save()
        # snapshot-table + Python Data Source machinery is likewise a
        # per-JVM one-time cost (parquet WRITE codegen, commit path,
        # datasource schema/pushdown/Arrow serving): a 64-row
        # append/optimize/pruned-scan here keeps it out of the first
        # snapshot-family query's number
        import shutil as _sh
        import tempfile as _tf

        from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (  # noqa: E501
            SnapshotDataSource,
        )
        from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
            SnapshotTable,
        )

        _wroot = _tf.mkdtemp(prefix="ntxbench-warm-")
        try:
            _wt = SnapshotTable(_wroot + "/warm")
            _wt.append(
                spark.range(64).selectExpr("id", "id*2 AS v").repartition(2)
            )
            _wt.optimize(spark, zorder_by=["id"], target_files=2)
            spark.dataSource.register(SnapshotDataSource)
            spark.read.format("snapshot_table").load(str(_wt.root)).filter(
                "id >= 32"
            ).write.format("noop").mode("overwrite").save()
            # merge/update/delete/CDF + one streaming cycle (r13): the
            # warm block above left these machinery paths cold, so the
            # alphabetically-FIRST query of each family was charged the
            # per-JVM one-time cost (codegen of the merge anti/semi
            # joins, the CDF replay readers, the Python Data Source
            # STREAM handshake) — measured ~2 s each on
            # cdc_conditional_cdf and snapshot_cdf_stream_mirror at
            # sf0.1 (interleaved A/B, cleanest rep). Same 64-row scale
            # and same untimed placement as the rest of the warmup;
            # per-query numbers keep comparing plans, not suite order.
            _wt2 = SnapshotTable(_wroot + "/warm2")
            _wt2.append(
                spark.range(64)
                .selectExpr("id", "id*2 AS v", "id%3 AS s")
                .repartition(2)
            )
            _wt2.set_property("delta.enableChangeDataFeed", "true")
            _wt2.merge(
                spark,
                spark.range(32, 96).selectExpr(
                    "id", "id*3 AS v", "id%3 AS s"
                ),
                ["id"],
                when_matched=("update", "source.v > target.v"),
                when_not_matched="insert",
                when_not_matched_by_source=("delete", "v < 10 AND s = 0"),
                change_data=True,
            )
            _wt2.delete(spark, "id >= 90 AND s = 1")
            _wt2.delete(spark, "id BETWEEN 6 AND 8", mode="merge-on-read")
            _wt2.update(spark, "id < 5", {"v": "v + 1"})
            _wt2.read_changes_cdf(spark, since_version=0).write.format(
                "noop"
            ).mode("overwrite").save()
            _q = (
                spark.readStream.format("snapshot_table")
                .option("readChangeFeed", "true")
                .load(str(_wt2.root))
                .writeStream.foreachBatch(
                    lambda df, _b: df.write.mode("append").parquet(
                        _wroot + "/stage"
                    )
                )
                .option("checkpointLocation", _wroot + "/ck")
                .trigger(availableNow=True)
                .start()
            )
            # ADVICE r13: stop a timed-out warmup stream BEFORE the
            # rmtree below deletes its checkpoint out from under it
            if not _q.awaitTermination(300):
                _q.stop()
        finally:
            _sh.rmtree(_wroot, ignore_errors=True)
    except Exception:
        pass
    # fixture PREWARM (VERDICT r8): queries whose snapshot table is pure
    # INPUT (feed read, pruned scan, timestamp read, stream replay)
    # registered a builder — build those tables here, untimed, so each
    # pass's timed number is the operation the query names, not input
    # construction (each pass is a fresh subprocess, so the in-process
    # fixture cache alone can't span passes). Queries whose mutation IS
    # the operation (roundtrip, delete) don't register and keep paying
    # their own way. A prewarm failure is NOT silent (review r9): the
    # affected queries would then be charged construction, so say so.
    try:
        from nyc_taxi_data_pipeline_elt_spark.plans import (
            _snapshot_fixtures,
        )

        _snapshot_fixtures.prewarm_all(spark, sf_dir)
    except Exception as exc:
        print(
            "bench: fixture prewarm FAILED — snapshot-fixture queries "
            f"will be charged construction time: {exc}",
            file=sys.stderr,
        )

    out: dict[str, float] = {}
    for name in sorted(queries):
        fn = queries[name]
        # cache-clean start for every query: operators that legitimately
        # persist partition-pinned inputs (global indexing, sequence
        # packing) cannot unpersist the frame they return, and letting
        # caches accumulate across ~130 queries charges later queries
        # with earlier queries' GC pressure
        if name.startswith(_HEAVY_PREFIXES):
            _reset_heavy_state(spark)
        else:
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
        start = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            out[name] = time.perf_counter() - start
        except Exception as exc:  # keep the bench line parseable
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            out[name] = -1.0
    spark.stop()
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    if os.environ.get("SPARK_GRAFT_BENCH_CHILD") == "1":
        # child mode: one pass, one line of JSON on stdout
        print(json.dumps(run_one_pass(sf_dir)))
        return

    # Each pass runs in a SUBPROCESS so it gets a genuinely fresh JVM.
    # In-process SparkSession restarts are not enough: py4j keeps the
    # JVM alive, and ~130 queries x N passes of generated classes and
    # heap debt measurably tax later passes' heavy queries (measured:
    # dedup_clusters 5.3 s in pass 1, 30-39 s in passes 2-3 of the SAME
    # run after a session restart, vs 3.5-3.9 s across five isolated
    # repeats). ~20 s of untimed subprocess startup per pass buys
    # pass-independent medians that compare plans, not JVM age.
    import subprocess

    queries = entrymod.queries()
    per_pass: dict[str, list[float]] = {n: [] for n in queries}
    failed: set[str] = set()
    load_avgs: list[float] = []
    env = dict(os.environ, SPARK_GRAFT_BENCH_CHILD="1")
    for _ in range(passes):
        try:
            load_avgs.append(round(os.getloadavg()[0], 2))
        except OSError:
            load_avgs.append(-1.0)
        proc = subprocess.run(
            [sys.executable, str(Path(__file__).resolve())],
            env=env,
            stdout=subprocess.PIPE,
            stderr=sys.stderr,
            text=True,
        )
        try:
            result = json.loads(proc.stdout.strip().splitlines()[-1])
        except (json.JSONDecodeError, IndexError):
            print(
                f"bench: pass subprocess failed (rc={proc.returncode})",
                file=sys.stderr,
            )
            continue
        for name, t in result.items():
            if name not in per_pass:
                continue
            if t < 0:
                failed.add(name)
            else:
                per_pass[name].append(t)

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name, ts in per_pass.items():
        if name in failed or not ts:
            timings[name] = -1.0
            continue
        # median_low: for odd N the true median; for even N the lower
        # middle pass (an actually-observed time, not an average that a
        # single polluted pass can inflate)
        med = statistics.median_low(ts)
        timings[name] = round(med, 3)
        # spread = median over the best pass: >1 means the majority of
        # passes ran slower than the query demonstrably can — the
        # reported median itself is polluted, not just one outlier pass
        spreads[name] = round(med / min(ts), 2) if min(ts) > 0 else 1.0

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    worst_spread = max(
        (s for n, s in spreads.items() if timings[n] >= 1.0), default=1.0
    )
    # Per-query suspicion vs run-level contamination: on a shared
    # sandbox, ~1 of 120 queries catching a GC storm in 2 of 3 passes is
    # the expected case, and its median alone is suspect — the run is
    # only condemned when the machine was overloaded or the pattern is
    # widespread (>10% of the >=1s queries suspect).
    suspects = sorted(
        n for n, s in spreads.items() if timings[n] >= 1.0 and s > 2.0
    )
    n_over1s = sum(1 for n, t in timings.items() if t >= 1.0)
    contaminated = any(la > cpus for la in load_avgs) or len(
        suspects
    ) > max(2, n_over1s // 10)

    # Full per-query detail goes to a sidecar file; the stdout line must
    # stay short enough that a consumer keeping only the LAST ~2000 bytes
    # of output still sees the complete JSON object (with ~80 queries the
    # full dict exceeds that window, truncating the head of the line and
    # making it unparseable). The line keeps the slowest queries — the
    # ones that matter for the total — and counts the rest.
    try:
        Path(__file__).resolve().parent.joinpath("BENCH_DETAIL.json").write_text(
            json.dumps(
                {
                    "metric": "total_query_wall_seconds",
                    "value": total,
                    "unit": "sec",
                    "queries": timings,
                    "passes": {
                        n: [round(t, 3) for t in ts]
                        for n, ts in per_pass.items()
                    },
                    "median_over_min_spread": spreads,
                    "suspect_queries": suspects,
                    "n_passes": passes,
                    "load_avg_per_pass": load_avgs,
                    "contaminated": contaminated,
                    "sf": sf,
                    "cpus": cpus,
                    "master": f"local[{cpus}]",
                }
            )
            + "\n"
        )
    except OSError:
        pass

    failed_map = {k: -1.0 for k in failed}
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)
    )
    base_payload = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "n_passes": passes,
        "load_avg_per_pass": load_avgs,
        "worst_median_over_min": worst_spread,
        "suspect_queries": suspects,
        "contaminated": contaminated,
        "detail": "BENCH_DETAIL.json",
        "sf": sf,
        # Self-evidence for the driver's scaling probe (VERDICT r13 #2):
        # the effective core count and master string this run actually
        # used ($SPARK_GRAFT_CPUS -> get_spark -> local[N]), so a flat
        # 8-vs-32-core ratio reads as "fixed-cost-bound at this SF", not
        # "bench ignores the env". Additions only; the one-line contract
        # is unchanged.
        "cpus": cpus,
        "master": f"local[{cpus}]",
    }
    line_queries: dict[str, float] = dict(failed_map)
    for name, t in slowest.items():
        trial = dict(line_queries)
        trial.setdefault(name, t)
        payload = dict(base_payload, queries=trial, n_reported=len(trial))
        if len(json.dumps(payload, separators=(",", ":"))) > 1800:
            break
        line_queries = trial
    print(
        json.dumps(
            dict(
                base_payload,
                queries=line_queries,
                n_reported=len(line_queries),
            ),
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
