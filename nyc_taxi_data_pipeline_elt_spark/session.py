"""SparkSession factory and runtime tuning.

The reference relies on Glue to construct its session
(``/root/reference/src/process_data_glue.py:30-34``) and sets exactly one
conf itself (``partitionColumnTypeInference``, line 130). Here the session
is owned by the library; confs are chosen for correctness parity with the
DuckDB oracle (UTC, double semantics) and for scale (AQE, dynamic partition
overwrite, Arrow).

Two kinds of conf:

- Runtime confs (``RUNTIME_CONFS``): settable on a live session, so
  :func:`tune` applies them to any session, including one a harness built.
- Builder-only static confs (``CODEGEN_CACHE_ENTRIES``, the driver heap,
  the UI): fixed when the JVM's first session starts. Only
  :func:`get_spark` sets them; a harness-built session keeps Spark's
  defaults (a 100-entry compiled-class cache).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that must hold for oracle-correct, scale-ready execution. These are
# all *runtime-settable* SQL confs so they can also be applied to a session
# we did not create (the driver harness builds its own).
RUNTIME_CONFS: dict[str, str] = {
    # year()/month()/hour() are session-TZ dependent; DuckDB timestamps are
    # UTC-naive. Pin UTC so both engines see the same wall-clock fields.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting. At
    # 100 TB this is what keeps a static partition count from being wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Overwriting one partition must not clobber siblings — the reference's
    # partition-scoped incremental overwrite (process_data_glue.py:184-190).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # The reference enables scan-time partition-value typing explicitly
    # (process_data_glue.py:130).
    "spark.sql.sources.partitionColumnTypeInference.enabled": "true",
    # Arrow for any toPandas()/pandas_udf boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deliberately NOT set: spark.sql.execution.pythonUDTF.arrow.enabled.
    # Measured on this build (sf0.1, warm): the polymorphic analyze()
    # UDTF runs ~5x SLOWER under ArrowEvalPythonUDTF (~9.8s vs ~1.9s)
    # and the simple generator UDTF is a wash — UDTF eval is row-wise by
    # API contract either way, so Arrow only changes the transfer
    # encoding and its per-batch conversion overhead dominates at these
    # output shapes. Unlike pandas_udf, there is no vectorized eval to
    # unlock.
    # Python Data Source filter pushdown (sources/snapshot_datasource.py
    # implements pushFilters; reading through it requires the flag).
    "spark.sql.python.filterPushdown.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS), which the Spark reader
    # rejects; read it as epoch-nanos long and convert in the loader
    # (sources.readers.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Right-size shuffles for the local harness: AQE coalesces batch plans,
    # but stateful streaming disables AQE and would otherwise run the
    # default 200 partitions per micro-batch. On a real cluster this is a
    # deploy-time setting (~2-3x total cores).
    "spark.sql.shuffle.partitions": "32",
    # Runtime row-group pruning for large joins: build a bloom filter from
    # the smaller join side and push it into the bigger side's scan. A
    # no-op at test SFs; at 100 TB it prunes fact-table row groups that
    # cannot match.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Spark still DEFAULTS to the deprecated INT96 parquet timestamp
    # encoding, which carries no usable column statistics — a
    # time-keyed table could never stats-prune (merge/delete/scan all
    # touch every file). TIMESTAMP_MICROS is what Delta writes and what
    # every modern reader (DuckDB, pyarrow) round-trips; it restores
    # footer min/max, which the snapshot manifest records as ISO-8601
    # envelopes (sources/snapshots._file_stats).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


# Entries of Spark's compiled-class cache (``spark.sql.codegen.cache.maxEntries``,
# default 100): every class Janino compiles is kept in one LRU cache per
# JVM, keyed by its source. It is a STATIC SQL conf, so only a session
# this module builds can size it; tune() cannot. Measured on 4 vCPU
# (scripts/codegen_probe.py): one snapshot-table DML cycle (append, merge,
# copy-on-write and merge-on-read delete/update, OPTIMIZE, Data Source
# scans, change feed and its stream) generates 127 distinct classes, and
# uses them in the same order every cycle. Through a 100-entry LRU each
# was evicted before its next use, so every warm cycle recompiled 121 of
# them, ~12 ms each on the driver outside any Spark job. At 1000 (~8x
# that working set) a warm cycle compiles none, and the benchmark's peak
# RSS moved +0.7 % (10 interleaved pairs).
CODEGEN_CACHE_ENTRIES = 1000


# Memoization stamp for tune(): every query entry point calls tune(), so
# an already-tuned session was paying ~len(RUNTIME_CONFS) py4j conf.set
# round-trips per query (~16 driver calls x 200 queries x every bench
# pass — pure dispatch overhead, the same class as the SET-walk the r13
# loop_session fix removed). The stamp is an md5 of the conf CONTENTS:
# editing RUNTIME_CONFS invalidates every prior stamp by construction,
# and the sentinel is an ordinary session conf, so clones inherit it
# exactly as they inherit the tuned values themselves.
_TUNE_SENTINEL = "spark.ntx.tuned"


def _tune_stamp() -> str:
    import hashlib

    return hashlib.md5(
        repr(sorted(RUNTIME_CONFS.items())).encode()
    ).hexdigest()


_TUNE_STAMP = _tune_stamp()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent).

    Every public query entry point calls this so behavior is identical
    whether the session came from :func:`get_spark` or from the harness.
    Only ``RUNTIME_CONFS`` are applied: static confs such as the
    compiled-class cache size (``CODEGEN_CACHE_ENTRIES``) cannot change
    on a live session, so a harness-built session keeps Spark's default.
    A session that already carries the current stamp is skipped after
    ONE conf.get — code outside this module never mutates these confs
    (pinned by ``test_no_conf_set_outside_tune_and_confscope``; tests
    that scope a conf restore it in ``finally``), so the stamp staying
    put means the values are still in force.
    """
    try:
        if spark.conf.get(_TUNE_SENTINEL, None) == _TUNE_STAMP:
            return spark
    except Exception:
        pass
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this build → keep going; defaults are sane.
            pass
    try:
        spark.conf.set(_TUNE_SENTINEL, _TUNE_STAMP)
    except Exception:
        pass
    return spark


def default_driver_memory() -> str:
    """Driver heap for a session this module builds: half the host's
    physical memory, capped at 48g. A fixed 48g let G1 grow a local
    JVM toward a heap the host does not have (12 GB resident on a 15 GB
    host before it was killed). ``SPARK_DRIVER_MEMORY`` overrides."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(48, phys // 2 // 2**30))}g"


def get_spark(app_name: str = "nyc-taxi-elt-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local session sized to the host.

    ``local[N]`` is the test harness; on a real cluster the same code runs
    unchanged under whatever master the deployment provides.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Shuffle partitions ~ cores for local; AQE coalesces further.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # keep saveAsTable output (bucketed tables) out of the repo tree
        .config("spark.sql.warehouse.dir", "/tmp/ntx_warehouse")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python-worker connect-back accept timeout (default 15s): in a
        # long-lived JVM running hundreds of queries, a worker spawned
        # under momentary host load can miss the 15s window and kill the
        # whole (streaming) query with "Python worker failed to connect
        # back" — observed once at test ~147/187 of a 26-minute
        # single-JVM pytest module run. Waiting longer is strictly safer
        # than failing: the worker either connects or the spawn error
        # surfaces on its own.
        .config("spark.python.authenticate.socketTimeout", "120s")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # stamp at build: a get_spark session is tuned by construction, so
    # the tune() below (and every per-query tune) is one conf.get
    builder = builder.config(_TUNE_SENTINEL, _TUNE_STAMP)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
