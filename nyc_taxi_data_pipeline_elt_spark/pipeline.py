"""The in-process pipeline runner (SURVEY.md §2.11, O2-O4).

Replaces the reference's Step Functions state machine
(``/root/reference/infra/main.tf:493-596``):

    ingest -> process(yellow) -> process(green) -> reports

with plain function sequencing and fail-fast exception propagation (the
ASL ``Catch -> FailState`` becomes a raised exception, matching the
processing job's own re-raise at ``process_data_glue.py:140-143``).

The processing stage is the reference's landing->consumer transform
(``process_data_glue.py:127-205``) rebuilt Spark-first:

- partition pruning by *filter*, not path surgery
- the landing scan planned from the Parquet footers: one scan plus
  ``conform_to_schema`` per distinct footer schema, so schema drift
  between months costs one more scan instead of a failed read (fixes the
  month-1 int<->double failure recorded at README.md:146)
- DQ failures routed to a dead-letter table instead of silently dropped
  (the README's own to-do), written alongside the consumer table
- no log-only ``count()`` actions — the reference triggers 3 full
  recomputations per run (SURVEY.md §4 anti-patterns); here a stage's
  only actions are its two writes

The scan (``read_landing_files``) and the transform
(``landing_to_consumer``) are shared with ``streaming.incremental``;
the batch and incremental runners differ only in their sinks.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from functools import reduce
from pathlib import Path

import pyarrow.parquet as pq
from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_taxi_data_pipeline_elt_spark.operators.conform import conform_to_schema
from nyc_taxi_data_pipeline_elt_spark.operators.quality import apply_quality, trips_rules
from nyc_taxi_data_pipeline_elt_spark.plans.reports import (
    q1_monthly_revenue,
    q2_hourly_passengers,
)
from nyc_taxi_data_pipeline_elt_spark.schemas import (
    CONSUMER_COLUMNS,
    CONSUMER_PARTITION_KEYS,
    Q1_SCHEMA,
    Q2_SCHEMA,
)
from nyc_taxi_data_pipeline_elt_spark.session import tune
from nyc_taxi_data_pipeline_elt_spark.sources.readers import read_layer
from nyc_taxi_data_pipeline_elt_spark.sources.writers import (
    write_empty_report,
    write_partitioned,
    write_report,
)

# Unified pre-partition schema: what every landing batch conforms to before
# fleet union (generalizes process_data_glue.py:162-174's padding).
RAW_UNIFIED_SCHEMA = T.StructType(
    [
        T.StructField("vendor_id", T.LongType()),
        T.StructField("passenger_count", T.LongType()),
        T.StructField("total_amount", T.DoubleType()),
        T.StructField("tpep_pickup_datetime", T.TimestampType()),
        T.StructField("tpep_dropoff_datetime", T.TimestampType()),
        T.StructField("lpep_pickup_datetime", T.TimestampType()),
        T.StructField("lpep_dropoff_datetime", T.TimestampType()),
    ]
)

_RENAMES = {"VendorID": "vendor_id"}
# TLC's drifting column: some monthly files carry float64 passenger_count
# (the drift that killed the reference's January run). Narrowing back to
# the catalog's bigint is sanctioned.
_NARROW_OK = {"passenger_count"}
# the footer key-value entry Spark's Parquet schema inference reads
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


@dataclass
class PipelineConfig:
    landing_dir: str
    consumer_dir: str
    reports_dir: str
    dlq_dir: str
    trip_types: list[str] = field(default_factory=lambda: ["yellow", "green"])
    q2_month: int = 5


def _quarantine(batch_path: Path, exc: Exception) -> None:
    """Record an unprocessable landing batch (file-level dead-letter).

    Detection is footer/schema-level (scan planning); per-row corruption
    inside an otherwise-readable file is the row-level DLQ's job.
    Idempotent per path: re-runs over unchanged landing data do not
    re-append the same incident.
    """
    log = batch_path.parent.parent / "_quarantine.jsonl"
    if log.exists():
        for line in log.read_text().splitlines():
            if json.loads(line).get("path") == str(batch_path):
                return
    entry = {"path": str(batch_path), "error": str(exc)[:500]}
    with open(log, "a") as f:
        f.write(json.dumps(entry) + "\n")


def _footer_key(path: Path) -> tuple[str, bytes | None]:
    """What Spark's schema inference reads from a Parquet footer: the
    Parquet schema plus Spark's own row-metadata entry. Reads the footer
    only; raises on a file that is not Parquet."""
    meta = pq.read_metadata(path)
    # the first line of the schema's str() is the Python object address
    schema = str(meta.schema).split("\n", 1)[1]
    return schema, (meta.metadata or {}).get(_SPARK_ROW_METADATA)


def _visible(path: Path) -> bool:
    # Spark's file index skips names starting with "_" or "."
    return not path.name.startswith(("_", "."))


def read_landing_files(
    spark: SparkSession, files: list[Path]
) -> tuple[DataFrame | None, int]:
    """Conformed scan of landing files, planned from their footers.

    The files are grouped by footer schema on the driver, each group is
    one Spark scan conformed to ``RAW_UNIFIED_SCHEMA``, and the groups
    are unioned by name. Files in one group share a footer schema, so
    Spark infers the same type for each of them, and a type drift
    between months (int<->double, exactly README.md:146) only adds a
    group.

    A file's ``partition_date=`` batch directory is quarantined
    (file-level dead-letter) when one of its footers cannot be read or
    when ``conform_to_schema`` rejects its group; the batch's other files
    are dropped with it. Returns ``(df_or_None, n_quarantined)``: None
    when no file survives.
    """
    failed: dict[Path, Exception] = {}
    keys: dict[Path, tuple[str, bytes | None]] = {}
    for f in files:
        try:
            keys[f] = _footer_key(f)
        except Exception as exc:
            failed.setdefault(f.parent, exc)
    groups: dict[tuple[str, bytes | None], list[Path]] = {}
    for f, key in keys.items():
        if f.parent not in failed:
            groups.setdefault(key, []).append(f)

    def _scan(files: list[Path]) -> DataFrame:
        return conform_to_schema(
            spark.read.parquet(*map(str, files)),
            RAW_UNIFIED_SCHEMA,
            renames=_RENAMES,
            narrow_ok=_NARROW_OK,
        )

    scans: list[tuple[list[Path], DataFrame]] = []
    for group in groups.values():
        try:
            scans.append((group, _scan(group)))
        except Exception as exc:
            for f in group:
                failed.setdefault(f.parent, exc)
    parts = []
    for group, df in scans:
        keep = [f for f in group if f.parent not in failed]
        if keep:
            # a batch quarantined by another group loses its files here too
            parts.append(df if len(keep) == len(group) else _scan(keep))

    for batch, exc in failed.items():
        _quarantine(batch, exc)
    if not parts:
        return None, len(failed)
    return reduce(DataFrame.unionByName, parts), len(failed)


def read_landing_conformed(
    spark: SparkSession, landing_dir: str, trip_type: str
) -> tuple[DataFrame | None, int]:
    """Read one fleet's landing partition, drift-safe.

    Lists every ``partition_date=`` batch and scans their files with
    ``read_landing_files``. TLC publishes one file per fleet-month, so
    the driver reads one footer per month. A batch with no data files is
    quarantined as well. Returns ``(df_or_None, n_quarantined)``. Raises
    when every batch quarantined — a fleet that is entirely unreadable is
    a systemic failure, not an empty input, and must fail the stage (the
    reference's fail-fast contract, process_data_glue.py:140-143).
    """
    base = Path(landing_dir) / f"trip_type={trip_type}"
    if not base.exists():
        return None, 0
    batches = sorted(p for p in base.iterdir() if p.is_dir() and _visible(p))
    if not batches:
        return None, 0

    files = []
    n_empty = 0
    for batch in batches:
        found = sorted(f for f in batch.iterdir() if f.is_file() and _visible(f))
        if not found:
            _quarantine(batch, FileNotFoundError(f"no data files in {batch}"))
            n_empty += 1
        files += found
    raw, n_failed = read_landing_files(spark, files)
    if raw is None:
        # every batch unreadable: systemic, not empty — fail the stage
        raise RuntimeError(
            f"all {n_empty + n_failed} landing batches for trip_type="
            f"{trip_type!r} were quarantined; see "
            f"{base.parent / '_quarantine.jsonl'}"
        )
    return raw, n_empty + n_failed


def landing_to_consumer(
    raw: DataFrame, trip_type: str
) -> tuple[DataFrame, DataFrame]:
    """The processing job's transform (process_data_glue.py:127-205) on a
    conformed landing frame: unify the fleets' pickup/dropoff columns,
    apply the trips DQ rules, and project both sides. Returns
    ``(consumer, dead_letters)``; writes nothing."""
    unified = raw.withColumn(
        "pickup_time",
        F.coalesce("tpep_pickup_datetime", "lpep_pickup_datetime"),
    ).withColumn(
        "dropoff_time",
        F.coalesce("tpep_dropoff_datetime", "lpep_dropoff_datetime"),
    )
    good, bad = apply_quality(unified, trips_rules())
    # DLQ: the reference's missing to-do (README.md:146)
    dead_letters = bad.withColumn("trip_type", F.lit(trip_type)).select(
        *[c for c in unified.columns if not c.endswith("_time")],
        "trip_type",
        F.col("dq_violations").cast("array<string>"),
    )
    consumer = (
        good.withColumn("trip_type", F.lit(trip_type))  # P7
        .withColumn("trip_year", F.year("pickup_time"))  # F1
        .withColumn("trip_month", F.month("pickup_time"))  # F2
        .select(*CONSUMER_COLUMNS)  # P9
    )
    return consumer, dead_letters


def process_trips(
    spark: SparkSession, cfg: PipelineConfig, trip_type: str
) -> dict[str, int] | None:
    """Landing -> consumer for one fleet (EP2, process_data_glue.py):
    ``read_landing_conformed`` then ``landing_to_consumer``, the transform
    ``streaming.incremental`` runs too. Both tables are written with a
    dynamic partition overwrite, partition-scoped so re-runs stay
    incremental.

    Returns observability metrics. The reference logs row counts with 6
    eager ``count()`` calls, each re-executing the full lineage (SURVEY.md
    §4 anti-patterns); here ``observe()`` accumulates the same counts as a
    side effect of the single write action — zero extra scans.

    The dead-letter write runs on a side thread while the consumer write
    runs here: the two writer jobs are independent and each has only a
    few tasks, so they share the cores. The side thread inherits the
    caller's job group. The two commits are not ordered; if either write
    fails the stage fails, and a re-run repairs both tables because the
    dynamic partition overwrite is idempotent.
    """
    tune(spark)
    raw, n_quarantined = read_landing_conformed(spark, cfg.landing_dir, trip_type)
    if raw is None:
        return None
    consumer, dead_letters = landing_to_consumer(raw, trip_type)

    dlq_obs = Observation(f"dlq_{trip_type}")
    bad_out = dead_letters.observe(dlq_obs, F.count(F.lit(1)).alias("n_rows"))
    dlq_box: dict = {}

    def _dlq_write() -> None:
        try:
            write_partitioned(bad_out, cfg.dlq_dir, ["trip_type"])
        except BaseException as exc:  # re-raised on the calling thread
            dlq_box["err"] = exc

    consumer_obs = Observation(f"consumer_{trip_type}")
    consumer = consumer.observe(consumer_obs, F.count(F.lit(1)).alias("n_rows"))
    dlq_thread = InheritableThread(target=_dlq_write, daemon=True)
    dlq_thread.start()
    try:
        write_partitioned(consumer, cfg.consumer_dir, CONSUMER_PARTITION_KEYS)
    finally:
        dlq_thread.join()
    if "err" in dlq_box:
        raise dlq_box["err"]
    return {
        "rows_written": consumer_obs.get["n_rows"],
        "rows_dead_lettered": dlq_obs.get["n_rows"],
        "batches_quarantined": n_quarantined,
    }


def build_reports(spark: SparkSession, cfg: PipelineConfig) -> None:
    """Consumer -> reporting (EP3, reporting_etl_job.py)."""
    tune(spark)
    yellow = read_layer(spark, cfg.consumer_dir, trip_type="yellow")
    green = read_layer(spark, cfg.consumer_dir, trip_type="green")

    q1 = q1_monthly_revenue(yellow)
    q1_path = f"{cfg.reports_dir}/q1_monthly_revenue"
    if q1 is None:
        write_empty_report(spark, Q1_SCHEMA, q1_path)
    else:
        write_report(q1, q1_path)

    q2 = q2_hourly_passengers(yellow, green, month=cfg.q2_month)
    q2_path = f"{cfg.reports_dir}/q2_hourly_passengers"
    if q2 is None:
        write_empty_report(spark, Q2_SCHEMA, q2_path)
    else:
        write_report(q2, q2_path)


def run(spark: SparkSession, cfg: PipelineConfig) -> None:
    """O2: the state-machine sequencing, fail-fast (O3)."""
    stages = [
        *[
            (f"process_{t}", lambda s=None, t=t: process_trips(spark, cfg, t))
            for t in cfg.trip_types
        ],
        ("reports", lambda: build_reports(spark, cfg)),
    ]
    for name, stage in stages:
        try:
            stage()
        except Exception as exc:
            raise RuntimeError(f"pipeline stage {name!r} failed") from exc
