"""End-to-end medallion pipeline tests on taxi-shaped fixtures (FIXTURES.md §A),
including the reference's recorded failure modes: schema drift (README.md:146)
and empty inputs (reporting_etl_job.py:65-70)."""

from __future__ import annotations

import json
import re
import threading
import uuid
from datetime import datetime
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nyc_taxi_data_pipeline_elt_spark import pipeline
from nyc_taxi_data_pipeline_elt_spark.pipeline import (
    PipelineConfig,
    build_reports,
    process_trips,
    read_landing_conformed,
    run,
)
from nyc_taxi_data_pipeline_elt_spark.schemas import Q1_SCHEMA, Q2_SCHEMA
from nyc_taxi_data_pipeline_elt_spark.session import tune
from nyc_taxi_data_pipeline_elt_spark.sources.ingest import landing_key
from nyc_taxi_data_pipeline_elt_spark.sources.readers import parquet_schema, read_layer

# the Q1 and Q2 writes on the ``lake`` fixture; planning adds none
BUILD_REPORTS_JOBS = 4


def _write(df: pd.DataFrame, path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    # pandas defaults to ns timestamps; real TLC files are µs. Keep the
    # fixture µs so it exercises the normal reader path.
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _yellow(month: int, drift: bool = False) -> pd.DataFrame:
    ts = lambda d, h: datetime(2023, month, d, h)  # noqa: E731
    pc = [1, 2, None, 0, 3]
    df = pd.DataFrame(
        {
            "VendorID": pd.array([1, 2, 1, 2, 1], dtype="int64"),
            "tpep_pickup_datetime": [ts(1, 6), ts(2, 7), ts(3, 8), ts(4, 9), None],
            "tpep_dropoff_datetime": [ts(1, 7), ts(2, 8), ts(3, 9), ts(4, 10), ts(5, 11)],
            "passenger_count": pd.array(pc, dtype="float64" if drift else "Int64"),
            "total_amount": [10.0, 20.0, 30.0, 40.0, -5.0],
        }
    )
    return df


def _green(month: int) -> pd.DataFrame:
    ts = lambda d, h: datetime(2023, month, d, h)  # noqa: E731
    return pd.DataFrame(
        {
            "VendorID": pd.array([2, 2], dtype="int64"),
            "lpep_pickup_datetime": [ts(10, 6), ts(11, 18)],
            "lpep_dropoff_datetime": [ts(10, 7), ts(11, 19)],
            "passenger_count": pd.array([4, 6], dtype="Int64"),
            "total_amount": [15.0, 25.0],
        }
    )


@pytest.fixture()
def lake(tmp_path):
    landing = tmp_path / "landing"
    # month 1 carries the drift variant (float64 passenger_count): its
    # footer schema differs from April's and May's, so the yellow read
    # plans two scans, each conformed to the catalog types.
    _write(_yellow(1, drift=True), landing_key(landing, "yellow", 2023, 1))
    _write(_yellow(4), landing_key(landing, "yellow", 2023, 4))
    _write(_yellow(5), landing_key(landing, "yellow", 2023, 5))
    _write(_green(5), landing_key(landing, "green", 2023, 5))
    return PipelineConfig(
        landing_dir=str(landing),
        consumer_dir=str(tmp_path / "consumer"),
        reports_dir=str(tmp_path / "reports"),
        dlq_dir=str(tmp_path / "dlq"),
    )


def test_full_pipeline(spark, lake, tmp_path):
    run(spark, lake)

    # consumer: Hive-partitioned by trip_type/trip_year/trip_month
    consumer = spark.read.parquet(lake.consumer_dir)
    parts = {
        (r.trip_type, r.trip_year, r.trip_month)
        for r in consumer.select("trip_type", "trip_year", "trip_month").distinct().collect()
    }
    assert parts == {
        ("yellow", 2023, 1),
        ("yellow", 2023, 4),
        ("yellow", 2023, 5),
        ("green", 2023, 5),
    }
    # per yellow month: 5 rows -> 2 good (null/0 passengers, negative amount,
    # null pickup rejected); green: both good
    assert consumer.filter("trip_type = 'yellow'").count() == 6
    assert consumer.filter("trip_type = 'green'").count() == 2
    # drift month conformed to catalog type
    assert dict(consumer.dtypes)["passenger_count"] == "bigint"

    # DLQ captured the 9 rejected rows with named violations
    dlq = spark.read.parquet(lake.dlq_dir)
    assert dlq.count() == 9
    reasons = {tuple(r.dq_violations) for r in dlq.collect()}
    assert ("passenger_count_positive",) in reasons
    assert ("total_amount_non_negative", "datetimes_present") in reasons

    # Q1: yellow monthly averages of the 2 surviving rows (10, 20) -> 15.0
    q1 = spark.read.parquet(f"{lake.reports_dir}/q1_monthly_revenue")
    q1_rows = {r.report_month: r.avg_total_amount for r in q1.collect()}
    assert q1_rows == {"2023-01": 15.0, "2023-04": 15.0, "2023-05": 15.0}

    # Q2: May, yellow(1@6h, 2@7h) ∪ green(4@6h, 6@18h)
    q2 = spark.read.parquet(f"{lake.reports_dir}/q2_hourly_passengers")
    q2_rows = {r.report_hour: r.avg_passenger_count for r in q2.collect()}
    assert q2_rows == {6: 2.5, 7: 2.0, 18: 6.0}


def test_corrupt_batch_is_quarantined_not_fatal(spark, tmp_path):
    """A landing batch with an unreadable footer is recorded to the
    file-level quarantine and skipped; healthy batches still process,
    here next to a drifted month."""
    landing = tmp_path / "landing"
    _write(_yellow(1, drift=True), landing_key(landing, "yellow", 2023, 1))
    _write(_yellow(4), landing_key(landing, "yellow", 2023, 4))
    bad = landing_key(landing, "yellow", 2023, 2)
    bad.parent.mkdir(parents=True, exist_ok=True)
    bad.write_bytes(b"this is not parquet")

    cfg = PipelineConfig(
        landing_dir=str(landing),
        consumer_dir=str(tmp_path / "consumer"),
        reports_dir=str(tmp_path / "reports"),
        dlq_dir=str(tmp_path / "dlq"),
    )
    run(spark, cfg)

    consumer = spark.read.parquet(cfg.consumer_dir)
    assert {r.trip_month for r in consumer.select("trip_month").collect()} == {1, 4}
    qlog = landing / "_quarantine.jsonl"
    assert qlog.exists()
    entries = [json.loads(l) for l in qlog.read_text().splitlines()]
    assert len(entries) == 1
    assert "partition_date=202302" in entries[0]["path"]

    # re-run: quarantine log stays deduplicated, metrics expose the count
    metrics = process_trips(spark, cfg, "yellow")
    assert metrics["batches_quarantined"] == 1
    entries = [json.loads(l) for l in qlog.read_text().splitlines()]
    assert len(entries) == 1

    # a fleet whose every batch is unreadable must FAIL the stage, not
    # silently produce an empty consumer
    bad2 = landing_key(landing, "green", 2023, 2)
    bad2.parent.mkdir(parents=True, exist_ok=True)
    bad2.write_bytes(b"junk")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="pipeline stage|quarantined"):
        process_trips(spark, cfg, "green")


def test_empty_inputs_write_schema_correct_reports(spark, tmp_path):
    cfg = PipelineConfig(
        landing_dir=str(tmp_path / "landing"),  # nothing ingested
        consumer_dir=str(tmp_path / "consumer"),
        reports_dir=str(tmp_path / "reports"),
        dlq_dir=str(tmp_path / "dlq"),
    )
    build_reports(spark, cfg)
    q1 = spark.read.parquet(f"{cfg.reports_dir}/q1_monthly_revenue")
    q2 = spark.read.parquet(f"{cfg.reports_dir}/q2_hourly_passengers")
    assert q1.count() == 0 and q1.schema == Q1_SCHEMA
    assert q2.count() == 0 and q2.schema == Q2_SCHEMA


def test_partition_scoped_rerun_preserves_siblings(spark, lake):
    """Dynamic partition overwrite: re-processing one fleet must not clobber
    the other fleet's consumer partitions (process_data_glue.py:184-190)."""
    run(spark, lake)
    before_green = spark.read.parquet(lake.consumer_dir).filter(
        "trip_type = 'green'"
    ).count()
    metrics = process_trips(spark, lake, "yellow")  # re-run yellow only
    after = spark.read.parquet(lake.consumer_dir)
    assert after.filter("trip_type = 'green'").count() == before_green
    assert after.filter("trip_type = 'yellow'").count() == 6
    # observe() metrics ride the write action — no extra scans
    assert metrics == {
        "rows_written": 6,
        "rows_dead_lettered": 9,
        "batches_quarantined": 0,
    }


def _jobs_started(spark, build):
    """``build()``'s result and the Spark jobs it started, side threads
    included (they inherit the job group)."""
    sc = spark.sparkContext
    group = f"pipeline-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "pipeline job count")
    try:
        out = build()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return out, [tracker.getJobInfo(i) for i in tracker.getJobIdsForGroup(group)]


def test_footer_planned_read_starts_no_job(spark, lake):
    """The drifted yellow fleet has two footer schemas (January's float64
    passenger_count, April's and May's int64): the read plans one scan
    per schema from footers read on the driver and starts no Spark job."""
    (raw, n_quarantined), jobs = _jobs_started(
        spark, lambda: read_landing_conformed(spark, lake.landing_dir, "yellow")
    )
    assert jobs == []
    assert n_quarantined == 0
    assert raw.count() == 15
    assert dict(raw.dtypes)["passenger_count"] == "bigint"


def _write_arrow(table):
    return lambda path: pq.write_table(table, path)


_MAY_1 = [datetime(2023, 5, 1, 6)]
_SCHEMA_CASES = {
    "int64": (_write_arrow(pa.table({"n": pa.array([1, 2], pa.int64())})), "n", "bigint"),
    "float64_nulls_drift_month": (
        lambda path: _write(_yellow(1, drift=True), Path(path)),
        "passenger_count",
        "double",
    ),
    "timestamp_us_ntz": (
        _write_arrow(pa.table({"t": pa.array(_MAY_1, pa.timestamp("us"))})),
        "t",
        "timestamp_ntz",
    ),
    "timestamp_ns_as_long": (
        _write_arrow(pa.table({"t": pa.array(_MAY_1, pa.timestamp("ns"))})),
        "t",
        "bigint",
    ),
}


@pytest.mark.parametrize("case", [*_SCHEMA_CASES, "spark_consumer_dir"])
def test_parquet_schema_matches_spark_inference(spark, lake, tmp_path, case):
    """The driver-side schema equals what ``spark.read.parquet`` infers,
    under the session's conf (``nanosAsLong`` for the ns case)."""
    tune(spark)
    if case == "spark_consumer_dir":
        process_trips(spark, lake, "yellow")
        process_trips(spark, lake, "green")
        path = lake.consumer_dir
        first = min(Path(path).rglob("*.parquet"), key=str)
        got = spark.read.schema(parquet_schema(spark, str(first))).parquet(path).schema
        column, want = "trip_month", "int"  # a partition column from discovery
    else:
        write, column, want = _SCHEMA_CASES[case]
        path = str(tmp_path / f"{case}.parquet")
        write(path)
        got = parquet_schema(spark, path)
    assert got == spark.read.parquet(path).schema
    assert got[column].dataType.simpleString() == want


def test_read_layer_starts_no_job(spark, lake):
    """The consumer scan takes its schema from one footer and its empty
    guard from footer row counts: no inference job, no isEmpty probe."""
    process_trips(spark, lake, "yellow")
    process_trips(spark, lake, "green")
    frames, jobs = _jobs_started(
        spark,
        lambda: [read_layer(spark, lake.consumer_dir, t) for t in ("yellow", "green")],
    )
    assert jobs == []
    assert [df.count() for df in frames] == [6, 2]


def test_build_reports_job_count(spark, lake):
    """Building both reports starts only the jobs of their two writes."""
    process_trips(spark, lake, "yellow")
    process_trips(spark, lake, "green")
    _, jobs = _jobs_started(spark, lambda: build_reports(spark, lake))
    assert len(jobs) == BUILD_REPORTS_JOBS
    assert all(j.status == "SUCCEEDED" for j in jobs)


def test_read_layer_none_only_for_missing_or_rowless(spark, lake, tmp_path):
    """A missing layer and a fleet whose files hold no rows read as None;
    an unreadable footer raises, naming the file, and fails the reports
    stage instead of writing empty reports."""
    assert read_layer(spark, str(tmp_path / "absent"), trip_type="yellow") is None
    run(spark, lake)
    consumer = Path(lake.consumer_dir)
    # the file Spark's inference reads: the first green one
    first = min(consumer.rglob("*.parquet"), key=str)
    rowless = consumer / "trip_type=white" / "trip_year=2023" / "trip_month=5"
    rowless.mkdir(parents=True)
    pq.write_table(pq.read_table(first).slice(0, 0), rowless / "part-0.parquet")
    assert read_layer(spark, lake.consumer_dir, trip_type="white") is None
    assert read_layer(spark, lake.consumer_dir, trip_type="yellow").count() == 6

    # a fleet's own file, read for the row-count guard
    yellow_first = min((consumer / "trip_type=yellow").rglob("*.parquet"), key=str)
    yellow_first.write_bytes(b"corrupted")
    with pytest.raises(ValueError, match=re.escape(f"footer: {yellow_first}")):
        read_layer(spark, lake.consumer_dir, trip_type="yellow")
    assert read_layer(spark, lake.consumer_dir, trip_type="green").count() == 2

    first.write_bytes(b"corrupted")
    with pytest.raises(ValueError, match=re.escape(f"footer: {first}")):
        read_layer(spark, lake.consumer_dir, trip_type="green")
    with pytest.raises(ValueError, match=re.escape(f"footer: {first}")):
        build_reports(spark, lake)


def test_unreadable_batches_quarantined_in_fleet_without_drift(spark, tmp_path):
    """Without drift every healthy month shares one scan; a corrupt
    footer and a month whose types conformance rejects are each
    quarantined, and the healthy months still process. A quarantined
    batch loses all its files, also one whose footer matches the
    healthy months."""
    landing = tmp_path / "landing"
    _write(_yellow(4), landing_key(landing, "yellow", 2023, 4))
    _write(_yellow(5), landing_key(landing, "yellow", 2023, 5))
    bad = landing_key(landing, "yellow", 2023, 2)
    bad.parent.mkdir(parents=True, exist_ok=True)
    bad.write_bytes(b"this is not parquet")
    rejected = landing_key(landing, "yellow", 2023, 3)
    _write(_yellow(3).astype({"total_amount": str}), rejected)
    _write(_yellow(3), rejected.parent / "extra.parquet")
    cfg = PipelineConfig(
        landing_dir=str(landing),
        consumer_dir=str(tmp_path / "consumer"),
        reports_dir=str(tmp_path / "reports"),
        dlq_dir=str(tmp_path / "dlq"),
    )

    metrics = process_trips(spark, cfg, "yellow")

    assert metrics == {
        "rows_written": 4,
        "rows_dead_lettered": 6,
        "batches_quarantined": 2,
    }
    consumer = spark.read.parquet(cfg.consumer_dir)
    assert {r.trip_month for r in consumer.select("trip_month").collect()} == {4, 5}
    entries = [
        json.loads(line)
        for line in (landing / "_quarantine.jsonl").read_text().splitlines()
    ]
    assert {e["path"] for e in entries} == {str(bad.parent), str(rejected.parent)}


def test_failed_dlq_write_fails_stage_and_rerun_repairs(spark, lake, monkeypatch):
    """The dead-letter write runs on a side thread: its failure must
    surface on the calling thread after the thread ended, and a re-run
    must restore both tables."""
    real_write = pipeline.write_partitioned
    side: dict = {}

    def failing_write(df, path, partition_by, mode="overwrite"):
        if path == lake.dlq_dir:
            side["thread"] = threading.current_thread()
            raise OSError("dead-letter sink unavailable")
        real_write(df, path, partition_by, mode)

    monkeypatch.setattr(pipeline, "write_partitioned", failing_write)
    with pytest.raises(OSError, match="dead-letter sink unavailable"):
        process_trips(spark, lake, "yellow")
    assert side["thread"] is not threading.main_thread()
    assert not side["thread"].is_alive()

    monkeypatch.setattr(pipeline, "write_partitioned", real_write)
    metrics = process_trips(spark, lake, "yellow")
    assert metrics == {
        "rows_written": 6,
        "rows_dead_lettered": 9,
        "batches_quarantined": 0,
    }
    assert spark.read.parquet(lake.consumer_dir).count() == 6
    assert spark.read.parquet(lake.dlq_dir).count() == 9


def test_failed_q1_write_fails_stage_and_rerun_repairs(spark, lake, monkeypatch):
    """The Q1 report write runs on a side thread: its failure must
    surface on the calling thread after the thread ended, and a re-run
    must restore both reports."""
    run(spark, lake)
    q1_path = f"{lake.reports_dir}/q1_monthly_revenue"
    real_write = pipeline.write_report
    side: dict = {}

    def failing_write(df, path):
        if path == q1_path:
            side["thread"] = threading.current_thread()
            raise OSError("report sink unavailable")
        real_write(df, path)

    monkeypatch.setattr(pipeline, "write_report", failing_write)
    with pytest.raises(OSError, match="report sink unavailable"):
        build_reports(spark, lake)
    assert side["thread"] is not threading.main_thread()
    assert not side["thread"].is_alive()

    monkeypatch.setattr(pipeline, "write_report", real_write)
    build_reports(spark, lake)
    q1 = spark.read.parquet(q1_path)
    assert {r.report_month: r.avg_total_amount for r in q1.collect()} == {
        "2023-01": 15.0,
        "2023-04": 15.0,
        "2023-05": 15.0,
    }
    q2 = spark.read.parquet(f"{lake.reports_dir}/q2_hourly_passengers")
    assert {r.report_hour: r.avg_passenger_count for r in q2.collect()} == {
        6: 2.5,
        7: 2.0,
        18: 6.0,
    }
