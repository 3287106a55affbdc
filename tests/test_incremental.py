"""Incremental landing->consumer: checkpointed file discovery processes
each landing file exactly once, across drifted schemas."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_elt_spark.pipeline import PipelineConfig
from nyc_taxi_data_pipeline_elt_spark.sources.ingest import landing_key
from nyc_taxi_data_pipeline_elt_spark.streaming.incremental import incremental_process
from tests.test_pipeline import _write, _yellow


def test_incremental_processes_only_new_files(spark, tmp_path):
    landing = tmp_path / "landing"
    cfg = PipelineConfig(
        landing_dir=str(landing),
        consumer_dir=str(tmp_path / "consumer"),
        reports_dir=str(tmp_path / "reports"),
        dlq_dir=str(tmp_path / "dlq"),
    )
    ckpt = str(tmp_path / "ckpt_yellow")

    # run 1: one clean month (5 rows -> 2 good, 3 dead-lettered)
    _write(_yellow(4), landing_key(landing, "yellow", 2023, 4))
    incremental_process(spark, cfg, "yellow", ckpt)
    consumer = spark.read.parquet(cfg.consumer_dir)
    assert consumer.count() == 2
    assert {r.trip_month for r in consumer.select("trip_month").collect()} == {4}

    # run 2: a new *drifted* month arrives (float64 passenger_count);
    # only the new file is processed, the old one is not re-read
    _write(_yellow(5, drift=True), landing_key(landing, "yellow", 2023, 5))
    incremental_process(spark, cfg, "yellow", ckpt)
    consumer = spark.read.parquet(cfg.consumer_dir)
    assert consumer.count() == 4  # appended, not reprocessed (else 6)
    assert {r.trip_month for r in consumer.select("trip_month").collect()} == {4, 5}
    assert dict(consumer.dtypes)["passenger_count"] == "bigint"

    # run 3: nothing new -> no change
    incremental_process(spark, cfg, "yellow", ckpt)
    assert spark.read.parquet(cfg.consumer_dir).count() == 4

    # DLQ accumulated 3 rejects per processed month, batch-stamped
    dlq = spark.read.parquet(cfg.dlq_dir)
    assert dlq.count() == 6
    assert dlq.select("_batch_id").distinct().count() == 2

    # consumer rows carry the same retry-reconciliation stamp as the DLQ:
    # a retried foreachBatch re-appends under an identical _batch_id
    assert "_batch_id" in consumer.columns
    assert consumer.select("_batch_id").distinct().count() == 2


def test_incremental_snapshot_sink_exactly_once(spark, tmp_path):
    """consumer_table variant: commits land in the snapshot table with
    the batch id recorded, so a replayed batch id is a no-op commit."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable

    landing = tmp_path / "landing"
    cfg = PipelineConfig(
        landing_dir=str(landing),
        consumer_dir=str(tmp_path / "consumer"),
        reports_dir=str(tmp_path / "reports"),
        dlq_dir=str(tmp_path / "dlq"),
    )
    table = SnapshotTable(str(tmp_path / "consumer_tbl"))
    ckpt = str(tmp_path / "ckpt_yellow")

    _write(_yellow(4), landing_key(landing, "yellow", 2023, 4))
    incremental_process(spark, cfg, "yellow", ckpt, consumer_table=table)
    assert table.read(spark).count() == 2
    committed = [s.batch_id for s in table.history()]

    # replaying the same batch id against the table is a no-op
    assert table.commit_batch(table.read(spark), committed[0]) is None
    assert table.read(spark).count() == 2

    # a second month commits exactly one more snapshot
    _write(_yellow(5), landing_key(landing, "yellow", 2023, 5))
    incremental_process(spark, cfg, "yellow", ckpt, consumer_table=table)
    assert table.read(spark).count() == 4
    assert len(table.history()) == len(committed) + 1


def _cfg(tmp_path) -> PipelineConfig:
    return PipelineConfig(
        landing_dir=str(tmp_path / "landing"),
        consumer_dir=str(tmp_path / "consumer"),
        reports_dir=str(tmp_path / "reports"),
        dlq_dir=str(tmp_path / "dlq"),
    )


@pytest.mark.parametrize("sink", ["path", "snapshot_table"])
def test_corrupt_file_is_quarantined_and_the_stream_moves_on(spark, tmp_path, sink):
    """A non-Parquet landing file is quarantined like the batch pipeline
    does it: the healthy files of its micro-batch commit, a re-run adds
    nothing, and later files still stream."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable

    landing = tmp_path / "landing"
    cfg = _cfg(tmp_path)
    table = None if sink == "path" else SnapshotTable(str(tmp_path / "consumer_tbl"))
    ckpt = str(tmp_path / "ckpt_yellow")

    def consumer_months() -> list[int]:
        if table is None:
            df = spark.read.parquet(cfg.consumer_dir)
        else:
            df = table.read(spark)
        return sorted(r.trip_month for r in df.select("trip_month").collect())

    _write(_yellow(4), landing_key(landing, "yellow", 2023, 4))
    bad = landing_key(landing, "yellow", 2023, 5)
    bad.parent.mkdir(parents=True, exist_ok=True)
    bad.write_bytes(b"this is not parquet")
    qlog = landing / "_quarantine.jsonl"

    # run 1: April commits, May's batch directory is quarantined
    incremental_process(spark, cfg, "yellow", ckpt, consumer_table=table)
    assert consumer_months() == [4, 4]
    entries = [json.loads(line) for line in qlog.read_text().splitlines()]
    assert [e["path"] for e in entries] == [str(bad.parent)]

    # run 2: nothing new, nothing raised, nothing added
    incremental_process(spark, cfg, "yellow", ckpt, consumer_table=table)
    assert consumer_months() == [4, 4]
    assert len(qlog.read_text().splitlines()) == 1

    # run 3: a healthy June is appended, and only June
    _write(_yellow(6), landing_key(landing, "yellow", 2023, 6))
    incremental_process(spark, cfg, "yellow", ckpt, consumer_table=table)
    assert consumer_months() == [4, 4, 6, 6]
    assert spark.read.parquet(cfg.dlq_dir).count() == 6


def test_checkpoint_of_a_parquet_discovery_stream_resumes(spark, tmp_path):
    """A checkpoint written by a discovery stream that read the landing
    files as Parquet and projected to ``input_file_name()`` resumes under
    the file-listing discovery: files it recorded are not served again."""
    landing = tmp_path / "landing"
    cfg = _cfg(tmp_path)
    ckpt = str(tmp_path / "ckpt_yellow")
    _write(_yellow(4), landing_key(landing, "yellow", 2023, 4))

    q = (
        spark.readStream.schema("VendorID long")
        .option("recursiveFileLookup", "true")
        .parquet(str(landing / "trip_type=yellow"))
        .select(F.input_file_name().alias("path"))
        .writeStream.foreachBatch(lambda df, batch_id: None)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    _write(_yellow(5), landing_key(landing, "yellow", 2023, 5))
    incremental_process(spark, cfg, "yellow", ckpt)
    consumer = spark.read.parquet(cfg.consumer_dir).select("trip_month")
    assert sorted(r.trip_month for r in consumer.collect()) == [5, 5]


def test_incremental_reads_the_batch_runs_files_only(spark, tmp_path):
    """The incremental run consumes exactly the landing files the batch
    run reads: a Parquet file placed directly under ``trip_type=<fleet>/``
    (not inside a ``partition_date=`` batch) is ignored by both."""
    from nyc_taxi_data_pipeline_elt_spark.pipeline import process_trips

    landing = tmp_path / "landing"
    _write(_yellow(4), landing_key(landing, "yellow", 2023, 4))
    _write(_yellow(5), landing / "trip_type=yellow" / "stray.parquet")

    def months(cfg) -> list[int]:
        df = spark.read.parquet(cfg.consumer_dir).select("trip_month")
        return sorted(r.trip_month for r in df.collect())

    batch = _cfg(tmp_path / "batch")
    batch.landing_dir = str(landing)
    process_trips(spark, batch, "yellow")
    incremental = _cfg(tmp_path / "incremental")
    incremental.landing_dir = str(landing)
    incremental_process(spark, incremental, "yellow", str(tmp_path / "ckpt"))
    assert months(batch) == months(incremental) == [4, 4]
    assert not (landing / "_quarantine.jsonl").exists()
