"""One assertion suite over the three landing->consumer execution modes:

- batch ``pipeline.process_trips`` (dynamic partition overwrite)
- incremental ``streaming.incremental.incremental_process`` (file-discovery
  stream + reconcilable append)
- snapshot-committed (``consumer_table=SnapshotTable``, exactly-once)

On the same landing input — including the drift month, which gives the
batch read a second footer schema to conform — all three must produce the
same consumer table (rows and schema on the consumer contract columns) and
the same dead-letter rows."""

from __future__ import annotations

import pytest
from test_pipeline import _green, _write, _yellow

from nyc_taxi_data_pipeline_elt_spark.pipeline import PipelineConfig, process_trips
from nyc_taxi_data_pipeline_elt_spark.schemas import CONSUMER_COLUMNS
from nyc_taxi_data_pipeline_elt_spark.sources.ingest import landing_key
from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable
from nyc_taxi_data_pipeline_elt_spark.streaming.incremental import incremental_process

FLEETS = ["yellow", "green"]


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    d = tmp_path_factory.mktemp("landing_modes")
    # month 1 carries the float64 passenger_count drift (README.md:146):
    # every mode must survive it through per-file/per-batch conformance
    _write(_yellow(1, drift=True), landing_key(d, "yellow", 2023, 1))
    _write(_yellow(4), landing_key(d, "yellow", 2023, 4))
    _write(_green(5), landing_key(d, "green", 2023, 5))
    return d


def _cfg(landing, tmp_path, name: str) -> PipelineConfig:
    return PipelineConfig(
        landing_dir=str(landing),
        consumer_dir=str(tmp_path / name / "consumer"),
        reports_dir=str(tmp_path / name / "reports"),
        dlq_dir=str(tmp_path / name / "dlq"),
    )


def _run_batch(spark, cfg: PipelineConfig):
    for fleet in FLEETS:
        process_trips(spark, cfg, fleet)
    return spark.read.parquet(cfg.consumer_dir)


def _run_incremental(spark, cfg: PipelineConfig, tmp_path):
    for fleet in FLEETS:
        incremental_process(
            spark, cfg, fleet, str(tmp_path / f"ckpt_inc_{fleet}")
        )
    return spark.read.parquet(cfg.consumer_dir)


def _run_snapshot(spark, cfg: PipelineConfig, tmp_path):
    # one snapshot table per fleet: each fleet's stream numbers its batches
    # from 0, and commit_batch enforces exactly-once per table
    frames = []
    for fleet in FLEETS:
        table = SnapshotTable(f"{cfg.consumer_dir}_tbl_{fleet}")
        incremental_process(
            spark,
            cfg,
            fleet,
            str(tmp_path / f"ckpt_snap_{fleet}"),
            consumer_table=table,
        )
        frames.append(table.read(spark))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _run_snapshot_replace(spark, cfg: PipelineConfig):
    """Batch landing->consumer into ONE snapshot table via replace_where
    per fleet — the snapshot-committed equivalent of the reference's
    Delta partition-scoped overwrite (re-running a fleet replaces exactly
    that fleet's rows, atomically)."""
    from nyc_taxi_data_pipeline_elt_spark.pipeline import (
        landing_to_consumer,
        read_landing_conformed,
    )

    table = SnapshotTable(f"{cfg.consumer_dir}_replace_tbl")
    for _ in range(2):  # second pass proves replace idempotence
        for fleet in FLEETS:
            raw, _n = read_landing_conformed(spark, cfg.landing_dir, fleet)
            consumer, _dlq = landing_to_consumer(raw, fleet)
            table.replace_where(spark, consumer, {"trip_type": [fleet]})
    return table.read(spark)


def _canon(df):
    proj = df.select(*CONSUMER_COLUMNS)
    rows = sorted(map(tuple, proj.collect()), key=repr)
    return [(f.name, f.dataType.simpleString()) for f in proj.schema.fields], rows


def test_three_modes_produce_identical_consumer_tables(spark, landing, tmp_path):
    batch = _canon(_run_batch(spark, _cfg(landing, tmp_path, "batch")))
    inc_cfg = _cfg(landing, tmp_path, "inc")
    inc = _canon(_run_incremental(spark, inc_cfg, tmp_path))
    snap_cfg = _cfg(landing, tmp_path, "snap")
    snap = _canon(_run_snapshot(spark, snap_cfg, tmp_path))

    assert batch[0] == inc[0] == snap[0], "consumer schema diverged"
    assert batch[1] == inc[1] == snap[1], "consumer rows diverged"
    assert len(batch[1]) > 0

    repl = _canon(
        _run_snapshot_replace(spark, _cfg(landing, tmp_path, "replace"))
    )
    assert repl == batch, "replace_where mode diverged from batch"

    # dead-letter parity on the shared columns (incremental adds _batch_id)
    batch_dlq = spark.read.parquet(_cfg(landing, tmp_path, "batch").dlq_dir)
    inc_dlq = spark.read.parquet(inc_cfg.dlq_dir)
    shared = [c for c in batch_dlq.columns]
    assert sorted(
        map(tuple, batch_dlq.select(*shared).collect()), key=repr
    ) == sorted(map(tuple, inc_dlq.select(*shared).collect()), key=repr)


def test_multibatch_drain_matches_single_batch(spark, landing, tmp_path):
    """maxFilesPerTrigger=1 drains the yellow backlog as one commit per
    file (distinct batch ids, one snapshot version each) and still lands
    exactly the single-batch result — exactly-once across a batch
    SEQUENCE, not just a single batch."""
    cfg = _cfg(landing, tmp_path, "multibatch")
    table = SnapshotTable(f"{cfg.consumer_dir}_tbl")
    incremental_process(
        spark,
        cfg,
        "yellow",
        str(tmp_path / "ckpt_multi"),
        consumer_table=table,
        max_files_per_trigger=1,
    )
    versions = [s.version for s in table.history()]
    assert len(versions) == 2  # two yellow landing files -> two commits
    multi = table.read(spark)
    batch_ids = {r._batch_id for r in multi.select("_batch_id").distinct().collect()}
    assert len(batch_ids) == 2

    single_cfg = _cfg(landing, tmp_path, "singlebatch")
    single_table = SnapshotTable(f"{single_cfg.consumer_dir}_tbl")
    incremental_process(
        spark,
        single_cfg,
        "yellow",
        str(tmp_path / "ckpt_single"),
        consumer_table=single_table,
    )
    key = lambda df: sorted(  # noqa: E731
        map(tuple, df.select(*CONSUMER_COLUMNS).collect()), key=repr
    )
    assert key(multi) == key(single_table.read(spark))


def test_incremental_rerun_is_noop_all_sinks(spark, landing, tmp_path):
    """Re-running either incremental mode over an unchanged landing dir
    must add nothing — discovery is checkpointed, commits are per-batch."""
    cfg = _cfg(landing, tmp_path, "rerun")
    table = SnapshotTable(f"{cfg.consumer_dir}_tbl")
    ckpt = str(tmp_path / "ckpt_rerun")
    incremental_process(spark, cfg, "yellow", ckpt, consumer_table=table)
    v1 = table.current_version()
    n1 = table.read(spark).count()
    incremental_process(spark, cfg, "yellow", ckpt, consumer_table=table)
    assert table.current_version() == v1
    assert table.read(spark).count() == n1
