"""Snapshot-table reads planned from the log: building a read of the
table's own files starts no Spark job (the manifest's recorded schema
replaces footer inference, position sidecars have a fixed schema), an
evolved table's added columns appear on every read, and the change-feed
stream packs its replay artifacts into few partitions."""

from __future__ import annotations

import uuid
from pathlib import Path

import pytest
from pyspark.sql.datasource import InputPartition

from nyc_taxi_data_pipeline_elt_spark.sources import snapshot_datasource
from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
    SnapshotDataSource,
)
from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v").coalesce(1)


def _jobs_started(spark, build):
    """``build()``'s result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build a snapshot read")
    try:
        out = build()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def dml_table(spark, tmp_path_factory):
    """v0 append, v1 merge-on-read delete, v2 copy-on-write delete,
    v3 merge and v4 update with change data, v5 append."""
    table = SnapshotTable(str(tmp_path_factory.mktemp("log") / "tbl"))
    table.append(_df(spark, 0, 12))
    table.delete(spark, "id = 1", mode="merge-on-read")
    table.delete(spark, "id = 2")
    src = spark.createDataFrame([(3, 333), (50, 500)], "id long, v long")
    table.merge(spark, src, ["id"], change_data=True)
    table.update(spark, "id = 4", {"v": "v + 100"}, change_data=True)
    table.append(_df(spark, 12, 14))
    assert table.current_version() == 5
    assert table.snapshot().schema == (("id", "bigint"), ("v", "bigint"))
    return table


_LIVE_V1 = [(i, 2 * i) for i in range(12) if i != 1]
_LIVE_V5 = sorted(
    [(i, 2 * i) for i in range(5, 14) if i != 3 and i != 4]
    + [(0, 0), (3, 333), (4, 108), (50, 500)]
)
_FEED = sorted(
    [(i, 2 * i, "insert", 0) for i in range(12)]
    + [
        (1, 2, "delete", 1),
        (2, 4, "delete", 2),
        (3, 6, "update_preimage", 3),
        (3, 333, "update_postimage", 3),
        (50, 500, "insert", 3),
        (4, 8, "update_preimage", 4),
        (4, 108, "update_postimage", 4),
        (12, 24, "insert", 5),
        (13, 26, "insert", 5),
    ]
)
_CDF_COLS = ("id", "v", "_change_type", "_commit_version")


@pytest.mark.parametrize(
    "build, cols, expected",
    [
        (lambda s, t: t.read(s), ("id", "v"), _LIVE_V5),
        (lambda s, t: t.read(s, version=1), ("id", "v"), _LIVE_V1),
        (
            lambda s, t: t.read_changes(s, since_version=4),
            ("id", "v"),
            [(12, 24), (13, 26)],
        ),
        (
            # the tolerance flag masks the append's rows with the
            # in-range deletes' frozen positions
            lambda s, t: t.read_changes(
                s, since_version=-1, skip_change_commits=True
            ),
            ("id", "v"),
            [(i, 2 * i) for i in range(14) if i not in (1, 2)],
        ),
        (lambda s, t: t.read_changes_cdf(s, since_version=-1), _CDF_COLS, _FEED),
    ],
    ids=["read", "read_version", "read_changes", "read_changes_masked", "cdf"],
)
def test_building_a_read_starts_no_spark_job(
    spark, dml_table, build, cols, expected
):
    df, jobs = _jobs_started(spark, lambda: build(spark, dml_table))
    assert jobs == 0
    assert _rows(df, cols) == expected


def test_evolved_table_reads_added_column_every_time(spark, tmp_path):
    """Name evolution by appends: only v1's file holds ``tag``. Every
    read of a version at or after v1 returns ``tag`` (null-padded),
    whichever file the engine would list first, without ``merge_schema``."""
    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_df(spark, 0, 3))
    table.append(
        spark.range(3, 5).selectExpr("id", "id * 2 AS v", "'t' AS tag")
    )
    for lo in (5, 7, 9):
        table.append(_df(spark, lo, lo + 2))
    assert dict(table.snapshot().schema)["tag"] == "string"
    tagged = {3, 4}
    for v in range(1, 5):
        df = table.read(spark, version=v)
        assert "tag" in df.columns, f"v{v} lost the added column"
        got = {r["id"]: r["tag"] for r in df.collect()}
        assert {i for i, t in got.items() if t == "t"} == tagged
        assert all(t is None for i, t in got.items() if i not in tagged)
    changes = table.read_changes(spark, since_version=0)
    assert "tag" in changes.columns
    assert sorted(r["id"] for r in changes.collect()) == list(range(3, 11))
    assert "tag" in table.read_changes_cdf(spark, since_version=2).columns


@pytest.fixture()
def cdf_feed(spark, tmp_path):
    """12 replay artifacts: six single-file appends, then a merge-on-read
    delete matching one row in each file."""
    table = SnapshotTable(str(tmp_path / "tbl"))
    for k in range(6):
        table.append(_df(spark, 3 * k, 3 * k + 3))
    table.delete(spark, "id % 3 = 0", mode="merge-on-read")
    return table


def _cdf_reader(table):
    ds = SnapshotDataSource({"path": str(table.root), "readChangeFeed": "true"})
    return ds.streamReader(ds.schema())


def _served(reader, parts):
    return sorted(
        tuple(row[c] for c in _CDF_COLS)
        for p in parts
        for b in reader.read(p)
        for row in b.to_pylist()
    )


def test_cdf_stream_packs_artifacts_in_version_order(
    spark, cdf_feed, monkeypatch
):
    """One core: Spark's split rule puts every small artifact in one
    partition, in version order, serving exactly the per-artifact rows
    and the batch feed's."""
    monkeypatch.setattr(snapshot_datasource, "_planner_cores", lambda: 1)
    reader = _cdf_reader(cdf_feed)
    end = {"version": cdf_feed.current_version()}
    parts = reader.partitions({"version": -1}, end)
    assert len(parts) == 1
    arts = parts[0].value
    assert len(arts) == 12
    assert [a["version"] for a in arts] == sorted(a["version"] for a in arts)
    assert [a["kind"] for a in arts] == ["rows"] * 6 + ["frozen"] * 6
    packed = _served(reader, parts)
    assert packed == _served(reader, [InputPartition([a]) for a in arts])
    batch = cdf_feed.read_changes_cdf(spark, since_version=-1)
    assert packed == _rows(batch, _CDF_COLS)
    assert len(packed) == 18 + 6


@pytest.mark.parametrize(
    "cores, split_artifacts", [(4, None), (1, 3)], ids=["per_core", "split_bytes"]
)
def test_cdf_stream_split_keeps_order_and_artifacts(
    cdf_feed, monkeypatch, cores, split_artifacts
):
    """Four cores spread 12 small artifacts three to a task; so does one
    core under a split with room for three. Either way the partitions
    keep version order and lose or repeat no artifact."""
    monkeypatch.setattr(snapshot_datasource, "_planner_cores", lambda: 1)
    reader = _cdf_reader(cdf_feed)
    end = {"version": cdf_feed.current_version()}
    [whole] = reader.partitions({"version": -1}, end)
    monkeypatch.setattr(snapshot_datasource, "_planner_cores", lambda: cores)
    if split_artifacts:  # room for that many artifacts of a few KB each
        monkeypatch.setattr(
            snapshot_datasource,
            "_SPLIT_BYTES",
            split_artifacts * snapshot_datasource._OPEN_COST,
        )
    parts = reader.partitions({"version": -1}, end)
    assert [len(p.value) for p in parts] == [3, 3, 3, 3]
    assert [a for p in parts for a in p.value] == whole.value


def test_cdf_stream_writes_one_sink_file_per_packed_partition(
    spark, cdf_feed, tmp_path
):
    spark.dataSource.register(SnapshotDataSource)
    out = tmp_path / "sink"
    q = (
        spark.readStream.format("snapshot_table")
        .option("readChangeFeed", "true")
        .load(str(cdf_feed.root))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    # the stream planned in its own Python process, on this host's cores
    parts = _cdf_reader(cdf_feed).partitions(
        {"version": -1}, {"version": cdf_feed.current_version()}
    )
    assert len(list(Path(out).glob("part-*.parquet"))) == len(parts)
    # fewer tasks than artifacts unless every artifact gets its own core
    assert len(parts) < 12 or snapshot_datasource._planner_cores() >= 12
    got = _rows(spark.read.parquet(str(out)), _CDF_COLS)
    assert got == _rows(
        cdf_feed.read_changes_cdf(spark, since_version=-1), _CDF_COLS
    )
