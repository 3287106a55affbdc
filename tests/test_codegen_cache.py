"""Steady-state code generation: a repeated snapshot-table DML cycle
compiles each generated class once per session.

Spark keeps the classes Janino compiles in one LRU cache per JVM
(``spark.sql.codegen.cache.maxEntries``). One pass of the benchmark's
``snapshot_dml`` op sequence generates more distinct classes than Spark's
default 100 entries, and it uses them in the same order every pass, so at
that size every class is evicted before its next use and every pass
recompiles them all. ``session.get_spark`` sizes the cache to hold them;
a third pass then compiles nothing.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_elt_spark import session
from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import SnapshotDataSource
from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable

ROWS = 400
TRIPS = (
    "id AS trip_id",
    "CAST(id * 37 % 265 AS INT) AS zone",
    "ROUND(id % 97 * 0.75 + 3.0, 2) AS fare",
    "CAST(id % 4 + 1 AS INT) AS passengers",
    "CASE WHEN id % 11 = 0 THEN 'refunded' ELSE 'ok' END AS status",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A change-feed-enabled base table of 4 trip_id-ranged files, the
    append batch and the merge source (5% of keys updated, 20 new)."""
    root = tmp_path_factory.mktemp("codegen")
    trips = spark.range(ROWS).selectExpr(*TRIPS)
    table = SnapshotTable(str(root / "table"))
    table.append(trips.repartitionByRange(4, "trip_id"))
    table.set_property("delta.enableChangeDataFeed", "true")
    spark.range(ROWS, ROWS + 20).selectExpr(*TRIPS).write.parquet(
        str(root / "append.parquet")
    )
    upd = trips.filter("trip_id % 20 = 3").selectExpr(
        "trip_id", "zone", "fare + 2.5 AS fare", "passengers", "'disputed' AS status"
    )
    upd.unionByName(
        spark.range(ROWS + 20, ROWS + 40).selectExpr(*TRIPS)
    ).write.parquet(str(root / "merge.parquet"))
    spark.dataSource.register(SnapshotDataSource)
    return root


def _pass(spark, base, work) -> None:
    """One pass of the snapshot_dml op sequence on a fresh copy of the
    base table."""
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(base / "table", work / "table")
    t = SnapshotTable(str(work / "table"))
    v0 = t.current_version()
    t.append(spark.read.parquet(str(base / "append.parquet")))
    t.merge(
        spark, spark.read.parquet(str(base / "merge.parquet")), ["trip_id"],
        when_matched="update", when_not_matched="insert",
    )
    t.delete(spark, "trip_id >= 60 AND trip_id < 68")
    t.update(spark, "zone <= 13", {"fare": "fare + 1.0"})
    t.delete(spark, "zone >= 250", mode="merge-on-read")
    t.update(spark, "trip_id >= 280 AND trip_id < 288", {"status": "'adjusted'"},
             mode="merge-on-read")
    t.optimize(spark, zorder_by=["zone", "trip_id"], target_files=4)
    live = t.detail()["num_rows"]
    for band in ("trip_id >= 160 AND trip_id < 173", "zone >= 40 AND zone < 60"):
        spark.read.format("snapshot_table").load(str(t.root)).filter(band).agg(
            F.count("*"), F.sum("fare"), F.sum("passengers")
        ).collect()
    assert t.read(spark).agg(F.count("*")).first()[0] == live
    changes = {
        r[0]: r[1]
        for r in t.read_changes_cdf(spark, since_version=v0)
        .groupBy("_change_type").count().collect()
    }
    assert changes["insert"] == 40 and changes["delete"] > 0
    q = (
        spark.readStream.format("snapshot_table")
        .option("readChangeFeed", "true")
        .load(str(t.root))
        .writeStream.format("parquet")
        .option("path", str(work / "stream"))
        .option("checkpointLocation", str(work / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow stream did not finish"
    assert spark.read.parquet(str(work / "stream")).count() == ROWS + sum(changes.values())


def test_get_spark_sizes_the_codegen_cache(spark):
    """A builder-only static conf: get_spark sets it, tune() does not."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    assert "spark.sql.codegen.cache.maxEntries" not in session.RUNTIME_CONFS


def test_third_dml_pass_compiles_nothing(spark, base, tmp_path):
    counts = []
    for i in range(3):
        c0 = _compiles(spark)
        _pass(spark, base, tmp_path / f"pass{i}")
        counts.append(_compiles(spark) - c0)
    assert counts[2] == 0, f"classes compiled per pass: {counts}"
