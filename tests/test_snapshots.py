"""Snapshot-table protocol tests: atomic commit, snapshot isolation,
time travel, gap-free compaction, vacuum retention, idempotent streaming
batch commits, and optimistic-concurrency conflict detection."""

from __future__ import annotations

import json
import re
import uuid

import pytest

from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
    CommitConflict,
    SnapshotTable,
)


@pytest.fixture()
def table(tmp_path):
    return SnapshotTable(str(tmp_path / "tbl"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_append_accumulates_and_read_sees_all(spark, table):
    table.append(_df(spark, 0, 10))
    table.append(_df(spark, 10, 15))
    assert table.read(spark).count() == 15
    assert table.current_version() == 1


def test_overwrite_replaces_and_time_travel_preserves(spark, table):
    table.append(_df(spark, 0, 10))
    table.overwrite(_df(spark, 100, 103))
    assert table.read(spark).count() == 3
    # v0 still resolves after the overwrite: snapshot isolation
    assert table.read(spark, version=0).count() == 10
    assert [s.op for s in table.history()] == ["append", "overwrite"]


def test_compact_keeps_rows_and_old_snapshots_readable(spark, table):
    for lo in range(0, 40, 10):
        table.append(_df(spark, lo, lo + 10))
    before = table.snapshot()
    snap = table.compact(spark, target_files=2)
    assert snap.op == "compact"
    assert len(snap.files) <= 2 < len(before.files)
    got = sorted(r.id for r in table.read(spark).collect())
    assert got == list(range(40))
    # the pre-compaction snapshot still reads (no directory swap)
    assert table.read(spark, version=before.version).count() == 40


def test_vacuum_reclaims_unreferenced_files_only(spark, table):
    table.append(_df(spark, 0, 10))
    table.overwrite(_df(spark, 0, 5))
    removed = table.vacuum(keep_versions=1, grace_seconds=0.0)
    assert removed, "v0's files should be reclaimed"
    assert table.read(spark).count() == 5
    with pytest.raises(FileNotFoundError):
        table.snapshot(0)  # manifest pruned with its files


def test_commit_batch_is_idempotent_on_replay(spark, table):
    assert table.commit_batch(_df(spark, 0, 10), batch_id=7) is not None
    # retried foreachBatch delivers the same batch id again
    assert table.commit_batch(_df(spark, 0, 10), batch_id=7) is None
    assert table.read(spark).count() == 10


def test_concurrent_commit_conflict(spark, table, monkeypatch):
    """A racing writer's published manifest owns the slot. A writer
    whose basis is stale loses it: with retries=0 the conflict surfaces
    (strict first-writer-wins), and the racer's commit — current the
    moment it is in the log, whatever the ``_current`` hint says — is
    what the next append builds on."""
    table.append(_df(spark, 0, 5))
    # a racing writer takes version 1 (its hint write never happened)
    (table.manifest_dir / "v00000001.json").write_text(json.dumps({
        "version": 1, "files": [], "op": "append", "parent": 0, "ts": 0.0,
    }))
    real = SnapshotTable.current_version
    monkeypatch.setattr(SnapshotTable, "current_version", lambda self: 0)
    with pytest.raises(CommitConflict):
        table.append(_df(spark, 5, 10), retries=0)
    monkeypatch.setattr(SnapshotTable, "current_version", real)
    # the racer's snapshot (an inline manifest declaring files=[], i.e.
    # an overwrite-to-empty) is current, and the next append rebases on
    # top of it
    assert table.current_version() == 1
    snap = table.append(_df(spark, 5, 10))
    assert snap.version == 2
    assert table.read(spark).count() == 5  # the racer's commit emptied v1


def test_streaming_foreachbatch_exactly_once(spark, tmp_path, table):
    """End-to-end: file-discovery stream -> foreachBatch -> commit_batch.
    A replayed batch (same batch_id, as after a foreachBatch retry) must
    not double-append, and a second availableNow run with no new files
    must commit nothing."""
    src = tmp_path / "src"
    _df(spark, 0, 10).write.parquet(str(src / "a"))
    _df(spark, 10, 30).write.parquet(str(src / "b"))

    seen: list[int] = []

    def handle(batch_df, batch_id):
        seen.append(batch_id)
        table.commit_batch(batch_df, batch_id)

    def run():
        q = (
            spark.readStream.schema("id long, v long")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    assert table.read(spark).count() == 30
    n_versions = len(table.history())

    # simulate the retry path: foreachBatch redelivers an already-
    # committed batch id after a sink-side failure
    table.commit_batch(_df(spark, 0, 10), batch_id=seen[0])
    assert table.read(spark).count() == 30

    # no new files -> checkpoint delivers nothing -> no new snapshots
    run()
    assert len(table.history()) == n_versions
    assert table.read(spark).count() == 30


def test_uncommitted_writes_invisible_then_vacuumed(spark, table):
    table.append(_df(spark, 0, 10))
    # a crashed writer: data landed, no manifest committed
    orphan, _stats = table._write_data(_df(spark, 99, 120))
    assert table.read(spark).count() == 10  # invisible to readers
    removed = table.vacuum(keep_versions=1, grace_seconds=0.0)
    assert set(orphan) <= set(removed)
    assert table.read(spark).count() == 10


def test_change_feed_returns_only_the_delta(spark, table):
    table.append(_df(spark, 0, 10))     # v0
    table.append(_df(spark, 10, 15))    # v1
    table.append(_df(spark, 15, 22))    # v2
    delta = table.read_changes(spark, since_version=0)
    assert sorted(r.id for r in delta.collect()) == list(range(10, 22))
    only_v1 = table.read_changes(spark, since_version=0, until_version=1)
    assert sorted(r.id for r in only_v1.collect()) == list(range(10, 15))
    # metadata-only: empty range yields an empty frame with the schema
    none = table.read_changes(spark, since_version=2)
    assert none.count() == 0 and none.columns == ["id", "v"]


def test_change_feed_skips_compaction_rejects_overwrite(spark, table):
    table.append(_df(spark, 0, 10))     # v0
    table.compact(spark, target_files=1)  # v1: rewrite, no logical change
    table.append(_df(spark, 10, 12))    # v2
    delta = table.read_changes(spark, since_version=0)
    assert sorted(r.id for r in delta.collect()) == [10, 11]
    table.overwrite(_df(spark, 0, 3))   # v3
    with pytest.raises(ValueError, match="non-append"):
        table.read_changes(spark, since_version=0)


def test_schema_evolution_reads_union_schema(spark, table):
    table.append(_df(spark, 0, 5))
    evolved = spark.range(5, 8).selectExpr(
        "id", "id * 2 AS v", "CAST(id AS STRING) AS tag"
    )
    table.append(evolved)
    merged = table.read(spark, merge_schema=True)
    assert set(merged.columns) == {"id", "v", "tag"}
    rows = {r.id: r.tag for r in merged.collect()}
    assert rows[6] == "6" and rows[0] is None
    # change feed carries the evolved schema too
    delta = table.read_changes(spark, since_version=0, merge_schema=True)
    assert set(delta.columns) == {"id", "v", "tag"}


def test_replace_where_keeps_null_predicate_rows(spark, table):
    """Rows whose predicate column is NULL inside a rewritten file can
    never match the predicate, so they must survive the rewrite (Delta
    semantics); and replacement rows with NULL predicate columns must be
    rejected by the constraint — both need null-safe predicates."""
    base = spark.createDataFrame(
        [(1, 10), (None, 20), (2, 30)], "m int, v int"
    ).coalesce(1)
    table.append(base)
    table.replace_where(
        spark,
        spark.createDataFrame([(1, 11)], "m int, v int"),
        {"m": [1]},
    )
    rows = {r.v for r in table.read(spark).collect()}
    assert rows == {11, 20, 30}  # the NULL-m row (v=20) survived
    with pytest.raises(ValueError, match="not matching"):
        table.replace_where(
            spark,
            spark.createDataFrame([(None, 99)], "m int, v int"),
            {"m": [2]},
        )


def test_python_datasource_schema_evolution(spark, table):
    """The connector's schema() unions footers across manifest files, so
    columns added by later appends are visible and pre-evolution files
    are null-padded — parity with read(merge_schema=True)."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
    )

    spark.dataSource.register(SnapshotDataSource)
    table.append(_df(spark, 0, 5))
    table.append(
        spark.range(5, 8).selectExpr("id", "id * 2 AS v", "CAST(id AS STRING) AS tag")
    )
    df = spark.read.format("snapshot_table").load(str(table.root))
    assert set(df.columns) == {"id", "v", "tag"}
    rows = {r.id: r.tag for r in df.collect()}
    assert rows[6] == "6" and rows[0] is None


def test_process_changes_chains_tables_exactly_once(spark, tmp_path):
    """Incremental consumer: source-table deltas flow into a downstream
    snapshot table with version-as-batch-id idempotence — replays after a
    'crash' (checkpoint deleted) cannot double-append."""
    src = SnapshotTable(str(tmp_path / "src"))
    dst = SnapshotTable(str(tmp_path / "dst"))
    ck = str(tmp_path / "consumer.ckpt")

    def copy(df, version):
        dst.commit_batch(df, batch_id=version)

    src.append(_df(spark, 0, 10))           # v0
    assert src.process_changes(spark, ck, copy) == 0
    src.append(_df(spark, 10, 15))          # v1
    src.append(_df(spark, 15, 18))          # v2
    assert src.process_changes(spark, ck, copy) == 2
    assert dst.read(spark).count() == 18
    # idle call: one pointer read, no work
    assert src.process_changes(spark, ck, copy) is None
    # crash before checkpoint write -> replay is absorbed by the batch id
    import os as _os

    _os.remove(ck)
    assert src.process_changes(spark, ck, copy) == 2
    assert dst.read(spark).count() == 18


@pytest.mark.parametrize("consumer", ["process_changes", "process_changes_cdf"])
def test_consumer_checkpoint_that_does_not_parse_raises(
    spark, table, tmp_path, consumer
):
    """A corrupt consumer checkpoint raises, naming its path, instead of
    replaying the whole feed into the consumer as new rows."""
    table.append(_df(spark, 0, 3))
    ck = tmp_path / "consumer.ckpt"
    ck.write_text("v0\n")
    seen = []
    with pytest.raises(ValueError, match=re.escape(str(ck))):
        getattr(table, consumer)(spark, str(ck), lambda df, v: seen.append(v))
    assert seen == [] and ck.read_text() == "v0\n"


@pytest.mark.parametrize("consumer", ["process_changes", "process_changes_cdf"])
def test_consumer_checkpoint_past_the_table_raises(
    spark, table, tmp_path, consumer
):
    """A checkpoint above the table's current version (another table's,
    or a recreated table's) raises instead of idling forever."""
    table.append(_df(spark, 0, 3))
    ck = tmp_path / "consumer.ckpt"
    ck.write_text("5")
    with pytest.raises(ValueError, match=re.escape(str(ck))):
        getattr(table, consumer)(spark, str(ck), lambda df, v: None)


def test_python_datasource_reads_snapshots(spark, table, tmp_path):
    """spark.read.format('snapshot_table') resolves the manifest at plan
    time: current version by default, any version via time travel, one
    input partition per committed file."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
    )

    spark.dataSource.register(SnapshotDataSource)
    table.append(_df(spark, 0, 10))     # v0
    table.append(_df(spark, 10, 15))    # v1
    cur = (
        spark.read.format("snapshot_table").load(str(table.root))
    )
    assert cur.count() == 15
    assert sorted(cur.columns) == ["id", "v"]
    assert cur.agg({"v": "sum"}).first()[0] == sum(2 * i for i in range(15))
    v0 = (
        spark.read.format("snapshot_table")
        .option("version", 0)
        .load(str(table.root))
    )
    assert v0.count() == 10


def test_python_datasource_pushes_filters_and_prunes_files(spark, table):
    """Pushed conjuncts are applied exactly by the connector (pyarrow
    row-level) and their min/max envelopes prune whole files at planning
    time: filtering to the second append's key range leaves one input
    partition."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
    )

    spark.dataSource.register(SnapshotDataSource)
    table.append(_df(spark, 0, 10).coalesce(1))    # file A: ids 0..9
    table.append(_df(spark, 10, 20).coalesce(1))   # file B: ids 10..19
    df = spark.read.format("snapshot_table").load(str(table.root))
    hit = df.filter("id >= 15")
    assert sorted(r.id for r in hit.collect()) == list(range(15, 20))
    # file A (max id 9) is pruned at planning time
    assert hit.rdd.getNumPartitions() == 1
    both = df.filter("v < 25")  # ids 0..12 span both files
    assert both.rdd.getNumPartitions() == 2
    assert both.count() == 13


def test_python_datasource_footer_envelopes_match_manifest_stats(
    spark, table
):
    """A manifest without stats (a legacy commit) plans pushed filters
    from the file footers through the commit's own stats reader, so
    the Data Source prunes the same files and returns the same rows as
    with the manifest stats — numeric and TIMESTAMP_NTZ wall-time
    envelopes alike."""
    import datetime as dt

    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
    )

    def ntz_df(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "make_timestamp_ntz(2023, 1, CAST(id AS INT), 0, 0, 0) AS tsn",
            "id AS v",
        ).coalesce(1)

    spark.dataSource.register(SnapshotDataSource)
    table.append(ntz_df(1, 10))    # Jan 1-9 wall, v 1..9
    table.append(ntz_df(20, 28))   # Jan 20-27 wall, v 20..27
    cases = [
        ("v >= 22", GreaterThanOrEqual(("v",), 22)),
        (
            "tsn >= timestamp_ntz'2023-01-25 00:00:00'",
            GreaterThanOrEqual(("tsn",), dt.datetime(2023, 1, 25)),
        ),
        (
            "tsn < timestamp_ntz'2023-01-05 00:00:00'",
            LessThan(("tsn",), dt.datetime(2023, 1, 5)),
        ),
    ]

    def plan():
        ds = SnapshotDataSource({"path": str(table.root)})
        files, rows = [], []
        for sql, pushed in cases:
            reader = ds.reader(ds.schema())
            assert not list(reader.pushFilters([pushed]))
            files.append(sorted(p.value for p in reader.partitions()))
            hit = spark.read.format("snapshot_table").load(
                str(table.root)
            ).filter(sql)
            rows.append(sorted(r.v for r in hit.collect()))
        return files, rows

    with_stats = plan()
    assert all(len(f) == 1 for f in with_stats[0]), "setup: no pruning"
    assert with_stats[1] == [
        list(range(22, 28)), list(range(25, 28)), [1, 2, 3, 4]
    ]
    for m in table.manifest_dir.glob("v*.json"):
        raw = json.loads(m.read_text())
        for k in ("stats", "stats_add"):
            if k in raw:
                raw[k] = {}
        m.write_text(json.dumps(raw))
    assert not table.snapshot().stats
    assert plan() == with_stats


def test_commit_records_manifest_stats(spark, table):
    """Commits record per-file column min/max in the manifest, so readers
    prune files from metadata alone; appends inherit the parent's stats
    for untouched files."""
    table.append(_df(spark, 0, 10).coalesce(1))
    table.append(_df(spark, 10, 20).coalesce(1))
    snap = table.snapshot()
    assert set(snap.stats) == set(snap.files)
    envs = sorted(s["id"] for s in snap.stats.values())
    assert envs == [[0, 9], [10, 19]]
    # manifest JSON is the durable carrier — since the delta-log change,
    # a post-v0 append carries its OWN files' stats as stats_add
    raw = json.loads(
        (table.manifest_dir / f"v{snap.version:08d}.json").read_text()
    )
    assert raw["stats_add"]


def test_replace_where_rewrites_only_intersecting_files(spark, table):
    """Predicate-scoped overwrite: files whose stats envelope excludes
    the replaced values are carried over VERBATIM (same path, no
    rewrite); only intersecting files are scrubbed and rewritten."""
    def month_df(m, lo, hi):
        return spark.range(lo, hi).selectExpr("id", f"{m} AS trip_month").coalesce(1)

    table.append(month_df(1, 0, 10))    # file A: month 1
    table.append(month_df(2, 10, 20))   # file B: month 2
    before = table.snapshot()
    file_a = next(
        f for f in before.files if before.stats[f]["trip_month"] == [1, 1]
    )

    table.replace_where(spark, month_df(2, 100, 105), {"trip_month": [2]})
    after = table.snapshot()
    assert after.op == "replace"
    assert file_a in after.files  # month-1 file untouched, not rewritten
    got = table.read(spark)
    assert sorted(r.id for r in got.filter("trip_month = 2").collect()) == list(
        range(100, 105)
    )
    assert got.filter("trip_month = 1").count() == 10
    # change feed correctly refuses to cross the rewrite
    with pytest.raises(ValueError, match="non-append"):
        table.read_changes(spark, since_version=0)


def test_replace_where_scrubs_straddling_files(spark, table):
    """A file containing BOTH replaced and kept rows is read back,
    scrubbed of the replaced rows, and rewritten — no kept row is lost."""
    mixed = spark.createDataFrame(
        [(i, 1 if i % 2 == 0 else 2) for i in range(10)], "id long, trip_month int"
    ).coalesce(1)
    table.append(mixed)
    table.replace_where(
        spark,
        spark.createDataFrame([(99, 2)], "id long, trip_month int"),
        {"trip_month": [2]},
    )
    got = table.read(spark)
    assert sorted(r.id for r in got.filter("trip_month = 1").collect()) == [
        0, 2, 4, 6, 8,
    ]
    assert [r.id for r in got.filter("trip_month = 2").collect()] == [99]


def test_replace_where_rejects_nonmatching_replacement(spark, table):
    """Replacement rows outside the predicate would silently coexist with
    their old versions — reject them up front (Delta's constraint)."""
    table.append(
        spark.createDataFrame([(1, 1)], "id long, trip_month int")
    )
    with pytest.raises(ValueError, match="not matching"):
        table.replace_where(
            spark,
            spark.createDataFrame([(9, 3)], "id long, trip_month int"),
            {"trip_month": [2]},
        )


def test_merge_upserts_in_one_commit(spark, table):
    """MERGE update+insert: matched rows take the source version,
    unmatched source rows are inserted, everything lands as ONE snapshot
    commit with op=merge."""
    table.append(_df(spark, 0, 5))  # v = id * 2
    src = spark.createDataFrame([(2, 999), (7, 777)], "id long, v long")
    snap = table.merge(spark, src, ["id"])
    assert snap.op == "merge"
    got = {r.id: r.v for r in table.read(spark).collect()}
    assert got[2] == 999 and got[7] == 777
    assert got[0] == 0 and got[4] == 8  # untouched rows carried
    assert len(got) == 6
    # previous snapshot still reads the pre-merge state (time travel)
    old = {r.id: r.v for r in table.read(spark, version=snap.version - 1).collect()}
    assert old[2] == 4 and 7 not in old


def test_merge_delete_and_update_only(spark, table):
    table.append(_df(spark, 0, 5))
    table.merge(
        spark,
        spark.createDataFrame([(1,), (3,)], "id long").selectExpr("id", "0L AS v"),
        ["id"],
        when_matched="delete",
        when_not_matched=None,
    )
    assert sorted(r.id for r in table.read(spark).collect()) == [0, 2, 4]
    # update-only: the unmatched source row (id=9) must NOT be inserted
    table.merge(
        spark,
        spark.createDataFrame([(2, 22), (9, 99)], "id long, v long"),
        ["id"],
        when_not_matched=None,
    )
    got = {r.id: r.v for r in table.read(spark).collect()}
    assert got == {0: 0, 2: 22, 4: 8}


def test_merge_prunes_disjoint_files_by_stats(spark, table):
    """A CDC batch whose key range misses a file's [min, max] envelope
    carries that file verbatim — same path in the new manifest."""
    table.append(spark.range(0, 10).selectExpr("id", "id AS v").coalesce(1))
    table.append(spark.range(100, 110).selectExpr("id", "id AS v").coalesce(1))
    before = table.snapshot()
    low_file = next(f for f in before.files if before.stats[f]["id"][0] == 0)
    table.merge(
        spark, spark.createDataFrame([(105, -1)], "id long, v long"), ["id"]
    )
    after = table.snapshot()
    assert low_file in after.files  # disjoint file untouched
    got = {r.id: r.v for r in table.read(spark).collect()}
    assert got[105] == -1 and got[3] == 3 and len(got) == 20


@pytest.mark.parametrize("change_data", [False, True])
def test_merge_keeps_range_layout_for_later_pruning(spark, table, change_data):
    """A merge rewrites the touched files without reshuffling them by key:
    after a 5% upsert into a 4-file range-laid table, a delete on a band
    inside one original file removes only that band's rewritten file and
    the one incoming file (a range-split source partition) for the band."""
    table.append(
        spark.range(8000).selectExpr("id AS k", "id AS v").repartitionByRange(4, "k")
    )
    table.merge(
        spark,
        spark.range(0, 8000, 20, numPartitions=8).selectExpr("id AS k", "-id AS v"),
        ["k"],
        change_data=change_data,
    )
    snap = table.delete(spark, "k >= 6000 AND k < 6800")
    assert snap.metrics["num_removed_files"] == 2
    assert table.read(spark).count() == 7200


def test_merge_rejects_ambiguous_source(spark, table):
    table.append(_df(spark, 0, 5))
    dup = spark.createDataFrame([(1, 10), (1, 11)], "id long, v long")
    with pytest.raises(ValueError, match="multiple rows"):
        table.merge(spark, dup, ["id"])


def test_merge_into_empty_table_inserts(spark, table):
    snap = table.merge(
        spark, spark.createDataFrame([(1, 10)], "id long, v long"), ["id"]
    )
    assert snap.op == "merge" and snap.version == 0
    assert table.read(spark).count() == 1


def test_commit_batch_replay_check_is_manifest_local(spark, table):
    """The cumulative batch-id set rides in every manifest, including
    across non-batch commits, so replay detection never re-reads history."""
    table.commit_batch(_df(spark, 0, 5), batch_id=0)
    table.append(_df(spark, 5, 10))            # non-batch commit carries set
    table.compact(spark, target_files=1)       # so does compaction
    assert table.snapshot().batch_ids == (0,)
    assert table.commit_batch(_df(spark, 0, 5), batch_id=0) is None
    assert table.read(spark).count() == 10


def _xy(spark, n=4096, files=4):
    """n rows of two INDEPENDENT uniform dims, hash-scattered across
    ``files`` files so every file's (x, y) envelope spans ~the whole
    domain — the layout on which per-file min/max skipping prunes
    nothing."""
    return (
        spark.range(n)
        .selectExpr(
            "CAST(conv(substr(md5(CAST(id AS STRING)), 1, 4), 16, 10) "
            "  AS BIGINT) % 1024 AS x",
            "CAST(conv(substr(md5(CAST(id AS STRING)), 5, 4), 16, 10) "
            "  AS BIGINT) % 1024 AS y",
            "id",
        )
        .repartition(files)
    )


def test_optimize_zorder_keeps_rows_and_is_feed_neutral(spark, table):
    table.append(_df(spark, 0, 20))      # v0
    table.append(_df(spark, 20, 30))     # v1
    snap = table.optimize(spark, zorder_by=["id"], target_files=2)
    assert snap.op == "optimize"
    got = sorted(r.id for r in table.read(spark).collect())
    assert got == list(range(30))
    # pre-optimize snapshots still read (no directory swap)
    assert table.read(spark, version=0).count() == 20
    # the change feed skips the rewrite, exactly like compact
    table.append(_df(spark, 30, 33))     # v3
    delta = table.read_changes(spark, since_version=1)
    assert sorted(r.id for r in delta.collect()) == [30, 31, 32]
    with pytest.raises(ValueError, match=">=1 column"):
        table.optimize(spark, zorder_by=[])


def test_optimize_zorder_tightens_envelopes_and_prunes_2d(spark, table):
    """The point of z-ordering: on a scattered layout a 2-D box predicate
    prunes NOTHING (every file's envelope covers the box); after OPTIMIZE
    ZORDER BY (x, y) the same box through the snapshot_table datasource
    plans strictly fewer input partitions, with identical results."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
    )

    spark.dataSource.register(SnapshotDataSource)
    table.append(_xy(spark, n=4096, files=4))
    box = "x >= 256 AND x < 512 AND y >= 256 AND y < 512"
    pre = spark.read.format("snapshot_table").load(str(table.root)).filter(box)
    pre_rows = sorted(r.id for r in pre.collect())
    pre_files = pre.rdd.getNumPartitions()
    assert pre_files == 4, "scattered layout must defeat skipping"

    table.optimize(spark, zorder_by=["x", "y"], target_files=4)
    post = spark.read.format("snapshot_table").load(str(table.root)).filter(box)
    post_rows = sorted(r.id for r in post.collect())
    post_files = post.rdd.getNumPartitions()
    assert post_rows == pre_rows
    assert post_files < pre_files, (
        f"z-order should prune the quarter-domain box: {post_files} files"
    )


def test_optimize_zorder_nulls_and_degenerate_bounds(spark, table):
    """NULLs cluster in cell 0 and a constant column degenerates to a
    single cell — neither loses rows nor breaks the rewrite."""
    df = spark.createDataFrame(
        [(None, 1, 0), (5, 1, 1), (None, 1, 2), (9, 1, 3)],
        "x int, y int, id int",
    )
    table.append(df)
    table.optimize(spark, zorder_by=["x", "y"], target_files=2)
    got = table.read(spark)
    assert got.count() == 4
    assert got.filter("x IS NULL").count() == 2


def test_restore_rolls_back_and_preserves_history(spark, table):
    table.append(_df(spark, 0, 10))       # v0
    table.overwrite(_df(spark, 100, 103))  # v1: the "bad" commit
    snap = table.restore(0)                # v2
    assert snap.op == "restore"
    assert sorted(r.id for r in table.read(spark).collect()) == list(range(10))
    # history-preserving: the bad commit still time-travels
    assert table.read(spark, version=1).count() == 3
    # the feed treats restore like overwrite: lineage broken
    with pytest.raises(ValueError, match="non-append"):
        table.read_changes(spark, since_version=0)
    # restored files are live again: vacuum (which also retires old
    # manifests) keeps them and the current read is intact
    table.vacuum(keep_versions=1, grace_seconds=0.0)
    assert table.read(spark).count() == 10


def test_check_constraint_blocks_bad_writes_atomically(spark, table):
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        ConstraintViolation,
    )

    table.append(_df(spark, 0, 10))
    table.add_check_constraint(spark, "v_nonneg", "v >= 0")
    assert table.snapshot().constraints == {"v_nonneg": "v >= 0"}
    before = table.current_version()
    bad = spark.createDataFrame([(50, -1)], "id long, v long")
    with pytest.raises(ConstraintViolation, match="v_nonneg"):
        table.append(bad)
    # nothing committed, and the half-written files are gone
    assert table.current_version() == before
    assert table.vacuum(keep_versions=1, grace_seconds=0.0) == []
    assert table.read(spark).count() == 10
    # good writes pass; NULL passes (ANSI CHECK: only FALSE violates)
    table.append(spark.createDataFrame([(50, None)], "id long, v long"))
    assert table.read(spark).count() == 11
    # constraints ride the manifest: carried across compact + restore
    table.compact(spark, target_files=1)
    assert table.snapshot().constraints == {"v_nonneg": "v >= 0"}
    # metadata-only commits are invisible to the change feed
    v_pre = table.current_version()
    table.drop_constraint("v_nonneg")
    assert table.snapshot().constraints == {}
    assert table.read_changes(spark, since_version=v_pre).count() == 0


def test_add_constraint_validates_existing_rows(spark, table):
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        ConstraintViolation,
    )

    table.append(spark.createDataFrame([(1, -5)], "id long, v long"))
    with pytest.raises(ConstraintViolation, match="existing rows"):
        table.add_check_constraint(spark, "v_nonneg", "v >= 0")
    with pytest.raises(ValueError, match="no constraint"):
        table.drop_constraint("v_nonneg")


def test_restore_validates_active_constraints(spark, table):
    """A restore must not resurrect rows that violate a constraint added
    AFTER the restored version (the invariant is 'no committed file
    holds a violating row', and add_check_constraint only scanned the
    then-current files)."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        ConstraintViolation,
    )

    table.append(spark.createDataFrame([(1, -5)], "id long, v long"))  # v0
    table.overwrite(spark.createDataFrame([(2, 7)], "id long, v long"))  # v1
    table.add_check_constraint(spark, "v_nonneg", "v >= 0")  # v2: scans v1
    with pytest.raises(ValueError, match="requires spark"):
        table.restore(0)
    with pytest.raises(ConstraintViolation, match="restoring v0"):
        table.restore(0, spark)
    # a clean version restores fine, constraints carried
    table.restore(1, spark)
    assert table.snapshot().constraints == {"v_nonneg": "v >= 0"}


def test_restore_resets_batch_replay_set(spark, table):
    """Rolling back past a foreachBatch commit must make that batch
    re-landable: the cumulative batch_ids set is reset to the restored
    version's, so the replay is NOT skipped (data loss otherwise)."""
    table.append(_df(spark, 0, 5))                      # v0
    table.commit_batch(_df(spark, 5, 8), batch_id=1)    # v1
    table.restore(0)                                    # v2: batch 1 rolled back
    assert table.read(spark).count() == 5
    snap = table.commit_batch(_df(spark, 5, 8), batch_id=1)  # replay re-lands
    assert snap is not None
    assert sorted(r.id for r in table.read(spark).collect()) == list(range(8))
    # and a batch kept by the restore still dedupes
    assert table.commit_batch(_df(spark, 5, 8), batch_id=1) is None


def test_failed_replace_where_leaves_no_orphan_files(spark, table):
    """A replace_where whose REPLACEMENT violates a CHECK constraint
    must abort before writing the remainder: nothing new on disk beyond
    the committed snapshot (no uuid-dir litter awaiting vacuum)."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        ConstraintViolation,
    )

    table.append(spark.createDataFrame([(1, 3, 10)], "id long, part long, v long"))
    table.add_check_constraint(spark, "v_nonneg", "v >= 0")
    before = {str(p) for p in table.data_dir.rglob("*.parquet")}
    bad = spark.createDataFrame([(9, 3, -1)], "id long, part long, v long")
    with pytest.raises(ConstraintViolation):
        table.replace_where(spark, bad, column="part", values=[3])
    after = {str(p) for p in table.data_dir.rglob("*.parquet")}
    assert after == before
    assert table.read(spark).count() == 1


def test_distributed_stats_parity(spark, table):
    """VERDICT r7 task #1: the distributed stats pass must hand the
    manifest the SAME JSON as the serial driver collector —
    byte-identical, including key order."""
    table.stats_driver_max = 0  # force the distributed path
    df = spark.range(0, 2000).selectExpr(
        "id", "id * 2 AS v", "cast(id % 7 as double) AS d"
    ).repartition(20)
    snap = table.append(df)
    assert len(snap.files) >= 18
    serial = table._collect_stats(list(snap.files), spark=None)
    assert json.dumps(snap.stats, sort_keys=False) == json.dumps(
        serial, sort_keys=False
    )
    # and the stats actually prune: every file has id/v/d envelopes
    assert all(set(c) >= {"id", "v", "d"} for c in snap.stats.values())


def test_distributed_stats_no_driver_loop(spark, table, monkeypatch):
    """The driver must never loop over files on the distributed path:
    monkeypatching the per-file reader in the DRIVER process cannot
    reach the executor workers (separate processes re-import the real
    module), so stats still arrive while any driver-side call raises."""
    from nyc_taxi_data_pipeline_elt_spark.sources import snapshots as snapmod

    table.stats_driver_max = 0

    def _boom(abspath):
        raise AssertionError(f"driver-side footer read of {abspath}")

    monkeypatch.setattr(snapmod, "_file_stats", _boom)
    snap = table.append(_df(spark, 0, 500).repartition(8))
    assert snap.stats, "distributed pass should still collect stats"
    assert {"id", "v"} <= set(next(iter(snap.stats.values())))


def test_stats_prover_unit(verdict):
    """Envelope prover: sound on what Catalyst hands back, conservatively
    inconclusive everywhere else."""
    from pyspark.errors import AnalysisException

    def prove(p, st):
        return verdict(p, st, "v BIGINT, d DOUBLE, s STRING, b BOOLEAN")[1]

    st = {"v": [0, 9], "d": [1.5, 2.5], "s": ["a", "z"], "b": [True, True]}
    assert prove("v >= 0", st)
    assert not prove("v >= 1", st)          # lo=0 < 1: inconclusive
    assert prove("v <= 9", st)
    assert not prove("v < 9", st)
    assert prove("v > -1", st)
    assert prove("10 > v", st)              # flipped literal
    assert prove("v BETWEEN 0 AND 9", st)
    assert not prove("v BETWEEN 1 AND 9", st)
    assert prove("d >= 1.5", st)
    assert prove("v = 5", {"v": [5, 5]})
    assert not prove("v = 5", st)
    # r12: string RANGE proofs are sound (parquet bounds stay bounds
    # under truncation — see test_prover_grammar_time_literals_unit);
    # string EQUALITY proving stays refused there
    assert prove("s >= 'a'", st)
    assert not prove("s >= 'b'", st)
    # r13: conjunctions prove per conjunct (ALL must prove);
    # disjunctions prove when ANY branch is never-FALSE — see
    # tests/test_conjunctive_prover.py
    assert prove("v >= 0 AND v <= 9", st)
    assert not prove("v >= 1 AND v <= 9", st)
    assert prove("v >= 0 OR v <= 9", st)
    assert not prove("v >= 1 OR v >= 5", st)
    # a boolean envelope of [true, true] proves b = true (NULL passes)
    assert prove("b = true", st)
    assert not prove("b = false", st)
    # a function over the column is outside the IR: never proven
    assert not prove("abs(v) >= 0", st)
    assert not prove("v + 1 >= 1", st)
    # an unknown column is the row-level filter's analysis error
    with pytest.raises(AnalysisException):
        prove("missing >= 0", st)


def test_restore_metadata_proven_skips_scan(spark, table, monkeypatch):
    """VERDICT r7 task #2: restoring a table whose manifest stats PROVE
    every file satisfies the active constraints must launch ZERO scan
    tasks — and therefore also works without a SparkSession."""
    from nyc_taxi_data_pipeline_elt_spark.sources import snapshots as snapmod

    table.append(spark.createDataFrame([(1, 5)], "id long, v long"))   # v0
    table.overwrite(spark.createDataFrame([(2, 7)], "id long, v long"))  # v1
    table.add_check_constraint(spark, "v_nonneg", "v >= 0")            # v2

    def _boom(*a, **k):
        raise AssertionError(f"row-level scan launched: {a}")

    monkeypatch.setattr(snapmod, "_constraint_scan", _boom)
    snap = table.restore(0, spark)   # v0 stats: v in [5, 5] — proven
    assert snap.op == "restore"
    assert table.read(spark).count() == 1
    # metadata-proven restore needs no session at all
    table.restore(1)
    assert table.snapshot().constraints == {"v_nonneg": "v >= 0"}


def test_restore_inconclusive_stats_still_scans(spark, table):
    """Red path: when stats are inconclusive (stripped here to simulate
    a legacy manifest), restore falls back to the row scan and still
    catches the violation — and still demands spark."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        ConstraintViolation,
    )

    table.append(spark.createDataFrame([(1, -5)], "id long, v long"))  # v0
    table.overwrite(spark.createDataFrame([(2, 7)], "id long, v long"))  # v1
    table.add_check_constraint(spark, "v_nonneg", "v >= 0")            # v2
    # strip v0's stats from its manifest: prover goes inconclusive
    mpath = table.manifest_dir / "v00000000.json"
    raw = json.loads(mpath.read_text())
    raw["stats"] = {}
    mpath.write_text(json.dumps(raw))
    with pytest.raises(ValueError, match="requires spark"):
        table.restore(0)
    with pytest.raises(ConstraintViolation, match="restoring v0"):
        table.restore(0, spark)


def test_replace_where_nonviolation_failure_cleans_up(spark, table, monkeypatch):
    """ADVICE r7: a failure AFTER the replacement landed (here: a commit
    conflict) must not orphan the fresh uuid dirs — eager cleanup, not
    wait-for-vacuum."""
    table.append(
        spark.createDataFrame([(1, 3, 10), (2, 4, 20)], "id long, part long, v long")
    )
    before = {str(p) for p in table.data_dir.rglob("*.parquet")}

    def _conflict(*a, **k):
        raise CommitConflict("simulated concurrent writer")

    monkeypatch.setattr(table, "_commit", _conflict)
    good = spark.createDataFrame([(9, 3, 30)], "id long, part long, v long")
    with pytest.raises(CommitConflict):
        table.replace_where(spark, good, column="part", values=[3])
    after = {str(p) for p in table.data_dir.rglob("*.parquet")}
    assert after == before, "non-violation failure orphaned files"


def test_write_path_constraint_check_is_metadata_only_when_proven(
    spark, table, monkeypatch
):
    """Appending provably in-bounds data to a constrained table must
    verify from footer stats alone — zero row-scan tasks (the footers
    were already being read for commit stats; enforcement now reuses
    them). Same for adding a constraint the manifest envelopes prove."""
    from nyc_taxi_data_pipeline_elt_spark.sources import snapshots as snapmod

    table.append(spark.createDataFrame([(1, 5)], "id long, v long"))
    table.add_check_constraint(spark, "v_nonneg", "v >= 0")

    def _boom(*a, **k):
        raise AssertionError(f"row-level scan launched: {a}")

    monkeypatch.setattr(snapmod, "_constraint_scan", _boom)
    # append: stats prove v in [6, 9] >= 0 — no scan
    table.append(spark.createDataFrame([(2, 6), (3, 9)], "id long, v long"))
    assert table.read(spark).count() == 3
    # second constraint the existing envelopes prove — no scan either
    table.add_check_constraint(spark, "v_cap", "v <= 100")
    assert set(table.snapshot().constraints) == {"v_nonneg", "v_cap"}


def test_write_path_constraint_violation_still_caught(spark, table):
    """Red path after the stats-first refactor: out-of-bounds data is
    inconclusive-by-stats, row-scanned, rejected, and nothing commits."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        ConstraintViolation,
    )

    table.append(spark.createDataFrame([(1, 5)], "id long, v long"))
    table.add_check_constraint(spark, "v_nonneg", "v >= 0")
    with pytest.raises(ConstraintViolation):
        table.append(spark.createDataFrame([(2, -3)], "id long, v long"))
    assert table.read(spark).count() == 1
    assert table.snapshot().op == "add_constraint"


def _jobs_started(spark, run) -> int:
    """The number of Spark jobs ``run()`` started, counted by job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one table operation")
    try:
        run()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("renamed", [False, True])
def test_unproven_check_append_starts_write_and_scan_jobs_only(
    spark, table, renamed
):
    """An append whose CHECK the stats cannot prove (the prover has no
    envelope rule for ``length``) starts exactly two Spark jobs: the
    write and the one row scan. The scan reads under the written
    frame's own fields, so no footer-inference job runs — on an
    unmapped table and after a rename alike. A violating append still
    raises and leaves no uuid directory behind."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        ConstraintViolation,
    )

    table.append(spark.createDataFrame([(1, "a")], "id long, s string"))
    col = "s"
    if renamed:
        table.rename_column("s", "t")
        col = "t"
    table.add_check_constraint(spark, "short", f"length({col}) < 10")
    schema = f"id long, {col} string"
    ok = spark.createDataFrame([(2, "bb")], schema).coalesce(1)
    assert _jobs_started(spark, lambda: table.append(ok)) == 2
    dirs = set(table.data_dir.iterdir())
    bad = spark.createDataFrame([(3, "x" * 12)], schema).coalesce(1)
    with pytest.raises(ConstraintViolation, match="violates CHECK"):
        table.append(bad)
    assert set(table.data_dir.iterdir()) == dirs
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2]


def test_delta_manifests_record_only_changes(spark, table):
    """Commits after v0 write O(changed files) metadata, not O(table):
    an append's manifest lists its own new files only (the Delta-log
    shape), and none of v0's file names appear in its JSON."""
    table.append(_df(spark, 0, 10))                 # v0: inline
    s0 = table.snapshot(0)
    table.append(_df(spark, 10, 15))                # v1: delta
    raw1 = table._raw_manifest(1)
    assert "files" not in raw1 and "stats" not in raw1
    assert raw1["remove"] == []
    s1 = table.snapshot(1)
    assert sorted(raw1["add"]) == sorted(set(s1.files) - set(s0.files))
    text1 = (table.manifest_dir / "v00000001.json").read_text()
    assert not any(f in text1 for f in s0.files)
    # a rewrite op's delta removes the old files and adds the new
    table.compact(spark, target_files=1)            # v2
    raw2 = table._raw_manifest(2)
    assert sorted(raw2["remove"]) == sorted(s1.files)
    assert table.read(spark).count() == 15
    # stats materialize identically through the delta chain
    assert set(table.snapshot(2).stats) == set(raw2["stats_add"])


def test_checkpoint_cadence_and_resolution(spark, table):
    """Every checkpoint_every-th delta commit writes a full checkpoint;
    resolution uses the nearest one and never walks past it."""
    table.checkpoint_every = 3
    for lo in range(0, 21, 3):
        table.append(_df(spark, lo, lo + 3))        # v0..v6
    assert table._checkpoint_path(3).exists()
    assert table._checkpoint_path(6).exists()
    assert not table._checkpoint_path(5).exists()
    # v5 resolves via checkpoint 3 + deltas 4, 5
    assert sorted(r.id for r in table.read(spark, version=5).collect()) == list(
        range(18)
    )
    assert table.read(spark).count() == 21
    # stats survive the chain: every live file has an envelope
    snap = table.snapshot()
    assert set(snap.stats) == set(snap.files)


def test_vacuum_checkpoints_oldest_kept_version(spark, table):
    """Vacuum must leave the oldest kept version resolvable after its
    ancestor manifests are deleted (checkpoint written on demand)."""
    for lo in range(0, 12, 3):
        table.append(_df(spark, lo, lo + 3))        # v0..v3 (deltas v1+)
    removed = table.vacuum(keep_versions=2, grace_seconds=0.0)
    assert removed == []  # appends: nothing unreferenced
    with pytest.raises(FileNotFoundError):
        table.snapshot(0)
    # v2 (oldest kept) resolves from its on-demand checkpoint; v3 chains
    assert table.read(spark, version=2).count() == 9
    assert table.read(spark, version=3).count() == 12
    snap = table.snapshot(3)
    assert set(snap.stats) == set(snap.files)
    # and the table keeps working after the prune
    table.append(_df(spark, 12, 15))
    assert table.read(spark).count() == 15


def test_append_rebases_after_conflict(spark, table, monkeypatch):
    """Blind-append reconciliation: a writer whose version was taken by
    a racing commit re-bases its already-written files onto the new
    current snapshot and retries — both appends land, no data rewrite.

    The stale read is injected into the retry LOOP's basis read (calls
    1-2: _write_data enforcement, then the loop), so attempt 0 commits
    against expected_parent=0, hits the publish conflict on the racer's
    v1 manifest, and MUST retry — and the racer's rows must survive
    (the lost-update regression the r8 review caught: before
    expected_parent, the stale-based commit silently erased them)."""
    table.append(_df(spark, 0, 5))                    # v0
    racer = SnapshotTable(str(table.root))
    racer.append(_df(spark, 100, 103))                # v1 (the race winner)
    real = SnapshotTable.current_version
    calls = {"n": 0}

    def stale_twice(self):
        calls["n"] += 1
        return 0 if calls["n"] <= 2 else real(self)

    monkeypatch.setattr(SnapshotTable, "current_version", stale_twice)
    snap = table.append(_df(spark, 200, 202))         # conflicts, retries
    assert calls["n"] >= 3, "conflict retry never re-read the version"
    assert snap.version == 2
    got = sorted(r.id for r in table.read(spark).collect())
    assert got == [0, 1, 2, 3, 4, 100, 101, 102, 200, 201]
    # strict mode still raises on a stale-basis conflict
    (table.manifest_dir / "v00000003.json").write_text(json.dumps({
        "version": 3, "files": [], "op": "append", "parent": 2, "ts": 0.0,
    }))
    monkeypatch.setattr(SnapshotTable, "current_version", lambda self: 2)
    with pytest.raises(CommitConflict):
        table.append(_df(spark, 300, 301), retries=0)


def test_append_retry_reenforces_new_constraint(spark, table, monkeypatch):
    """The one non-commutative append/metadata race: a constraint added
    between our write and our retry must be re-enforced — violating
    data may not slip in on the re-based commit."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        ConstraintViolation,
    )

    table.append(spark.createDataFrame([(1, 5)], "id long, v long"))  # v0
    racer = SnapshotTable(str(table.root))
    real = SnapshotTable.current_version
    calls = {"n": 0}

    def stale_once(self):
        calls["n"] += 1
        return 0 if calls["n"] == 1 else real(self)

    racer.add_check_constraint(spark, "v_nonneg", "v >= 0")           # v1
    monkeypatch.setattr(SnapshotTable, "current_version", stale_once)
    with pytest.raises(ConstraintViolation):
        table.append(spark.createDataFrame([(2, -7)], "id long, v long"))
    assert table.read(spark).count() == 1


def test_timestamp_time_travel_and_detail(spark, table):
    """TIMESTAMP AS OF resolves the newest commit at or before ts;
    DESCRIBE DETAIL comes from manifest metadata alone."""
    import time as _t

    table.append(_df(spark, 0, 5))                    # v0
    _t.sleep(0.05)
    mid = _t.time()
    _t.sleep(0.05)
    table.append(_df(spark, 5, 9))                    # v1
    assert table.read(spark, timestamp=mid).count() == 5
    # exactly the latest commit's ts resolves it; AFTER it raises
    # (Delta's after-latest-commit error, ADVICE r9)
    assert table.snapshot_at_timestamp(table.snapshot(1).ts).version == 1
    with pytest.raises(ValueError, match="after the latest commit"):
        table.snapshot_at_timestamp(_t.time() + 60)
    with pytest.raises(FileNotFoundError, match="at or before"):
        table.snapshot_at_timestamp(mid - 100)
    with pytest.raises(ValueError, match="not both"):
        table.read(spark, version=0, timestamp=mid)
    d = table.detail()
    assert d["version"] == 1 and d["op"] == "append"
    assert d["num_files"] == len(table.snapshot().files)
    assert d["num_rows"] == 9
    assert d["constraints"] == []


def test_stats_prover_exact_int64_boundaries(verdict):
    """Review r8: integer comparisons stay exact past 2^53 (float()
    routing made the prover claim PROVEN for a violated constraint)."""
    def prove(p, st):
        return verdict(p, st, "v BIGINT")[1]

    two53 = 9007199254740992  # 2**53
    st = {"v": [two53, two53]}
    assert not prove(f"v >= {two53 + 1}", st)  # float() said proven
    assert prove(f"v >= {two53}", st)
    assert prove(f"v <= {two53}", st)
    assert not prove(f"v = {two53 + 1}", st)


def test_torn_checkpoint_falls_back_to_chain_walk(spark, table):
    """Review r8 belt-and-braces: an unreadable checkpoint must not
    poison resolution — the chain walk still materializes the
    snapshot (atomic tmp+rename makes torn files unreachable in the
    first place; this pins the fallback for externally-damaged files)."""
    table.checkpoint_every = 2
    for lo in range(0, 8, 2):
        table.append(_df(spark, lo, lo + 2))          # v0..v3, ckpt at v2
    assert table._checkpoint_path(2).exists()
    table._checkpoint_path(2).write_text('{"files": [')  # corrupt it
    assert table.read(spark, version=2).count() == 6
    assert table.read(spark).count() == 8


def test_overwrite_conflict_detected_not_erased(spark, table, monkeypatch):
    """expected_parent applies to every commit path: an overwrite whose
    basis went stale raises CommitConflict instead of landing with a
    version that silently absorbs the racer's commit."""
    table.append(_df(spark, 0, 5))                    # v0
    racer = SnapshotTable(str(table.root))
    racer.append(_df(spark, 100, 102))                # v1
    real = SnapshotTable.current_version
    calls = {"n": 0}

    def stale_always(self):
        calls["n"] += 1
        return 0

    before = {str(p) for p in table.data_dir.rglob("*.parquet")}
    monkeypatch.setattr(SnapshotTable, "current_version", stale_always)
    with pytest.raises(CommitConflict):
        table.overwrite(_df(spark, 200, 203))
    monkeypatch.setattr(SnapshotTable, "current_version", real)
    assert table.read(spark).count() == 7  # both committed writes intact
    # and the lost race stranded nothing on disk (review r8)
    after = {str(p) for p in table.data_dir.rglob("*.parquet")}
    assert after == before


def test_history_matches_per_version_snapshots(spark, table):
    """The incremental history walk must agree with independent
    snapshot(v) resolution for every version, across deltas,
    checkpoints, and a rewrite op."""
    table.checkpoint_every = 2
    for lo in range(0, 6, 2):
        table.append(_df(spark, lo, lo + 2))          # v0..v2
    table.compact(spark, target_files=1)              # v3
    table.append(_df(spark, 6, 8))                    # v4
    hist = table.history()
    assert [s.version for s in hist] == [0, 1, 2, 3, 4]
    for s in hist:
        ref = table.snapshot(s.version)
        assert s.files == ref.files, s.version
        assert s.stats == ref.stats, s.version
        assert s.op == ref.op and s.batch_ids == ref.batch_ids


def test_distributed_vacuum_parity(spark, table):
    """Distributed vacuum (one task per writer uuid dir, broadcast live
    set) must remove exactly what the serial path would: every
    unreferenced file gone, every kept snapshot still readable."""
    table.vacuum_driver_max = 0  # force the distributed path
    for lo in range(0, 30, 10):
        table.append(_df(spark, lo, lo + 10))         # v0..v2
    table.overwrite(_df(spark, 0, 5))                 # v3: orphans v0-v2 files
    doomed = set(table.snapshot(2).files)
    removed = table.vacuum(keep_versions=1, spark=spark, grace_seconds=0.0)
    assert set(removed) == doomed
    assert removed == sorted(removed)
    assert table.read(spark).count() == 5
    with pytest.raises(FileNotFoundError):
        table.snapshot(0)
    # nothing live was touched: files on disk == manifest
    on_disk = {
        str(p.relative_to(table.root))
        for p in table.data_dir.rglob("*.parquet")
    }
    assert on_disk == set(table.snapshot().files)


def test_misshaped_checkpoint_falls_back(spark, table):
    """Valid-JSON-but-wrong-shape checkpoint damage ('{}') must fall
    back to the chain walk like truncation damage does."""
    table.checkpoint_every = 2
    for lo in range(0, 6, 2):
        table.append(_df(spark, lo, lo + 2))          # v0..v2, ckpt at v2
    table._checkpoint_path(2).write_text("{}")
    assert table.read(spark, version=2).count() == 6
    table._checkpoint_path(2).write_text("null")
    assert table.read(spark).count() == 6


def test_delta_manifest_size_bounded_at_log_depth(spark, table):
    """The O(changed files) commit claim, measured: across 30 one-file
    appends, a late delta manifest must stay the size of ONE file's
    entry (+ constant framing), not grow with the table — the byte-level
    regression a re-inlined file list or cumulative stats would cause.
    batch_ids are exempt (cumulative by design, O(batches))."""
    table.checkpoint_every = 10
    for lo in range(0, 30):
        table.append(_df(spark, lo, lo + 1).coalesce(1))
    size = lambda v: (table.manifest_dir / f"v{v:08d}.json").stat().st_size
    early_delta, late_delta = size(1), size(29)
    assert late_delta < early_delta * 3, (
        f"late delta manifest grew with table size: v1={early_delta}B "
        f"v29={late_delta}B"
    )
    # and the checkpoints carry the full state instead
    assert table._checkpoint_path(20).stat().st_size > late_delta
    assert table.read(spark).count() == 30
    # resolution at depth walks <= checkpoint_every manifests: spot-check
    # correctness right before and after a checkpoint boundary
    assert table.read(spark, version=19).count() == 20
    assert table.read(spark, version=21).count() == 22


def test_strict_schema_mode_rejects_drift(spark, table):
    """schema_mode='strict' (Delta's default posture, opt-in here) fails
    fast — nothing written — on added columns or changed types; exact
    matches append fine; 'merge' stays the evolution-friendly default."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        SchemaMismatch,
    )

    table.append(_df(spark, 0, 5))
    before = {str(p) for p in table.data_dir.rglob("*.parquet")}
    extra = spark.range(5, 8).selectExpr(
        "id", "id * 2 AS v", "CAST(id AS STRING) AS tag"
    )
    with pytest.raises(SchemaMismatch, match="strict append"):
        table.append(extra, schema_mode="strict")
    retyped = spark.range(5, 8).selectExpr("id", "CAST(id AS INT) AS v")
    with pytest.raises(SchemaMismatch, match="strict append"):
        table.append(retyped, schema_mode="strict")
    assert {str(p) for p in table.data_dir.rglob("*.parquet")} == before
    table.append(_df(spark, 5, 8), schema_mode="strict")  # exact: fine
    assert table.read(spark).count() == 8
    table.append(extra)  # default merge still evolves
    assert set(table.read(spark, merge_schema=True).columns) == {
        "id", "v", "tag"
    }


def test_strict_schema_on_evolved_table_is_deterministic(spark, table):
    """Review r8: the strict check compares against the mergeSchema
    UNION of the snapshot's files — on an evolved table a single-footer
    sniff picked an arbitrary file and flip-flopped the verdict."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        SchemaMismatch,
    )

    table.append(_df(spark, 0, 5))
    evolved = spark.range(5, 8).selectExpr(
        "id", "id * 2 AS v", "CAST(id AS STRING) AS tag"
    )
    table.append(evolved)  # merge-mode evolution: union is {id, v, tag}
    for _ in range(3):  # deterministic across repeated checks
        with pytest.raises(SchemaMismatch):
            table.append(_df(spark, 8, 9), schema_mode="strict")
    full = spark.range(8, 10).selectExpr(
        "id", "id * 2 AS v", "CAST(id AS STRING) AS tag"
    )
    table.append(full, schema_mode="strict")  # matches the union: fine
    assert table.read(spark, merge_schema=True).count() == 10


def test_strict_schema_recheck_on_conflict_retry(spark, table, monkeypatch):
    """Review r8: a concurrent schema-evolving append between a strict
    writer's check and its (re-based) commit must re-fail the strict
    guarantee, with the already-written files cleaned up."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        SchemaMismatch,
    )

    table.append(_df(spark, 0, 5))                    # v0
    racer = SnapshotTable(str(table.root))
    racer.append(
        spark.range(100, 102).selectExpr(
            "id", "id * 2 AS v", "CAST(id AS STRING) AS tag"
        )
    )                                                 # v1: evolves schema
    real = SnapshotTable.current_version
    calls = {"n": 0}

    def stale_twice(self):
        calls["n"] += 1
        return 0 if calls["n"] <= 2 else real(self)

    monkeypatch.setattr(SnapshotTable, "current_version", stale_twice)
    before = {str(p) for p in table.data_dir.rglob("*.parquet")}
    with pytest.raises(SchemaMismatch):
        table.append(_df(spark, 200, 202), schema_mode="strict")
    monkeypatch.setattr(SnapshotTable, "current_version", real)
    assert {str(p) for p in table.data_dir.rglob("*.parquet")} == before
    assert table.read(spark, merge_schema=True).count() == 7


# ---------------- r9: DELETE, rewrite rebase, orphan recovery ----------


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v long")


def test_delete_removes_matching_rows_only(spark, table):
    """DELETE FROM ... WHERE: TRUE rows removed; FALSE and NULL-
    predicate rows kept (SQL WHERE semantics, as in Delta)."""
    table.append(
        spark.createDataFrame(
            [(1, 10), (2, 200), (3, None), (4, 300)], "k long, v long"
        )
    )
    snap = table.delete(spark, "v >= 100")
    assert snap.op == "delete"
    got = sorted(
        (r.k, r.v) for r in table.read(spark).collect()
    )
    assert got == [(1, 10), (3, None)]  # NULL predicate row survives
    # time travel still sees the pre-delete rows (copy-on-write)
    assert table.read(spark, version=0).count() == 4


def test_delete_parity_with_filtered_rewrite(spark, table):
    """The delete result must equal the spelled-out alternative (full
    anti-filter rewrite) row for row — the Delta-parity differential
    VERDICT r8 task #2 asked for."""
    df = spark.range(0, 200).selectExpr("id", "id * 7 % 37 AS v")
    table.append(df)
    other = SnapshotTable(str(table.root.parent / "tbl_rewrite"))
    other.append(df)
    table.delete(spark, "v BETWEEN 5 AND 11")
    other.overwrite(other.read(spark).filter("NOT (v BETWEEN 5 AND 11)"))
    a = sorted((r.id, r.v) for r in table.read(spark).collect())
    b = sorted((r.id, r.v) for r in other.read(spark).collect())
    assert a == b and len(a) > 0


def test_delete_disjoint_predicate_is_metadata_only(spark, table, monkeypatch):
    """A delete whose predicate every file's [min, max] envelope
    excludes must be METADATA-ONLY: no file read, no file written, one
    manifest commit — the at-scale contract (VERDICT r8: disjoint
    delete on 100 TB = O(1) data)."""
    table.append(_kv(spark, [(1, 10), (2, 20)]))
    table.append(_kv(spark, [(3, 30), (4, 40)]))
    before = table.snapshot()

    def boom(*a, **kw):
        raise AssertionError("metadata-only delete must not write data")

    monkeypatch.setattr(SnapshotTable, "_write_data", boom)
    snap = table.delete(spark, "v > 1000")  # provably no matching row
    assert snap.version == before.version + 1
    assert snap.op == "delete"
    assert snap.files == before.files  # nothing rewritten, carried verbatim
    monkeypatch.setattr(
        SnapshotTable, "_write_data", SnapshotTable.__dict__["_write_data"]
    )
    assert table.read(spark).count() == 4


def test_delete_straddling_file_scrubbed_others_carried(spark, table):
    """Only files whose envelope intersects the predicate are rewritten;
    disjoint files keep their EXACT manifest entry (same path — never
    read, never copied)."""
    table.append(_kv(spark, [(1, 10), (2, 20)]).coalesce(1))    # v <= 20
    table.append(_kv(spark, [(3, 90), (4, 150)]).coalesce(1))   # straddles 100
    before = table.snapshot()
    low_files = {f for f in before.files if before.stats[f]["v"][1] <= 20}
    assert low_files, "setup: expected a provably-low file"
    snap = table.delete(spark, "v >= 100")
    assert low_files <= set(snap.files), "disjoint file must carry verbatim"
    assert sorted(r.k for r in table.read(spark).collect()) == [1, 2, 3]


def test_delete_cdf_replays_removals(spark, table):
    """read_changes_cdf: appends arrive as _change_type='insert', a
    delete's removed rows replay as 'delete' with the commit version."""
    table.append(_kv(spark, [(1, 10), (2, 200)]))               # v0
    table.append(_kv(spark, [(3, 300), (4, 40)]))               # v1
    table.delete(spark, "v >= 100")                             # v2
    cdf = table.read_changes_cdf(spark, since_version=0)
    rows = {(r.k, r._change_type, r._commit_version) for r in cdf.collect()}
    assert rows == {
        (3, "insert", 1),
        (4, "insert", 1),
        (2, "delete", 2),
        (3, "delete", 2),
    }


def test_delete_and_insert_only_change_feed(spark, table):
    """The insert-only feed skips a NO-OP delete (no row changed) but
    refuses to cross a row-removing one."""
    table.append(_kv(spark, [(1, 10)]))                         # v0
    table.append(_kv(spark, [(2, 20)]))                         # v1
    table.delete(spark, "v > 1000")                             # v2: no-op
    assert [
        r.k for r in table.read_changes(spark, since_version=0).collect()
    ] == [2]
    table.delete(spark, "v >= 20")                              # v3: removes
    with pytest.raises(ValueError, match="non-append"):
        table.read_changes(spark, since_version=0)


def test_delete_on_missing_table_raises(spark, table):
    with pytest.raises(FileNotFoundError):
        table.delete(spark, "v > 0")


def test_pred_disjoint_prover_unit(verdict):
    """Envelope-disjointness prover: every operator, both literal
    orders, BETWEEN, empty files, and conservative inconclusives."""
    def dis(p, st):
        return verdict(p, st, "v BIGINT, w BIGINT")[0]

    st = {"v": [10, 20], "__num_rows__": 5}
    assert dis("v > 20", st) and not dis("v > 19", st)
    assert dis("v >= 21", st) and not dis("v >= 20", st)
    assert dis("v < 10", st) and not dis("v < 11", st)
    assert dis("v <= 9", st) and not dis("v <= 10", st)
    assert dis("v = 9", st) and dis("v = 21", st) and not dis("v = 15", st)
    assert dis("21 <= v", st) and not dis("15 = v", st)  # flipped forms
    assert dis("v BETWEEN 21 AND 30", st) and dis("v BETWEEN 0 AND 9", st)
    assert not dis("v BETWEEN 20 AND 30", st)
    assert dis("v < 0 OR w > 1", {"__num_rows__": 0})  # empty file
    # inconclusive: no stats, envelopes of the wrong type
    assert not dis("v > 20", {})
    assert not dis("v > 20", {"v": ["a", "z"], "__num_rows__": 3})
    assert not dis("v > 20", {"v": [True, True], "__num_rows__": 3})
    # r13: conjunctions prune when ANY conjunct is provably disjoint
    # (v > 20 excludes the whole [10, 20] envelope); disjunctions when
    # ALL branches are — see tests/test_conjunctive_prover.py
    assert dis("v > 20 AND v < 5", st)
    assert dis("v >= 10 AND v < 5", st)  # v < 5 alone is disjoint
    assert not dis("v >= 10 AND v <= 20", st)
    assert dis("v > 20 OR v < 5", st)  # both branches disjoint
    assert not dis("v > 20 OR v >= 15", st)  # second branch may match
    assert not dis("w > 20", st)


def test_compact_rebases_over_concurrent_append(spark, table, monkeypatch):
    """VERDICT r8 task #3: a maintenance compaction losing its commit
    race to a concurrent APPEND re-bases (file sets disjoint) instead of
    aborting — the appended rows survive uncompacted, the compacted
    copy replaces exactly the files the compaction read."""
    for lo in range(0, 30, 10):
        table.append(_df(spark, lo, lo + 10))                   # v0..v2
    racer = SnapshotTable(str(table.root))
    real_write = SnapshotTable.__dict__["_write_data"]
    state = {"raced": False}

    def write_then_race(self, df, enforce=True, enforced_out=None, **kw):
        out = real_write(self, df, enforce=enforce, enforced_out=enforced_out, **kw)
        if not state["raced"]:
            state["raced"] = True
            racer.append(_df(spark, 100, 105))                  # steals v3
        return out

    monkeypatch.setattr(SnapshotTable, "_write_data", write_then_race)
    snap = table.compact(spark, target_files=2)
    assert snap.version == 4, "compact must land AFTER the racer"
    got = sorted(r.id for r in table.read(spark).collect())
    assert got == list(range(30)) + [100, 101, 102, 103, 104]
    racer_files = set(racer.snapshot(3).files) - set(racer.snapshot(2).files)
    assert racer_files <= set(snap.files), "racer's append must survive"


def test_rewrite_true_conflict_aborts_cleanly(spark, table, monkeypatch):
    """A concurrent commit that REMOVED files the compaction read is a
    true conflict: abort (rebasing would resurrect the removed rows)
    and eagerly drop the aborted rewrite's uuid dir."""
    for lo in range(0, 20, 10):
        table.append(_df(spark, lo, lo + 10))                   # v0..v1
    racer = SnapshotTable(str(table.root))
    real_write = SnapshotTable.__dict__["_write_data"]
    state = {"raced": False}

    def write_then_race(self, df, enforce=True, enforced_out=None, **kw):
        out = real_write(self, df, enforce=enforce, enforced_out=enforced_out, **kw)
        if not state["raced"]:
            state["raced"] = True
            racer.overwrite(_df(spark, 100, 105))               # steals v2
        return out

    monkeypatch.setattr(SnapshotTable, "_write_data", write_then_race)
    with pytest.raises(CommitConflict, match="cannot rebase"):
        table.compact(spark, target_files=2)
    monkeypatch.setattr(SnapshotTable, "_write_data", real_write)
    assert sorted(r.id for r in table.read(spark).collect()) == list(
        range(100, 105)
    )
    committed = {
        f.split("/")[1] for s in table.history() for f in s.files
    }
    on_disk = {p.name for p in table.data_dir.iterdir() if p.is_dir()}
    assert on_disk == committed, "aborted rewrite stranded a uuid dir"


def test_replace_where_rebase_guard(spark, table, monkeypatch):
    """replace_where re-bases over a concurrent append whose stats PROVE
    predicate disjointness — and aborts when the appended rows may match
    (they would survive a replace that semantically covers them)."""
    table.append(_kv(spark, [(1, 10), (2, 20)]))                # v0
    racer = SnapshotTable(str(table.root))
    real_write = SnapshotTable.__dict__["_write_data"]

    def make_racer(batch):
        state = {"raced": False}

        def write_then_race(self, df, enforce=True, enforced_out=None, **kw):
            out = real_write(
                self, df, enforce=enforce, enforced_out=enforced_out, **kw
            )
            if not state["raced"]:
                state["raced"] = True
                racer.append(_kv(spark, batch))
            return out

        return write_then_race

    # disjoint concurrent append (k=9 not in {1}): rebase succeeds
    monkeypatch.setattr(
        SnapshotTable, "_write_data", make_racer([(9, 90)])
    )
    table.replace_where(
        spark, _kv(spark, [(1, 11)]), column="k", values=[1]
    )
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == [(1, 11), (2, 20), (9, 90)]
    # overlapping concurrent append (k=1 IS replaced): true conflict
    monkeypatch.setattr(
        SnapshotTable, "_write_data", make_racer([(1, 999)])
    )
    with pytest.raises(CommitConflict, match="cannot rebase"):
        table.replace_where(
            spark, _kv(spark, [(1, 12)]), column="k", values=[1]
        )


def test_merge_rebase_guard(spark, table, monkeypatch):
    """merge re-bases over a concurrent append whose key envelopes are
    disjoint from the source's key range — and aborts when a
    concurrently-appended file may hold a source key (it escaped the
    anti-join)."""
    table.append(_kv(spark, [(1, 10), (2, 20)]))                # v0
    racer = SnapshotTable(str(table.root))
    real_write = SnapshotTable.__dict__["_write_data"]

    def make_racer(batch):
        state = {"raced": False}

        def write_then_race(self, df, enforce=True, enforced_out=None, **kw):
            out = real_write(
                self, df, enforce=enforce, enforced_out=enforced_out, **kw
            )
            if not state["raced"]:
                state["raced"] = True
                racer.append(_kv(spark, batch))
            return out

        return write_then_race

    monkeypatch.setattr(
        SnapshotTable, "_write_data", make_racer([(100, 1000)])
    )
    table.merge(spark, _kv(spark, [(2, 21), (3, 30)]), key_cols=["k"])
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == [(1, 10), (2, 21), (3, 30), (100, 1000)]
    monkeypatch.setattr(
        SnapshotTable, "_write_data", make_racer([(5, 50)])
    )
    with pytest.raises(CommitConflict, match="cannot rebase"):
        table.merge(spark, _kv(spark, [(5, 51)]), key_cols=["k"])


def test_delete_rebase_guard(spark, table, monkeypatch):
    """delete re-bases over a predicate-disjoint concurrent append and
    aborts when the appended rows may match the predicate (they should
    have been deleted too)."""
    table.append(_kv(spark, [(1, 10), (2, 200)]))               # v0
    racer = SnapshotTable(str(table.root))
    real_write = SnapshotTable.__dict__["_write_data"]

    def make_racer(batch):
        state = {"raced": False}

        def write_then_race(self, df, enforce=True, enforced_out=None, **kw):
            out = real_write(
                self, df, enforce=enforce, enforced_out=enforced_out, **kw
            )
            if not state["raced"]:
                state["raced"] = True
                racer.append(_kv(spark, batch))
            return out

        return write_then_race

    monkeypatch.setattr(
        SnapshotTable, "_write_data", make_racer([(3, 30)])
    )
    table.delete(spark, "v >= 100")
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == [(1, 10), (3, 30)]
    monkeypatch.setattr(SnapshotTable, "_write_data", real_write)
    table.append(_kv(spark, [(9, 150)]))  # give the delete a file to touch
    monkeypatch.setattr(
        SnapshotTable, "_write_data", make_racer([(4, 400)])
    )
    with pytest.raises(CommitConflict, match="cannot rebase"):
        table.delete(spark, "v >= 100")


def test_threaded_appends_with_concurrent_compaction(spark, table):
    """Stress the reconciliation end to end (VERDICT r8 task #3 'done'
    bar): N appender threads (idempotent commit_batch, unique batch ids)
    race a compaction loop on ONE table. Deterministic invariants:
    every batch lands exactly once, final rows = sum of all appends, no
    thread errors, and at least one compaction COMMITS (the loop runs
    until one does, so a reconciliation regression that makes every
    compact abort fails here rather than vanishing). Whether a given
    commit went through the rebase path depends on thread timing — the
    deterministic rebase/abort coverage is
    test_compact_rebases_over_concurrent_append and
    test_rewrite_true_conflict_aborts_cleanly."""
    import threading

    N_THREADS, N_BATCHES, ROWS = 3, 4, 10
    table.append(_df(spark, 0, 0).limit(0))                     # v0: schema
    errors: list = []
    compactions: list = []

    def appender(t):
        try:
            h = SnapshotTable(str(table.root))
            for b in range(N_BATCHES):
                bid = t * 100 + b
                lo = bid * ROWS
                h.commit_batch(_df(spark, lo, lo + ROWS), batch_id=bid)
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append(exc)

    def compactor():
        try:
            h = SnapshotTable(str(table.root))
            for _ in range(20):
                try:
                    compactions.append(h.compact(spark, target_files=2))
                except CommitConflict:
                    continue  # retries exhausted under racing: go again
                if compactions:
                    break
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append(exc)

    threads = [
        threading.Thread(target=appender, args=(t,))
        for t in range(N_THREADS)
    ]
    comp = threading.Thread(target=compactor)
    for th in threads:
        th.start()
    comp.start()
    for th in threads:
        th.join()
    comp.join()
    assert not errors, errors
    assert compactions, "no compaction ever committed under append load"
    assert table.read(spark).count() == N_THREADS * N_BATCHES * ROWS
    ids = table.snapshot().batch_ids
    want = {t * 100 + b for t in range(N_THREADS) for b in range(N_BATCHES)}
    assert set(ids) == want and len(ids) == len(want), "batch lost/duped"


def test_timestamp_travel_monotonizes_clock_skew(spark, table):
    """ADVICE r9: commit timestamps from skewed writer clocks must not
    let TIMESTAMP AS OF resolve a LATER version for an EARLIER ts. Each
    manifest's effective ts is clamped to its ancestors' max (Delta's
    timestamp adjustment), so a skewed child shares its parent's
    effective ts and a read at that ts sees the newest of them."""
    table.append(_df(spark, 0, 5))                    # v0
    table.append(_df(spark, 5, 8))                    # v1
    # skew v1's recorded clock 1000s BEFORE v0's
    m = table.manifest_dir / "v00000001.json"
    raw = json.loads(m.read_text())
    t0 = table.snapshot(0).ts
    raw["ts"] = t0 - 1000.0
    m.write_text(json.dumps(raw))
    # at v0's ts the effective timestamps are tied -> newest version
    assert table.snapshot_at_timestamp(t0).version == 1
    # nothing resolves before v0's ts (v1's skewed ts must not)
    with pytest.raises(FileNotFoundError):
        table.snapshot_at_timestamp(t0 - 500.0)


def test_schema_recorded_in_manifest_and_strict_check_is_o1(
    spark, table, monkeypatch
):
    """ADVICE r9: the table schema rides in the manifest, so a strict
    append compares driver-side against the RECORD — zero footer I/O
    (the fallback union reader is monkeypatched to prove it's never
    called) — for both the pass and the mismatch verdicts."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        SchemaMismatch,
    )

    table.append(_df(spark, 0, 5))
    assert table.snapshot().schema == (("id", "bigint"), ("v", "bigint"))

    def boom(self, spark_, snap):
        raise AssertionError("recorded schema must make this O(1)")

    monkeypatch.setattr(
        SnapshotTable, "_union_schema_from_footers", boom
    )
    table.append(_df(spark, 5, 8), schema_mode="strict")      # pass: O(1)
    with pytest.raises(SchemaMismatch):                       # fail: O(1)
        table.append(
            spark.range(2).selectExpr("id", "CAST(id AS STRING) AS v"),
            schema_mode="strict",
        )
    assert table.read(spark).count() == 8


def test_schema_record_evolves_names_and_unrecords_type_change(spark, table):
    """Name-only evolution keeps the record current (union of fields);
    a TYPE change on an existing column needs engine promotion rules,
    so the record conservatively becomes unknown (None) and strict
    checks fall back to the footer union."""
    table.append(_df(spark, 0, 5))
    table.append(
        spark.range(5, 7).selectExpr(
            "id", "id * 2 AS v", "CAST(id AS STRING) AS tag"
        )
    )
    assert table.snapshot().schema == (
        ("id", "bigint"),
        ("tag", "string"),
        ("v", "bigint"),
    )
    table.append(
        spark.range(7, 8).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    )
    assert table.snapshot().schema is None  # type-evolved: unknown


def test_legacy_manifest_bootstraps_schema_via_strict_append(spark, table):
    """A table whose manifests predate schema recording (simulated by
    stripping the field) falls back to the footer union ONCE — the
    passing strict append re-records the schema, making the next strict
    append O(1) again."""
    table.append(_df(spark, 0, 5))
    for p in table.manifest_dir.glob("v*.json"):
        raw = json.loads(p.read_text())
        raw.pop("schema", None)
        p.write_text(json.dumps(raw))
    assert table.snapshot().schema is None
    table.append(_df(spark, 5, 8), schema_mode="strict")  # footer fallback
    assert table.snapshot().schema == (("id", "bigint"), ("v", "bigint"))


def test_schema_record_follows_table_ops(spark, table):
    """overwrite replaces the record; delete/compact inherit; restore
    takes the RESTORED version's record; merge/replace_where union
    their incoming fields."""
    table.append(_kv(spark, [(1, 10), (2, 200)]))              # v0
    base = (("k", "bigint"), ("v", "bigint"))
    assert table.snapshot().schema == base
    table.delete(spark, "v >= 100")                            # v1
    assert table.snapshot().schema == base
    table.compact(spark, target_files=1)                       # v2
    assert table.snapshot().schema == base
    table.overwrite(
        spark.createDataFrame([(1, "x")], "k long, s string")
    )                                                          # v3
    assert table.snapshot().schema == (("k", "bigint"), ("s", "string"))
    table.restore(0, spark)                                    # v4
    assert table.snapshot().schema == base
    table.merge(
        spark,
        _kv(spark, [(3, 30)]),
        key_cols=["k"],
    )                                                          # v5
    assert table.snapshot().schema == base


def test_rewrites_preserve_evolved_columns(spark, table):
    """Review r9 (data-loss class): rewrite paths must read with the
    UNION schema — a plain read sniffs one footer on a name-evolved
    table and silently drops later-added columns from the rewritten
    rows. Drives delete and compact across an evolved table and checks
    the evolved column's VALUES survive."""
    table.append(_kv(spark, [(1, 10), (2, 200)]))
    table.append(
        spark.createDataFrame(
            [(3, 300, "x3"), (4, 40, "x4")], "k long, v long, tag string"
        )
    )
    table.delete(spark, "v >= 100")  # touches both files
    got = sorted(
        (r.k, r.v, r.tag)
        for r in table.read(spark, merge_schema=True).collect()
    )
    assert got == [(1, 10, None), (4, 40, "x4")], "tag values must survive"
    table.compact(spark, target_files=1)
    got2 = sorted(
        (r.k, r.v, r.tag)
        for r in table.read(spark, merge_schema=True).collect()
    )
    assert got2 == got, "compact must not drop evolved columns either"


def test_cdf_replay_on_evolved_table(spark, table):
    """read_changes_cdf must union-read: replayed delete rows from a
    mixed-schema file set keep evolved columns (null-padded where the
    file predates them) instead of crashing or dropping them."""
    table.append(_kv(spark, [(1, 150)]))                        # v0
    table.append(
        spark.createDataFrame(
            [(2, 250, "x2")], "k long, v long, tag string"
        )
    )                                                           # v1
    table.delete(spark, "v >= 100")                             # v2: both
    rows = {
        (r.k, r.tag, r._change_type)
        for r in table.read_changes_cdf(spark, since_version=0).collect()
    }
    assert rows == {
        (2, "x2", "insert"),
        (1, None, "delete"),
        (2, "x2", "delete"),
    }


def test_operation_metrics_recorded(spark, table):
    """Delta operationMetrics: audit counts derived at commit time from
    file lists + __num_rows__ stats, no extra I/O; surfaced on the
    Snapshot and in DESCRIBE DETAIL."""
    table.append(_kv(spark, [(1, 10), (2, 200), (3, 300)]))
    m0 = table.snapshot().metrics
    assert m0["rows_added"] == 3 and m0["num_removed_files"] == 0
    snap = table.delete(spark, "v >= 100")
    m = snap.metrics
    assert m["rows_removed"] - m["rows_added"] == 2  # net rows deleted
    assert m["num_removed_files"] >= 1
    assert table.detail()["operation_metrics"] == m


def test_replace_where_cdf_derived(spark, table):
    """replace_where's change rows are DERIVED from the manifest (no
    extra writes): deletes = removed files' predicate-matching rows,
    inserts = the recorded replacement files; rewritten remainder rows
    are carried copies and must NOT appear as changes."""
    table.append(_kv(spark, [(1, 10), (2, 20), (3, 30)]).coalesce(1))
    table.replace_where(spark, _kv(spark, [(2, 21)]), column="k", values=[2])
    rows = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in table.read_changes_cdf(spark, since_version=0).collect()
    }
    assert rows == {(2, 20, "delete", 1), (2, 21, "insert", 1)}


def test_merge_change_data_cdf(spark, table):
    """merge(change_data=True) materializes Delta-style cdc files
    (update_preimage/update_postimage/insert) the CDF serves verbatim;
    a merge WITHOUT change_data still refuses (its changes are not
    re-derivable)."""
    table.append(_kv(spark, [(1, 10), (2, 20)]))
    table.merge(
        spark,
        _kv(spark, [(2, 21), (3, 30)]),
        key_cols=["k"],
        change_data=True,
    )
    rows = {
        (r.k, r.v, r._change_type)
        for r in table.read_changes_cdf(spark, since_version=0).collect()
    }
    assert rows == {
        (2, 20, "update_preimage"),
        (2, 21, "update_postimage"),
        (3, 30, "insert"),
    }
    table.merge(spark, _kv(spark, [(4, 40)]), key_cols=["k"])
    with pytest.raises(ValueError, match="full snapshot"):
        table.read_changes_cdf(spark, since_version=1)


def test_merge_delete_change_data_and_vacuum_retention(spark, table):
    """when_matched='delete' cdc preimages carry _change_type='delete';
    change files follow manifest retention — vacuum reclaims them once
    their manifest is pruned, not before."""
    table.append(_kv(spark, [(1, 10), (2, 20)]))
    table.merge(
        spark,
        _kv(spark, [(1, 0)]),
        key_cols=["k"],
        when_matched="delete",
        when_not_matched=None,
        change_data=True,
    )
    rows = {
        (r.k, r.v, r._change_type)
        for r in table.read_changes_cdf(spark, since_version=0).collect()
    }
    assert rows == {(1, 10, "delete")}
    table.vacuum(keep_versions=1, grace_seconds=0.0)  # merge (v1) is current: cdc kept
    assert list((table.root / "_change_data").rglob("*.parquet"))
    table.append(_kv(spark, [(9, 90)]))
    removed = table.vacuum(keep_versions=1, grace_seconds=0.0)  # v1 manifest pruned now
    assert not list((table.root / "_change_data").rglob("*.parquet"))
    assert any(r.startswith("_change_data") for r in removed)


def test_merge_change_data_dup_target_keys_split(spark, table):
    """Review r9: a source key matching SEVERAL target rows collapses
    them to one row — the CDF must report N deletes + 1 insert (an
    unpairable update_preimage glut would make pre/post-pairing
    consumers misapply the batch); single-match keys stay true update
    pairs."""
    table.append(
        spark.createDataFrame(
            [(1, 10), (1, 11), (2, 20)], "k long, v long"
        )
    )
    table.merge(
        spark,
        _kv(spark, [(1, 100), (2, 21)]),
        key_cols=["k"],
        change_data=True,
    )
    rows = sorted(
        (r.k, r.v, r._change_type)
        for r in table.read_changes_cdf(spark, since_version=0).collect()
    )
    assert rows == [
        (1, 10, "delete"),
        (1, 11, "delete"),
        (1, 100, "insert"),
        (2, 20, "update_preimage"),
        (2, 21, "update_postimage"),
    ]
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == [(1, 100), (2, 21)]  # table semantics unchanged


def test_merge_change_data_cleanup_on_write_failure(spark, table):
    """Review r9: a data-write failure after the change-data dir landed
    must drop that dir too, not strand it until vacuum."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        ConstraintViolation,
    )

    table.append(_kv(spark, [(1, 10)]))
    table.add_check_constraint(spark, "v_small", "v <= 1000")
    with pytest.raises(ConstraintViolation):
        table.merge(
            spark,
            _kv(spark, [(1, 99999)]),  # violates v_small
            key_cols=["k"],
            change_data=True,
        )
    assert not list((table.root / "_change_data").rglob("*.parquet")), (
        "aborted merge stranded its change-data files"
    )


def test_cdf_empty_feed_over_emptied_table(spark, table):
    """Review r9: a changeless CDF range whose until-snapshot has ZERO
    files (delete-everything) must return an empty typed feed, not
    crash in the schema-deriving read."""
    table.append(_kv(spark, [(1, 10)]).coalesce(1))
    table.delete(spark, "v >= 0")              # v1: table now empty
    cdf = table.read_changes_cdf(spark, since_version=1)  # empty range
    assert cdf.count() == 0
    assert "_change_type" in cdf.columns and "k" in cdf.columns


def test_merge_delete_insert_does_not_resurrect_matched_rows(spark, table):
    """Review r9 (pre-existing semantic bug): when_matched='delete' +
    when_not_matched='insert' must DELETE matched rows, not replace
    them — only unmatched source rows insert. The CDF (change_data)
    must agree row for row with the committed table."""
    table.append(_kv(spark, [(1, 10), (2, 20)]))
    table.merge(
        spark,
        _kv(spark, [(1, 99), (3, 30)]),
        key_cols=["k"],
        when_matched="delete",
        when_not_matched="insert",
        change_data=True,
    )
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == [(2, 20), (3, 30)], "matched row must not resurrect"
    rows = sorted(
        (r.k, r.v, r._change_type)
        for r in table.read_changes_cdf(spark, since_version=0).collect()
    )
    assert rows == [(1, 10, "delete"), (3, 30, "insert")]


def test_cdf_legacy_inline_append_diffs_parent(spark, table):
    """Review r9: a legacy/hand-written INLINE append manifest at v>0
    (full file list, no add/remove deltas) must contribute only its
    genuinely-new files to the CDF — trusting its file list would
    replay every carried row as an insert."""
    table.append(_kv(spark, [(1, 10)]))                         # v0
    table.append(_kv(spark, [(2, 20)]))                         # v1
    # rewrite v1 as an inline manifest (what a pre-delta-log writer or
    # an external tool would produce)
    m = table.manifest_dir / "v00000001.json"
    raw = json.loads(m.read_text())
    snap1 = table.snapshot(1)
    for k in ("add", "remove", "stats_add"):
        raw.pop(k, None)
    raw["files"] = list(snap1.files)
    raw["stats"] = dict(snap1.stats or {})
    m.write_text(json.dumps(raw))
    rows = [
        (r.k, r._change_type)
        for r in table.read_changes_cdf(spark, since_version=0).collect()
    ]
    assert rows == [(2, "insert")], "carried v0 rows must not replay"


def test_insert_only_feed_empty_over_empty_table(spark, table):
    """Review r9: read_changes over a range ending at an empty snapshot
    returns a typed empty feed instead of crashing."""
    table.append(_kv(spark, [(1, 10)]).coalesce(1))             # v0
    table.delete(spark, "v >= 0")                               # v1: empty
    # the feed range is (1, 1] = empty -> typed empty result
    out = table.read_changes(spark, since_version=1)
    assert out.count() == 0 and "k" in out.columns


def test_table_properties_and_cdf_property(spark, table):
    """Delta TBLPROPERTIES parity: set_property is a metadata-only
    versioned commit carried forward by every later commit; the
    'delta.enableChangeDataFeed' property makes MERGE write change-data
    files without the per-call flag; property commits are row-neutral
    to both feeds; unset removes it."""
    table.append(_kv(spark, [(1, 10), (2, 20)]))                # v0
    table.set_property("delta.enableChangeDataFeed", "true")    # v1
    assert table.detail()["properties"] == {
        "delta.enableChangeDataFeed": "true"
    }
    table.append(_kv(spark, [(3, 30)]))                         # v2 carries
    assert table.snapshot().properties == {
        "delta.enableChangeDataFeed": "true"
    }
    table.merge(spark, _kv(spark, [(2, 21)]), key_cols=["k"])   # v3: CDC on
    rows = {
        (r.k, r.v, r._change_type)
        for r in table.read_changes_cdf(spark, since_version=1).collect()
    }
    assert rows == {
        (3, 30, "insert"),
        (2, 20, "update_preimage"),
        (2, 21, "update_postimage"),
    }
    # the property commit itself is row-neutral to the insert-only feed
    assert sorted(
        r.k for r in table.read_changes(spark, 0, 2).collect()
    ) == [3]
    table.unset_property("delta.enableChangeDataFeed")          # v4
    assert table.detail()["properties"] == {}
    with pytest.raises(ValueError, match="no property"):
        table.unset_property("delta.enableChangeDataFeed")
    table.merge(spark, _kv(spark, [(3, 31)]), key_cols=["k"])   # v5: CDC off
    with pytest.raises(ValueError, match="full snapshot"):
        table.read_changes_cdf(spark, since_version=4)


def test_property_on_empty_table_and_boolean_validation(spark, table):
    """Review r9: properties can be set BEFORE the first write (v0 with
    no files, like add_check_constraint); the CDF boolean is parsed
    case-insensitively and invalid values are rejected up front."""
    table.set_property("delta.enableChangeDataFeed", "True")  # empty: v0
    assert table.current_version() == 0
    with pytest.raises(ValueError, match="true/false"):
        table.set_property("delta.enableChangeDataFeed", "yes")
    table.append(_kv(spark, [(1, 10)]))                       # v1
    table.merge(spark, _kv(spark, [(2, 20)]), key_cols=["k"])  # v2: CDC on
    rows = {
        (r.k, r._change_type)
        for r in table.read_changes_cdf(spark, since_version=1).collect()
    }
    assert rows == {(2, "insert")}, "'True' must still enable the feed"


def test_merge_aborts_rebase_onto_concurrent_cdf_enable(
    spark, table, monkeypatch
):
    """Review r9 (Delta MetadataChanged posture): a merge PLANNED
    without change-data that loses its commit race to a concurrent
    enableChangeDataFeed=true commit must ABORT, not rebase — rebasing
    would commit a permanent hole in the feed the property promises."""
    table.append(_kv(spark, [(1, 10)]))                       # v0
    racer = SnapshotTable(str(table.root))
    real_write = SnapshotTable.__dict__["_write_data"]
    state = {"raced": False}

    def write_then_race(self, df, enforce=True, enforced_out=None, **kw):
        out = real_write(self, df, enforce=enforce, enforced_out=enforced_out, **kw)
        if not state["raced"]:
            state["raced"] = True
            racer.set_property("delta.enableChangeDataFeed", "true")
        return out

    monkeypatch.setattr(SnapshotTable, "_write_data", write_then_race)
    with pytest.raises(CommitConflict, match="metadata changed"):
        table.merge(spark, _kv(spark, [(1, 11)]), key_cols=["k"])
    monkeypatch.setattr(SnapshotTable, "_write_data", real_write)
    # re-run against the current snapshot: now CDC-enabled and whole
    table.merge(spark, _kv(spark, [(1, 11)]), key_cols=["k"])
    rows = {
        (r.k, r.v, r._change_type)
        for r in table.read_changes_cdf(spark, since_version=1).collect()
    }
    assert rows == {
        (1, 10, "update_preimage"),
        (1, 11, "update_postimage"),
    }


# ---------------- UPDATE (row-level SET, VERDICT r9 task #2) ----------------


def test_update_applies_set_to_matching_rows_only(spark, table):
    """UPDATE ... SET ... WHERE: TRUE rows updated; FALSE and NULL-
    predicate rows carried verbatim (SQL WHERE semantics, as Delta)."""
    table.append(
        spark.createDataFrame(
            [(1, 10), (2, 200), (3, None), (4, 300)], "k long, v long"
        )
    )
    snap = table.update(spark, "v >= 100", {"v": "v + 1"})
    assert snap.op == "update"
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == [(1, 10), (2, 201), (3, None), (4, 301)]
    # time travel still sees the pre-update rows (copy-on-write)
    assert sorted(
        r.v for r in table.read(spark, version=0).collect() if r.v is not None
    ) == [10, 200, 300]


def test_update_parity_with_case_rewrite(spark, table):
    """The update result must equal the spelled-out alternative (full
    CASE-projection rewrite) row for row — the Delta-parity
    differential VERDICT r9 task #2 asked for."""
    df = spark.range(0, 200).selectExpr("id", "id * 7 % 37 AS v")
    table.append(df)
    other = SnapshotTable(str(table.root.parent / "tbl_case"))
    other.append(df)
    table.update(spark, "v BETWEEN 5 AND 11", {"v": "v * 100 + id"})
    other.overwrite(
        other.read(spark).selectExpr(
            "id",
            "CASE WHEN v BETWEEN 5 AND 11 THEN v * 100 + id ELSE v END AS v",
        )
    )
    a = sorted((r.id, r.v) for r in table.read(spark).collect())
    b = sorted((r.id, r.v) for r in other.read(spark).collect())
    assert a == b and len(a) == 200


def test_update_disjoint_predicate_is_metadata_only(spark, table, monkeypatch):
    """An update whose predicate every file's [min, max] envelope
    excludes must be METADATA-ONLY: no file read, no file written, one
    manifest commit — the at-scale contract (a disjoint update on
    100 TB is O(1) data)."""
    table.append(_kv(spark, [(1, 10), (2, 20)]))
    table.append(_kv(spark, [(3, 30), (4, 40)]))
    before = table.snapshot()

    def boom(*a, **kw):
        raise AssertionError("metadata-only update must not write data")

    monkeypatch.setattr(SnapshotTable, "_write_data", boom)
    snap = table.update(spark, "v > 1000", {"v": "v * 2"})
    assert snap.version == before.version + 1
    assert snap.op == "update"
    assert snap.files == before.files  # nothing rewritten
    monkeypatch.setattr(
        SnapshotTable, "_write_data", SnapshotTable.__dict__["_write_data"]
    )
    got = sorted(r.v for r in table.read(spark).collect())
    assert got == [10, 20, 30, 40]


def test_update_straddling_file_rewritten_others_carried(spark, table):
    """Only files whose envelope intersects the predicate are
    rewritten; disjoint files keep their EXACT manifest entry."""
    table.append(_kv(spark, [(1, 10), (2, 20)]).coalesce(1))   # v <= 20
    table.append(_kv(spark, [(3, 90), (4, 150)]).coalesce(1))  # straddles 100
    before = table.snapshot()
    low_files = {f for f in before.files if before.stats[f]["v"][1] <= 20}
    assert low_files, "setup: expected a provably-low file"
    table.update(spark, "v >= 100", {"v": "v + 5"})
    snap = table.snapshot()
    assert low_files <= set(snap.files), "disjoint file must carry verbatim"
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == [(1, 10), (2, 20), (3, 90), (4, 155)]


def test_update_set_sees_preimage_and_casts_to_column_type(spark, table):
    """SQL UPDATE semantics: every SET expr evaluates against the
    PRE-image row (a swap is possible), and results cast back to the
    column's committed type so the row shape never drifts."""
    table.append(
        spark.createDataFrame([(1, 10, 99)], "k long, a long, b long")
    )
    table.update(spark, "k = 1", {"a": "b", "b": "a"})
    r = table.read(spark).collect()[0]
    assert (r.a, r.b) == (99, 10)  # swapped, not chained
    # 2.7 casts back to long (truncation toward zero, Spark CAST)
    table.update(spark, "k = 1", {"a": "2.7"})
    snap = table.snapshot()
    assert dict(snap.schema)["a"] == "bigint"
    assert table.read(spark).collect()[0].a == 2


def test_update_unknown_set_column_raises(spark, table):
    table.append(_kv(spark, [(1, 10)]))
    with pytest.raises(ValueError, match="not in the table schema"):
        table.update(spark, "v > 0", {"nope": "1"})
    with pytest.raises(ValueError, match="not in the table schema"):
        table.update(spark, "v > 1000", {"nope": "1"})  # metadata-only path
    with pytest.raises(ValueError, match="at least one SET"):
        table.update(spark, "v > 0", {})
    assert table.current_version() == 0  # nothing committed


def test_update_on_missing_table_raises(spark, table):
    with pytest.raises(FileNotFoundError):
        table.update(spark, "v > 0", {"v": "1"})


def test_update_violating_check_constraint_rejected(spark, table):
    """Unlike delete, an update CAN manufacture violating rows: the
    rewrite is CHECK-enforced and a violation aborts the commit,
    leaving table state and file set untouched (no orphans)."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        ConstraintViolation,
    )

    table.append(_kv(spark, [(1, 10), (2, 20)]))
    table.add_check_constraint(spark, "v_small", "v <= 1000")
    before = table.snapshot()
    with pytest.raises(ConstraintViolation, match="v_small"):
        table.update(spark, "v >= 20", {"v": "v * 1000"})
    assert table.current_version() == before.version
    assert sorted(r.v for r in table.read(spark).collect()) == [10, 20]
    live = {str(p.relative_to(table.root)) for p in table.data_dir.rglob("*.parquet")}
    assert live == set(before.files), "violating rewrite must not strand files"
    # an in-bounds update still passes the constraint
    table.update(spark, "v >= 20", {"v": "v + 1"})
    assert sorted(r.v for r in table.read(spark).collect()) == [10, 21]


def test_update_cdf_derived_replay_pairs(spark, table):
    """A plain update's CDF replays paired update_preimage /
    update_postimage rows derived from the recorded predicate + SET —
    no change files written."""
    table.append(_kv(spark, [(1, 10), (2, 200)]))              # v0
    table.update(spark, "v >= 100", {"v": "v + 7"})            # v1
    assert not (table.root / "_change_data").exists()
    cdf = table.read_changes_cdf(spark, since_version=0)
    rows = {(r.k, r.v, r._change_type, r._commit_version) for r in cdf.collect()}
    assert rows == {
        (2, 200, "update_preimage", 1),
        (2, 207, "update_postimage", 1),
    }
    # feed after the update range: empty, not an error
    assert table.read_changes_cdf(spark, since_version=1).count() == 0


def test_update_cdf_materialized_change_data(spark, table):
    """update(change_data=True) materializes the pre/post pairs under
    _change_data (served verbatim by the feed; copy-on-write refuses
    non-deterministic SET exprs, which only merge-on-read replays
    exactly); the delta.enableChangeDataFeed property enables it without
    the flag."""
    table.append(_kv(spark, [(1, 10), (2, 200)]))              # v0
    table.update(spark, "v >= 100", {"v": "v + 7"}, change_data=True)
    assert (table.root / "_change_data").exists()
    rows = {
        (r.k, r.v, r._change_type)
        for r in table.read_changes_cdf(spark, since_version=0).collect()
    }
    assert rows == {
        (2, 200, "update_preimage"),
        (2, 207, "update_postimage"),
    }
    # property-enabled: no per-call flag
    table.set_property("delta.enableChangeDataFeed", "true")
    table.update(spark, "k = 1", {"v": "v + 1"})
    raw = table._raw_manifest(table.current_version())
    assert raw["cdc_files"], "property must materialize change data"
    rows = {
        (r.k, r.v, r._change_type)
        for r in table.read_changes_cdf(
            spark, since_version=table.current_version() - 1
        ).collect()
    }
    assert rows == {
        (1, 10, "update_preimage"),
        (1, 11, "update_postimage"),
    }


def test_update_noop_cdf_and_insert_only_feed(spark, table):
    """A metadata-only (disjoint) update contributes nothing to either
    feed; a row-changing update is skipped by the CDF's no-op check but
    refuses the insert-only feed."""
    table.append(_kv(spark, [(1, 10)]))                        # v0
    table.append(_kv(spark, [(2, 20)]))                        # v1
    table.update(spark, "v > 1000", {"v": "v"})                # v2: no-op
    assert [
        r.k for r in table.read_changes(spark, since_version=0).collect()
    ] == [2]
    # v2 (the no-op update) contributes zero CDF rows
    assert table.read_changes_cdf(spark, since_version=1).count() == 0
    table.update(spark, "v >= 20", {"v": "v + 1"})             # v3: changes
    with pytest.raises(ValueError, match="non-append"):
        table.read_changes(spark, since_version=0)


def test_update_rebase_guard(spark, table, monkeypatch):
    """update re-bases over a predicate-disjoint concurrent append and
    aborts when the appended rows may match the predicate (they should
    have been updated too)."""
    table.append(_kv(spark, [(1, 10), (2, 200)]))              # v0
    racer = SnapshotTable(str(table.root))
    real_write = SnapshotTable.__dict__["_write_data"]

    def make_racer(batch):
        state = {"raced": False}

        def write_then_race(self, df, enforce=True, enforced_out=None, **kw):
            out = real_write(
                self, df, enforce=enforce, enforced_out=enforced_out, **kw
            )
            if not state["raced"]:
                state["raced"] = True
                racer.append(_kv(spark, batch))
            return out

        return write_then_race

    monkeypatch.setattr(SnapshotTable, "_write_data", make_racer([(3, 30)]))
    table.update(spark, "v >= 100", {"v": "v + 1"})
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == [(1, 10), (2, 201), (3, 30)]
    monkeypatch.setattr(SnapshotTable, "_write_data", real_write)
    monkeypatch.setattr(SnapshotTable, "_write_data", make_racer([(4, 400)]))
    with pytest.raises(CommitConflict, match="cannot rebase"):
        table.update(spark, "v >= 100", {"v": "v + 1"})


def test_update_evolved_column_predicate_reads_null(spark, table):
    """ADVICE r9: a predicate/SET over a name-evolved column that some
    touched file predates must evaluate NULL for those rows (log-schema
    read), not raise AnalysisException."""
    table.append(_kv(spark, [(1, 10)]))                        # no column w
    table.append(
        spark.createDataFrame([(2, 20, 5)], "k long, v long, w long")
    )
    table.update(spark, "w = 5", {"v": "v + w"})
    got = sorted(
        (r.k, r.v, r.w) for r in table.read(spark, merge_schema=True).collect()
    )
    assert got == [(1, 10, None), (2, 25, 5)]


def test_vacuum_grace_protects_inflight_writer_dirs(spark, table):
    """ADVICE r9: a concurrent vacuum must not reclaim a young,
    not-yet-committed writer dir — data OR _change_data — because its
    writer may be between the file write and the manifest commit
    (merge's cdc dir lands before its commit loop; reclaiming it would
    commit cdc_files pointing at nothing). Young + unreferenced =
    skipped under the default grace; an aged dir (grace 0) is
    reclaimed."""
    table.append(_kv(spark, [(1, 10)]))
    # simulate in-flight writers: landed files, no manifest yet
    inflight_data = table._write_data(_kv(spark, [(9, 90)]), enforce=False)[0]
    inflight_cdc = table._write_change_data(
        _kv(spark, [(9, 90)]).selectExpr("k", "v", "'insert' AS _change_type")
    )
    removed = table.vacuum(keep_versions=1)  # default grace
    assert removed == [], "young in-flight dirs must survive vacuum"
    assert all((table.root / f).exists() for f in inflight_data + inflight_cdc)
    removed = table.vacuum(keep_versions=1, grace_seconds=0.0)
    assert set(removed) == set(inflight_data + inflight_cdc)
    assert table.read(spark).count() == 1  # committed data untouched


def test_update_metadata_only_validates_set_on_legacy_table(spark, table):
    """Review r10: the zero-touched (metadata-only) update path must
    reject a typo'd SET column even on a legacy table with no recorded
    schema (footer-union fallback), not silently commit a bogus
    update_set."""
    table.append(_kv(spark, [(1, 10)]))
    m = table.manifest_dir / "v00000000.json"
    raw = json.loads(m.read_text())
    raw.pop("schema", None)  # simulate a pre-schema-recording manifest
    m.write_text(json.dumps(raw))
    assert table.snapshot().schema is None
    with pytest.raises(ValueError, match="not in the table schema"):
        table.update(spark, "v > 1000", {"nope": "1"})
    assert table.current_version() == 0
    # a valid metadata-only update on the same legacy table still works
    snap = table.update(spark, "v > 1000", {"v": "v + 1"})
    assert snap.version == 1 and table.read(spark).count() == 1


# ---------------- deletion vectors (merge-on-read delete) ----------------


def test_dv_delete_soft_removes_without_rewrite(spark, table, monkeypatch):
    """delete(mode='merge-on-read'): the file set is UNTOUCHED (no data
    write at all — pinned by monkeypatch), rows disappear from read(),
    time travel still sees them, and detail() reports live rows."""
    table.append(
        spark.range(0, 100)
        .selectExpr("id", "id % 10 AS v")
        .repartition(4)
    )
    before = table.snapshot()
    real_write = SnapshotTable.__dict__["_write_data"]

    def boom(*a, **kw):
        raise AssertionError("merge-on-read delete must not write data")

    monkeypatch.setattr(SnapshotTable, "_write_data", boom)
    snap = table.delete(spark, "v = 3", mode="merge-on-read")
    monkeypatch.setattr(SnapshotTable, "_write_data", real_write)
    assert set(snap.files) == set(before.files)
    assert len(snap.dv) == 4 and snap.metrics["rows_soft_deleted"] == 10
    got = sorted(r.id for r in table.read(spark).collect())
    assert got == [i for i in range(100) if i % 10 != 3]
    assert table.read(spark, version=0).count() == 100  # time travel
    d = table.detail()
    assert d["num_rows"] == 90 and d["num_deletion_vectors"] == 4


def test_dv_delete_consolidates_and_parity_with_cow(spark, table):
    """Two stacked merge-on-read deletes consolidate per-file entries
    and read back exactly like the copy-on-write twin."""
    df = spark.range(0, 200).selectExpr("id", "id * 7 % 37 AS v")
    table.append(df)
    other = SnapshotTable(str(table.root.parent / "tbl_cow"))
    other.append(df)
    for pred in ("v BETWEEN 5 AND 11", "v BETWEEN 20 AND 23"):
        table.delete(spark, pred, mode="merge-on-read")
        other.delete(spark, pred)
    a = sorted((r.id, r.v) for r in table.read(spark).collect())
    b = sorted((r.id, r.v) for r in other.read(spark).collect())
    assert a == b and len(a) > 0
    # each affected file holds at most ONE consolidated entry
    assert all(len(e) == 2 for e in table.snapshot().dv.values())


def test_dv_cdf_replays_exactly_new_deletions(spark, table):
    """The CDF replays each merge-on-read delete's NEWLY-dead rows only
    (already-dead rows are excluded via the recorded dv_before)."""
    table.append(_kv(spark, [(1, 10), (2, 200), (3, 300)]))  # v0
    table.delete(spark, "v >= 250", mode="merge-on-read")    # v1: kills 3
    table.delete(spark, "v >= 100", mode="merge-on-read")    # v2: kills 2
    cdf = table.read_changes_cdf(spark, since_version=0)
    rows = {(r.k, r._change_type, r._commit_version) for r in cdf.collect()}
    assert rows == {(3, "delete", 1), (2, "delete", 2)}
    assert sorted(r.k for r in table.read(spark).collect()) == [1]


def test_dv_compact_materializes_deletes_away(spark, table):
    """compact() reads dv-aware and commits clean files with an empty
    dv map; rows stay identical; the orphaned dv file is reclaimed by
    the next vacuum once no kept manifest references it."""
    table.append(spark.range(10).selectExpr("id", "id AS v").coalesce(1))
    table.delete(spark, "v < 3", mode="merge-on-read")
    live = table.vacuum(keep_versions=1, grace_seconds=0.0)
    assert all("_deletion_vectors" not in f for f in live), "live dv kept"
    snap = table.compact(spark, target_files=1)
    assert snap.dv == {}
    assert sorted(r.id for r in table.read(spark).collect()) == list(
        range(3, 10)
    )
    removed = table.vacuum(keep_versions=1, grace_seconds=0.0)
    assert any("_deletion_vectors" in f for f in removed), "dead dv reclaimed"


def test_dv_rewrites_exclude_dead_rows(spark, table):
    """Every rewrite on a dv-carrying table reads dv-aware: a COW
    delete, a merge, and an update must neither match nor resurrect
    soft-deleted rows."""
    table.append(_kv(spark, [(1, 10), (2, 20), (3, 30), (4, 40)]))
    table.delete(spark, "k = 2", mode="merge-on-read")
    # COW delete: survivors of the touched files exclude the dead row
    table.delete(spark, "k = 4")
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == [(1, 10), (3, 30)]
    # merge: the dead key is UNMATCHED (insert), not an update
    table.merge(spark, _kv(spark, [(2, 99)]), key_cols=["k"])
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == [(1, 10), (2, 99), (3, 30)]
    # update: SET applies to live rows only
    table.update(spark, "v >= 30", {"v": "v + 1"})
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == [(1, 10), (2, 100), (3, 31)]  # 99 matched the SET too


def test_dv_fully_dead_file_dropped(spark, table):
    """A file whose rows become ALL dead leaves the file set entirely
    (no dv entry, no phantom file)."""
    table.append(_kv(spark, [(1, 1), (2, 1)]).coalesce(1))
    table.append(_kv(spark, [(3, 2)]).coalesce(1))
    snap = table.delete(spark, "v = 1", mode="merge-on-read")
    assert len(snap.files) == 1 and snap.dv == {}
    assert [(r.k, r.v) for r in table.read(spark).collect()] == [(3, 2)]


def test_dv_insert_only_feed_and_noop(spark, table):
    """The insert-only feed skips a no-match merge-on-read delete but
    refuses a row-changing one (the file set is unchanged — the dv
    comparison is what catches it)."""
    table.append(_kv(spark, [(1, 1)]))                        # v0
    table.delete(spark, "v > 100", mode="merge-on-read")      # v1: no-op
    assert table.read_changes(spark, since_version=0).count() == 0
    table.append(_kv(spark, [(2, 2)]))                        # v2
    table.delete(spark, "v = 1", mode="merge-on-read")        # v3: changes
    with pytest.raises(ValueError, match="non-append"):
        table.read_changes(spark, since_version=0)


def test_dv_restore_carries_each_versions_vectors(spark, table):
    """restore() commits the RESTORED version's dv map — rolling back
    past a soft delete resurrects the rows; restoring the dv version
    re-kills them."""
    table.append(spark.range(10).selectExpr("id", "id AS v").coalesce(1))  # v0
    table.delete(spark, "v < 3", mode="merge-on-read")  # v1: partial file
    table.restore(0)                                           # v2
    assert table.read(spark).count() == 10
    table.restore(1)                                           # v3
    assert table.read(spark).count() == 7
    assert table.snapshot().dv != {}


def test_dv_constraint_scan_ignores_dead_rows(spark, table):
    """add_check_constraint / restore validation must not fail on a
    violating row that is already soft-deleted (dead rows are not
    table rows)."""
    table.append(_kv(spark, [(1, 10), (2, -5)]).coalesce(1))
    table.delete(spark, "v < 0", mode="merge-on-read")
    table.add_check_constraint(spark, "v_pos", "v >= 0")  # passes: -5 dead
    assert "v_pos" in table.snapshot().constraints
    with pytest.raises(Exception, match="v_pos"):
        table.append(_kv(spark, [(9, -1)]))


def test_dv_rebase_guards(spark, table, monkeypatch):
    """A rewrite whose read basis raced a concurrent merge-on-read
    delete must ABORT the rebase (its rewritten rows would resurrect
    the soft-deleted ones); a disjoint concurrent append still
    rebases."""
    table.append(_kv(spark, [(1, 10), (2, 200)]).coalesce(1))  # ONE file:
    # the racer's soft delete stays PARTIAL (dv entry, file kept), so
    # the rebase fails on the dv guard, not the removed-files check
    racer = SnapshotTable(str(table.root))
    real_write = SnapshotTable.__dict__["_write_data"]
    state = {"raced": False}

    def write_then_soft_delete(self, df, enforce=True, enforced_out=None, **kw):
        out = real_write(self, df, enforce=enforce, enforced_out=enforced_out, **kw)
        if not state["raced"]:
            state["raced"] = True
            racer.delete(spark, "v = 10", mode="merge-on-read")
        return out

    monkeypatch.setattr(SnapshotTable, "_write_data", write_then_soft_delete)
    with pytest.raises(CommitConflict, match="deletion vector"):
        table.compact(spark, target_files=1)
    monkeypatch.setattr(SnapshotTable, "_write_data", real_write)
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == [(2, 200)], "the racer's soft delete must survive"


def test_dv_update_rewrites_only_postimage(spark, table):
    """update(mode='merge-on-read'): matched rows soft-delete into a dv
    and ONLY their post-image lands as new files — the touched files
    stay byte-identical; read-back equals the copy-on-write twin."""
    df = spark.range(0, 100).selectExpr("id", "id % 10 AS v")
    table.append(df.coalesce(2))
    other = SnapshotTable(str(table.root.parent / "tbl_cow_upd"))
    other.append(df.coalesce(2))
    before = set(table.snapshot().files)
    snap = table.update(
        spark, "v = 3", {"v": "v * 100 + id"}, mode="merge-on-read"
    )
    other.update(spark, "v = 3", {"v": "v * 100 + id"})
    assert before <= set(snap.files), "touched files must be carried"
    assert snap.dv, "matched rows must be soft-deleted"
    a = sorted((r.id, r.v) for r in table.read(spark).collect())
    b = sorted((r.id, r.v) for r in other.read(spark).collect())
    assert a == b and len(a) == 100


def test_dv_update_cdf_pairs_without_set_reevaluation(spark, table):
    """The MoR update's CDF replays exact pre/post pairs: pre derived
    from the immutable files + recorded prior dv, post read from the
    materialized added files — sound even for NON-deterministic SET
    (pinned by updating with rand() and matching the feed's post-image
    against the committed table)."""
    table.append(_kv(spark, [(1, 10), (2, 200)]).coalesce(1))
    table.update(
        spark,
        "v >= 100",
        {"v": "CAST(rand() * 1000000 AS BIGINT)"},
        mode="merge-on-read",
    )
    cdf = table.read_changes_cdf(spark, since_version=0)
    rows = {(r.k, r.v, r._change_type) for r in cdf.collect()}
    committed = {(r.k, r.v) for r in table.read(spark).collect()}
    post = {(k, v) for k, v, t in rows if t == "update_postimage"}
    assert {(k, v, t) for k, v, t in rows if t == "update_preimage"} == {
        (2, 200, "update_preimage")
    }
    assert len(post) == 1 and post <= committed, (
        "post-image must equal the committed row, not a re-evaluation"
    )


def test_dv_update_stacks_on_prior_dv_and_full_death(spark, table):
    """A MoR update consolidates with a prior soft delete; a file whose
    remaining live rows ALL match leaves the file set."""
    table.append(_kv(spark, [(1, 10), (2, 20), (3, 30)]).coalesce(1))
    table.delete(spark, "k = 1", mode="merge-on-read")
    snap = table.update(
        spark, "v >= 20", {"v": "v + 1"}, mode="merge-on-read"
    )
    # all 3 original rows now dead in the original file -> dropped
    assert sorted((r.k, r.v) for r in table.read(spark).collect()) == [
        (2, 21),
        (3, 31),
    ]
    orig = set(table.snapshot(0).files)
    assert not (orig & set(snap.files)), "fully-dead original file dropped"
    assert snap.dv == {}


def test_dv_update_check_enforced_and_noop(spark, table):
    """Post-image rows are CHECK-enforced (red path commits nothing and
    strands neither data nor dv files); a no-match MoR update is an
    auditable no-op."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        ConstraintViolation,
    )

    table.append(_kv(spark, [(1, 10), (2, 20)]).coalesce(1))
    table.add_check_constraint(spark, "v_small", "v <= 1000")
    before = table.snapshot()
    with pytest.raises(ConstraintViolation, match="v_small"):
        table.update(
            spark, "v >= 20", {"v": "v * 1000"}, mode="merge-on-read"
        )
    assert table.current_version() == before.version
    dv_root = table.root / "_deletion_vectors"
    leftover = list(dv_root.rglob("*.parquet")) if dv_root.exists() else []
    assert leftover == [], "red path must not strand dv files"
    snap = table.update(
        spark, "v > 9999", {"v": "0"}, mode="merge-on-read"
    )
    assert snap.files == before.files and (snap.dv or {}) == {}
    assert sorted(r.v for r in table.read(spark).collect()) == [10, 20]


def test_dv_nondeterministic_predicate_single_evaluation(spark, table):
    """Review r10 (data-loss class): a merge-on-read delete/update
    evaluates its predicate EXACTLY ONCE (positions frozen in the
    sidecar; counts, post-image, and CDF replay all derive from it) —
    pinned with rand() predicates, where any re-evaluation would make
    the committed table, the manifest counts, and the feed disagree."""
    table.append(
        spark.range(0, 400).selectExpr("id", "id AS v").coalesce(2)
    )
    snap = table.delete(spark, "rand() < 0.3", mode="merge-on-read")
    live = sorted(r.id for r in table.read(spark).collect())
    dead = sorted(
        r.id
        for r in table.read_changes_cdf(spark, since_version=0)
        .filter("_change_type = 'delete'")
        .collect()
    )
    assert sorted(live + dead) == list(range(400)), "exact partition"
    assert snap.metrics["rows_soft_deleted"] == len(dead)
    assert sum(e[1] for e in snap.dv.values()) == len(dead)
    # MoR update with a random predicate: pre/post pair counts agree
    # with each other and with the rows that actually changed
    snap2 = table.update(
        spark, "rand() < 0.3", {"v": "v + 1000000"}, mode="merge-on-read"
    )
    feed = (
        table.read_changes_cdf(spark, since_version=snap.version)
        .groupBy("_change_type")
        .count()
        .collect()
    )
    counts = {r["_change_type"]: r["count"] for r in feed}
    n_changed = table.read(spark).filter("v >= 1000000").count()
    assert counts.get("update_preimage", 0) == counts.get(
        "update_postimage", 0
    ) == n_changed == snap2.metrics["rows_soft_deleted"]
    assert table.read(spark).count() == len(live), "updates never drop rows"


def test_dv_vacuum_pins_kept_replay_inputs(spark, table):
    """Review r10: vacuum keeps the DATA files a kept manifest's CDF
    replay reads (a fully-dead file dropped by a kept merge-on-read
    delete, a COW delete's removed files), not just the dv sidecars —
    the feed stays readable over the whole kept window."""
    table.append(_kv(spark, [(1, 1), (2, 1)]).coalesce(1))   # v0: one file
    table.append(_kv(spark, [(3, 2)]).coalesce(1))           # v1
    table.delete(spark, "v = 1", mode="merge-on-read")       # v2: drops file
    table.vacuum(keep_versions=2, grace_seconds=0.0)         # keeps v1, v2
    rows = {
        (r.k, r._change_type)
        for r in table.read_changes_cdf(spark, since_version=1).collect()
    }
    assert rows == {(1, "delete"), (2, "delete")}, (
        "replay inputs of a kept manifest must survive vacuum"
    )
    # once the manifest leaves the window, its inputs reclaim
    table.append(_kv(spark, [(4, 3)]))                       # v3
    table.append(_kv(spark, [(5, 3)]))                       # v4
    removed = table.vacuum(keep_versions=2, grace_seconds=0.0)
    assert removed, "aged-out replay inputs are reclaimed"


# ---------------- shallow clone + incremental CDF consumer ----------------


def test_shallow_clone_zero_copy_and_divergence(spark, table, tmp_path):
    """SHALLOW CLONE: zero data copied (the clone's data dir does not
    exist), reads match the source exactly (including carried deletion
    vectors and constraints), and the clone then diverges without ever
    touching the source — its rewrites materialize locally, its vacuum
    lists only its own directory."""
    table.append(
        spark.range(0, 50).selectExpr("id", "id % 5 AS v").coalesce(2)
    )
    table.delete(spark, "v = 1", mode="merge-on-read")
    table.add_check_constraint(spark, "v_pos", "v >= 0")
    clone = table.shallow_clone(str(tmp_path / "clone"))
    assert not (clone.root / "data").exists(), "no data copied"
    exp = sorted(i for i in range(50) if i % 5 != 1)
    assert sorted(r.id for r in clone.read(spark).collect()) == exp
    assert "v_pos" in clone.snapshot().constraints
    with pytest.raises(Exception, match="v_pos"):
        clone.append(_kv(spark, [(9, -1)]))  # constraint carried, live
    # divergence: append + a MoR delete whose dv covers SOURCE files
    clone.append(spark.range(100, 110).selectExpr("id", "id % 5 AS v"))
    clone.delete(spark, "v = 2", mode="merge-on-read")
    exp2 = sorted(
        [i for i in range(50) if i % 5 not in (1, 2)]
        + [i for i in range(100, 110) if i % 5 != 2]
    )
    assert sorted(r.id for r in clone.read(spark).collect()) == exp2
    assert sorted(r.id for r in table.read(spark).collect()) == exp
    # CDF from scratch: clone v0 replays as inserts MINUS carried dv
    cdf = clone.read_changes_cdf(spark, since_version=-1)
    ins = sorted(r.id for r in cdf.filter("_change_type='insert'").collect())
    assert ins == sorted(exp + list(range(100, 110)))
    with pytest.raises(ValueError, match="deletion vectors"):
        clone.read_changes(spark, since_version=-1)
    # compact cuts the cord; vacuum reclaims only local files
    clone.compact(spark, target_files=2)
    clone.vacuum(keep_versions=1, grace_seconds=0.0)
    assert sorted(r.id for r in clone.read(spark).collect()) == exp2
    assert sorted(r.id for r in table.read(spark).collect()) == exp
    assert all(
        not f.startswith("/") for f in clone.snapshot().files
    ), "post-compact files are clone-relative (the cord is cut)"


def test_shallow_clone_refuses_existing_target(spark, table, tmp_path):
    table.append(_kv(spark, [(1, 1)]))
    other = SnapshotTable(str(tmp_path / "other"))
    other.append(_kv(spark, [(2, 2)]))
    with pytest.raises(FileExistsError):
        table.shallow_clone(str(other.root))


def test_process_changes_cdf_incremental_exactly_once(spark, table, tmp_path):
    """The mutation-aware incremental consumer: each call feeds only
    the unseen versions' FULL feed (inserts and deletes), advances the
    checkpoint atomically, and no-ops when idle."""
    ck = str(tmp_path / "ck" / "cdf")
    seen = []

    def handle(df, v):
        seen.append((v, {(r.k, r._change_type) for r in df.collect()}))

    table.append(_kv(spark, [(1, 10), (2, 200)]))
    assert table.process_changes_cdf(spark, ck, handle) == 0
    table.delete(spark, "v >= 100")
    table.update(spark, "k = 1", {"v": "v + 1"})
    assert table.process_changes_cdf(spark, ck, handle) == 2
    assert table.process_changes_cdf(spark, ck, handle) is None
    assert seen == [
        (0, {(1, "insert"), (2, "insert")}),
        (2, {(2, "delete"), (1, "update_preimage"), (1, "update_postimage")}),
    ]


def test_shallow_clone_reconstructs_legacy_batch_ids(spark, table, tmp_path):
    """Review r10 (clone diff): a source whose manifests predate
    batch-id recording (batch_ids=None) must clone with the replay set
    RECONSTRUCTED from history — collapsing None to an empty set would
    let a foreachBatch producer re-apply an already-committed batch to
    the clone (duplicate rows)."""
    table.commit_batch(_kv(spark, [(1, 10)]), batch_id=7)       # v0
    table.append(_kv(spark, [(2, 20)]))                         # v1
    for m in sorted(table.manifest_dir.glob("v*.json")):
        raw = json.loads(m.read_text())
        raw.pop("batch_ids", None)  # legacy shape: per-commit batch_id
        m.write_text(json.dumps(raw))  # stays, cumulative set absent
    assert table.snapshot().batch_ids is None
    clone = table.shallow_clone(str(tmp_path / "clone"))
    assert clone.snapshot().batch_ids == (7,)
    before = clone.current_version()
    clone.commit_batch(_kv(spark, [(1, 10)]), batch_id=7)  # replay
    assert clone.current_version() == before, "replayed batch skipped"
    assert clone.read(spark).count() == 2


def test_mor_delete_on_legacy_inline_file_layout(spark, table):
    """Review r10 (clone diff): a legacy/hand-written manifest may list
    data files at arbitrary relative paths (not data/<uuid>/<name>).
    The dv join key must fall back to the table-relative string on BOTH
    sides — the frozen sidecar and every reader — so a merge-on-read
    delete on such a table masks exactly its rows instead of crashing
    (or worse, committing a dv no read applies)."""
    import shutil

    table.append(_kv(spark, [(1, 10), (2, 20), (3, 30)]).coalesce(1))
    src_rel = table.snapshot(0).files[0]
    shutil.copy(table.root / src_rel, table.root / "legacy-part.parquet")
    m = table.manifest_dir / "v00000000.json"
    raw = json.loads(m.read_text())
    stats = (raw.get("stats") or raw.get("stats_add") or {}).get(src_rel)
    for k in ("add", "remove", "stats_add"):
        raw.pop(k, None)
    raw["files"] = ["legacy-part.parquet"]
    raw["stats"] = {"legacy-part.parquet": stats} if stats else {}
    m.write_text(json.dumps(raw))
    table.delete(spark, "k = 2", mode="merge-on-read")          # v1
    snap = table.snapshot()
    assert "legacy-part.parquet" in (snap.dv or {}), "dv keyed by path"
    assert sorted(r.k for r in table.read(spark).collect()) == [1, 3]
    dels = {
        (r.k, r._change_type)
        for r in table.read_changes_cdf(spark, since_version=0).collect()
    }
    assert dels == {(2, "delete")}
    # a second MoR delete consolidates with the prior legacy-keyed dv
    table.delete(spark, "k = 3", mode="merge-on-read")          # v2
    assert sorted(r.k for r in table.read(spark).collect()) == [1]


def test_cow_delete_nondeterministic_predicate_single_evaluation(
    spark, table
):
    """r10: copy-on-write DELETE now freezes its matched positions too
    (the merge-on-read discipline extended to rewrites): survivors are
    the anti-join and the CDF replay the semi-join of ONE predicate
    evaluation — pinned with rand(), where the legacy derive-at-replay
    path would report a different row set than the rewrite removed."""
    table.append(
        spark.range(0, 400).selectExpr("id", "id AS v").coalesce(2)
    )
    table.delete(spark, "rand() < 0.3")  # copy-on-write
    live = sorted(r.id for r in table.read(spark).collect())
    dead = sorted(
        r.id
        for r in table.read_changes_cdf(spark, since_version=0)
        .filter("_change_type = 'delete'")
        .collect()
    )
    assert sorted(live + dead) == list(range(400)), "exact partition"
    assert 0 < len(dead) < 400  # rand() matched something, not all
    # the frozen sidecar is manifest-referenced and survives vacuum
    # while its manifest is kept
    raw = table._raw_manifest(1)
    assert raw.get("dv_new"), "COW delete records its frozen sidecar"
    assert (table.root / raw["dv_new"]).exists()


def test_cow_delete_no_matching_rows_skips_rewrite(spark, table):
    """r10: a COW delete whose stats-surviving files hold no matching
    live row commits an auditable no-op instead of rewriting files
    byte-identically (stats envelopes are conservative; the frozen
    sidecar is the exact arbiter)."""
    table.append(_kv(spark, [(1, 10), (2, 20), (5, 50)]).coalesce(1))
    before = table.snapshot()
    # k=3 is inside [1, 5] so stats cannot prune, but no row matches
    snap = table.delete(spark, "k = 3")
    assert snap.op == "delete" and set(snap.files) == set(before.files)
    assert table.read(spark).count() == 3
    # the no-op is row-neutral to the insert-only feed
    assert table.read_changes(spark, since_version=0).count() == 0


def test_shallow_clone_at_version_and_timestamp(spark, table, tmp_path):
    """Delta CLONE ... VERSION AS OF / TIMESTAMP AS OF: the clone's v0
    is the source AS OF that point — later source commits (including a
    delete) are invisible, and everything carries from the historical
    snapshot."""
    import time

    table.append(_kv(spark, [(1, 10), (2, 20)]))             # v0
    mid = time.time()
    table.append(_kv(spark, [(3, 30)]))                      # v1
    table.delete(spark, "k = 1")                             # v2
    c0 = table.shallow_clone(str(tmp_path / "c0"), version=0)
    assert sorted(r.k for r in c0.read(spark).collect()) == [1, 2]
    ct = table.shallow_clone(str(tmp_path / "ct"), timestamp=mid)
    assert sorted(r.k for r in ct.read(spark).collect()) == [1, 2]
    assert json.loads(
        (c0.manifest_dir / "v00000000.json").read_text()
    )["clone_version"] == 0
    with pytest.raises(ValueError, match="not both"):
        table.shallow_clone(str(tmp_path / "cx"), version=0, timestamp=mid)
    # head clone still sees the delete
    ch = table.shallow_clone(str(tmp_path / "ch"))
    assert sorted(r.k for r in ch.read(spark).collect()) == [2, 3]


def test_table_features_guard_reader_and_writer(spark, table, tmp_path):
    """Delta protocol/table-features parity: manifests self-describe
    required reader/writer features; a build that doesn't implement one
    fails CLOSED (an old reader silently ignoring deletion vectors
    would resurrect soft-deleted rows) — reads refuse unknown reader
    features everywhere (snapshot, CDF, vacuum), writes refuse unknown
    writer features but reads still work."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        UnsupportedTableFeature,
    )

    table.append(_kv(spark, [(1, 10), (2, 20)]).coalesce(1))   # v0
    table.delete(spark, "k = 1", mode="merge-on-read")         # v1: dv
    raw = table._raw_manifest(1)
    assert raw["reader_features"] == ["deletion-vectors"]
    table.add_check_constraint(spark, "k_pos", "k > 0")        # v2
    assert table._raw_manifest(2)["writer_features"] == [
        "check-constraints"
    ]
    clone = table.shallow_clone(str(tmp_path / "clone"))
    craw = clone._raw_manifest(0)
    assert set(craw["reader_features"]) == {
        "deletion-vectors",
        "absolute-paths",
    }
    # a manifest from a NEWER writer: unknown reader feature -> every
    # read fails closed
    m = table.manifest_dir / "v00000002.json"
    raw2 = json.loads(m.read_text())
    raw2["reader_features"] = ["deletion-vectors", "v9-row-tracking"]
    m.write_text(json.dumps(raw2))
    with pytest.raises(UnsupportedTableFeature, match="v9-row-tracking"):
        table.read(spark).collect()
    with pytest.raises(UnsupportedTableFeature):
        table.vacuum(grace_seconds=0.0)
    # unknown WRITER feature: reads fine, appends refused
    raw2["reader_features"] = ["deletion-vectors"]
    raw2["writer_features"] = ["check-constraints", "v9-identity-cols"]
    m.write_text(json.dumps(raw2))
    assert sorted(r.k for r in table.read(spark).collect()) == [2]
    with pytest.raises(UnsupportedTableFeature, match="v9-identity-cols"):
        table.append(_kv(spark, [(3, 30)]))


# ---------------- column mapping (RENAME / DROP COLUMN) ----------------


def test_rename_column_metadata_only_and_read_paths(spark, table):
    """RENAME COLUMN is metadata-only (Delta columnMapping): zero data
    rewritten, old files' physical name serves the new logical name,
    post-rename appends write the PHYSICAL name so old and new files
    stay one logical column; time travel sees each version's names."""
    import pyarrow.parquet as pq

    table.append(_kv(spark, [(1, 10), (2, 20)]).coalesce(1))    # v0
    before = set(table.snapshot().files)
    table.rename_column("v", "amount")                          # v1
    snap = table.snapshot()
    assert set(snap.files) == before, "no data rewritten"
    assert snap.column_mapping == {"amount": "v"}
    assert "column-mapping" in table._raw_manifest(1)["reader_features"]
    df = table.read(spark)
    assert sorted(df.columns) == ["amount", "k"]
    assert sorted((r.k, r.amount) for r in df.collect()) == [
        (1, 10),
        (2, 20),
    ]
    # post-rename append arrives LOGICAL, lands PHYSICAL
    table.append(
        spark.createDataFrame([(3, 30)], "k long, amount long")
    )                                                            # v2
    newfile = (set(table.snapshot().files) - before).pop()
    assert "v" in pq.read_schema(str(table.root / newfile)).names
    assert sorted(
        (r.k, r.amount) for r in table.read(spark).collect()
    ) == [(1, 10), (2, 20), (3, 30)]
    # time travel: v0 still reads the old name
    assert sorted(table.read(spark, version=0).columns) == ["k", "v"]
    # rename back to the physical name drops the mapping entry
    table.rename_column("amount", "v")                           # v3
    assert table.snapshot().column_mapping == {}
    assert sorted(table.read(spark).columns) == ["k", "v"]


def test_rename_column_mutations_and_stats_pruning(spark, table):
    """Mutations speak the logical name end to end: stats pruning
    translates to the physical envelope (a disjoint delete on the
    renamed column stays metadata-only), UPDATE/merge/replace work,
    and CHECK constraints enforce on mapped appends."""
    table.append(
        spark.createDataFrame(
            [(1, 5), (2, 50), (3, 500)], "k long, v long"
        ).coalesce(1)
    )                                                            # v0
    table.rename_column("v", "amount")                           # v1
    # disjoint predicate on the RENAMED column: metadata-only
    orig_write = type(table)._write_data
    type(table)._write_data = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("disjoint delete must not write")
    )
    try:
        table.delete(spark, "amount < 0")                        # v2
    finally:
        type(table)._write_data = orig_write
    assert table.read(spark).count() == 3
    table.update(spark, "amount = 50", {"amount": "amount + 1"})  # v3
    assert sorted(
        r.amount for r in table.read(spark).collect()
    ) == [5, 51, 500]
    table.delete(spark, "amount > 400", mode="merge-on-read")    # v4
    assert sorted(
        r.amount for r in table.read(spark).collect()
    ) == [5, 51]
    table.merge(
        spark,
        spark.createDataFrame([(1, 6), (9, 90)], "k long, amount long"),
        key_cols=["k"],
    )                                                            # v5
    assert sorted(
        (r.k, r.amount) for r in table.read(spark).collect()
    ) == [(1, 6), (2, 51), (9, 90)]
    table.add_check_constraint(spark, "amt_pos", "amount >= 0")  # v6
    with pytest.raises(Exception, match="amt_pos"):
        table.append(
            spark.createDataFrame([(7, -1)], "k long, amount long")
        )
    # compact keeps the mapping and the logical view
    table.compact(spark, target_files=1)                         # v7
    assert sorted(
        (r.k, r.amount) for r in table.read(spark).collect()
    ) == [(1, 6), (2, 51), (9, 90)]


def test_drop_column_tombstones_and_refusals(spark, table, tmp_path):
    """DROP COLUMN projects the column away metadata-only; re-adding a
    name whose physical slot old files still occupy is refused (no
    Delta col-ids — refuse honestly); constraint-referenced columns
    cannot drop; clones carry mapping; the connector fails closed."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
    )

    table.append(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], "k long, v long, tag string"
        )
    )                                                            # v0
    table.add_check_constraint(spark, "v_pos", "v >= 0")         # v1
    with pytest.raises(ValueError, match="v_pos"):
        table.drop_column("v")
    table.drop_column("tag")                                     # v2
    assert sorted(table.read(spark).columns) == ["k", "v"]
    assert table.snapshot().dropped_physical == ("tag",)
    # re-adding 'tag' would surface the old files' bytes: refused
    with pytest.raises(ValueError, match="renamed or dropped"):
        table.append(
            spark.createDataFrame(
                [(3, 30, "x")], "k long, v long, tag string"
            )
        )
    # a different name is fine (schema evolution unaffected)
    table.append(
        spark.createDataFrame(
            [(3, 30, "x")], "k long, v long, label string"
        )
    )                                                            # v3
    out = table.read(spark)
    assert sorted(out.columns) == ["k", "label", "v"]
    assert sorted(
        (r.k, r.label) for r in out.collect()
    ) == [(1, None), (2, None), (3, "x")]
    clone = table.shallow_clone(str(tmp_path / "clone"))
    assert clone.snapshot().dropped_physical == ("tag",)
    assert sorted(clone.read(spark).columns) == ["k", "label", "v"]
    # the batch connector serves the mapped table: dropped column
    # invisible, schema from the manifest record
    spark.dataSource.register(SnapshotDataSource)
    via = spark.read.format("snapshot_table").load(str(table.root))
    assert sorted(via.columns) == ["k", "label", "v"]
    assert sorted(
        (r.k, r.label) for r in via.collect()
    ) == [(1, None), (2, None), (3, "x")]


def test_rename_refuses_cdf_crossing_and_rebase(spark, table):
    """Change feeds refuse a range crossing a rename (names would
    misalign across versions — Delta's incompatible-schema-change
    posture); sub-ranges on either side replay fine."""
    table.append(_kv(spark, [(1, 10)]))                          # v0
    table.rename_column("v", "amount")                           # v1
    table.append(
        spark.createDataFrame([(2, 20)], "k long, amount long")
    )                                                            # v2
    with pytest.raises(ValueError, match="schema change"):
        table.read_changes_cdf(spark, since_version=-1).collect()
    post = table.read_changes_cdf(spark, since_version=1)
    assert [(r.k, r.amount, r._change_type) for r in post.collect()] == [
        (2, 20, "insert")
    ]
    with pytest.raises(ValueError, match="schema change"):
        table.read_changes(spark, since_version=0)
    # the opt-in serves the WHOLE range under the until-version
    # logical names — exact because physical slots are never reused
    allowed = table.read_changes(
        spark, since_version=0, allow_schema_change=True
    )
    assert sorted(
        (r.k, r.amount) for r in allowed.collect()
    ) == [(2, 20)]


def test_rename_refused_when_constraint_references_column(spark, table):
    """Review r10: renaming a CHECK-referenced column would wedge every
    later write (the expression still names the old column) — refuse
    up front, as Delta does."""
    table.append(_kv(spark, [(1, 10)]))
    table.add_check_constraint(spark, "v_pos", "v >= 0")
    with pytest.raises(ValueError, match="v_pos"):
        table.rename_column("v", "amount")
    # dropping the constraint unblocks the rename
    table.drop_constraint("v_pos")
    table.rename_column("v", "amount")
    assert sorted(table.read(spark).columns) == ["amount", "k"]


def test_cow_delete_write_failure_strands_nothing(spark, table):
    """Review r10: a survivor-write failure inside a COW delete must
    drop the already-landed frozen sidecar too (the eager no-orphan
    contract the MoR paths already honor)."""
    table.append(_kv(spark, [(1, 10), (2, 20)]).coalesce(1))
    committed = set(table.snapshot().files)
    orig = type(table)._write_data

    def boom(self, df, enforce=True, enforced_out=None, **kw):
        raise RuntimeError("synthetic write failure")

    type(table)._write_data = boom
    try:
        with pytest.raises(RuntimeError, match="synthetic"):
            table.delete(spark, "k = 1")
    finally:
        type(table)._write_data = orig
    on_disk = {
        str(p.relative_to(table.root))
        for p in table.root.rglob("*.parquet")
        if not p.name.startswith((".", "_"))
    }
    # nothing outside the committed set survives — no data orphans AND
    # no orphaned dv sidecar dir
    strays = {
        f for f in on_disk - committed if not f.startswith("_manifests")
    }
    assert strays == set(), f"stranded: {strays}"


def test_cow_delete_large_fraction_shards_frozen_sidecar(spark, table):
    """VERDICT r10 #1: a large-fraction COW delete's frozen position
    set must NOT funnel through one writer task into one giant sidecar
    object. ``_write_dv(single=False)`` shards by ``file``; the
    manifest records ``dv_new`` as a file LIST and every consumer
    (survivor anti-join, CDF semi-join, vacuum pinning) normalizes.
    AQE's partition coalescing is disabled for the delete so the
    test-sized position set actually exercises the multi-file layout a
    100 TB delete would produce."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        _dv_new_list,
    )

    # 8 data files, delete ~50% of rows scattered across all of them
    table.append(
        spark.range(0, 800).selectExpr("id", "id AS v").repartition(8)
    )
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        table.delete(spark, "v % 2 = 0")
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
    raw = table._raw_manifest(1)
    frozen = _dv_new_list(raw.get("dv_new"))
    assert len(frozen) > 1, (
        f"large COW freeze must shard the sidecar, got {frozen}"
    )
    for f in frozen:
        assert (table.root / f).exists()
    # exact survivors
    live = sorted(r.id for r in table.read(spark).collect())
    assert live == list(range(1, 800, 2))
    # exact CDF replay of the removed rows from the sharded sidecar
    dead = sorted(
        r.id
        for r in table.read_changes_cdf(spark, since_version=0)
        .filter("_change_type = 'delete'")
        .collect()
    )
    assert dead == list(range(0, 800, 2))
    # vacuum pins every shard while the delete manifest is kept
    table.vacuum(keep_versions=10, grace_seconds=0.0)
    for f in frozen:
        assert (table.root / f).exists(), f"vacuum reclaimed live shard {f}"


def test_cow_delete_sharded_sidecar_streams_through_cdf_connector(
    spark, table
):
    """The streaming change feed replays a sharded COW delete from the
    sidecar file LIST (per-file positions live in exactly one shard;
    the Arrow read prunes the rest on footer min/max)."""
    import pyspark.sql.functions as F

    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
    )
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
        _dv_new_list,
    )

    spark.dataSource.register(SnapshotDataSource)
    table.append(
        spark.range(0, 400).selectExpr("id", "id AS v").repartition(4)
    )
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        table.delete(spark, "v % 4 = 0")
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
    assert len(_dv_new_list(table._raw_manifest(1).get("dv_new"))) > 1, (
        "setup: freeze must actually shard"
    )
    stream = (
        spark.readStream.format("snapshot_table")
        .option("readChangeFeed", "true")
        .load(str(table.root))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("cow_shard_cdf")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("cow_shard_cdf")
    dead = sorted(
        r.id
        for r in got.filter(F.col("_change_type") == "delete").collect()
    )
    assert dead == list(range(0, 400, 4))
    assert got.filter("_change_type = 'insert'").count() == 400


def test_read_changes_mapped_table_serves_logical_names(spark, table):
    """ADVICE r10: the insert-only feed on a column-mapped table must
    serve LOGICAL column names (the raw parquet read served physical
    ones). Mapping established BEFORE the range; no crossing."""
    table.append(_kv(spark, [(1, 10)]))                          # v0
    table.rename_column("v", "amount")                           # v1
    table.append(
        spark.createDataFrame([(2, 20)], "k long, amount long")
    )                                                            # v2
    feed = table.read_changes(spark, since_version=1)
    assert sorted(feed.columns) == ["amount", "k"]
    assert [(r.k, r.amount) for r in feed.collect()] == [(2, 20)]


def test_read_changes_ignore_deletes_and_skip_change_commits(spark, table):
    """VERDICT r10 task #3 (Delta's stream-source opt-outs):
    ignore_deletes skips a remove-only delete (MoR soft delete) so the
    insert-only feed keeps draining appends; it still refuses a COW
    delete that rewrote survivors (serving the rewrite would duplicate
    rows); skip_change_commits skips ANY row-changing commit. The
    default refusal is unchanged."""
    table.append(_kv(spark, [(1, 10), (2, 200), (6, 60)]).coalesce(1))  # v0
    table.append(_kv(spark, [(3, 30)]).coalesce(1))              # v1
    table.delete(spark, "v >= 100", mode="merge-on-read")        # v2: MoR
    table.append(_kv(spark, [(4, 40)]).coalesce(1))              # v3
    # default: refuses the row-removing commit
    with pytest.raises(ValueError, match="non-append"):
        table.read_changes(spark, since_version=0)
    # ignore_deletes: the MoR delete added no file -> skipped
    got = sorted(
        (r.k, r.v)
        for r in table.read_changes(
            spark, since_version=0, ignore_deletes=True
        ).collect()
    )
    assert got == [(3, 30), (4, 40)]
    # a COW delete rewrites survivors ((6, 60)) into NEW files:
    # ignore_deletes must still refuse (duplicates), skip_change_commits
    # skips it
    table.delete(spark, "k = 1")                                 # v4: COW
    table.append(_kv(spark, [(5, 50)]).coalesce(1))              # v5
    with pytest.raises(ValueError, match="skipChangeCommits"):
        table.read_changes(spark, since_version=3, ignore_deletes=True)
    got = sorted(
        (r.k, r.v)
        for r in table.read_changes(
            spark, since_version=0, skip_change_commits=True
        ).collect()
    )
    assert got == [(3, 30), (4, 40), (5, 50)]
    # an UPDATE is never skippable via ignore_deletes
    table.update(spark, "k = 5", {"v": "v + 1"})                 # v6
    with pytest.raises(ValueError, match="non-append"):
        table.read_changes(spark, since_version=5, ignore_deletes=True)
    assert (
        table.read_changes(
            spark, since_version=5, skip_change_commits=True
        ).count()
        == 0
    )
    # a MoR delete hitting an IN-RANGE file: the feed must mask the
    # retired rows instead of serving them as live inserts (review
    # r11 pass 3 — parity with the stream source's dv-masked serve)
    table.append(_kv(spark, [(7, 70), (8, 800)]).coalesce(1))    # v7
    table.delete(spark, "v >= 500", mode="merge-on-read")        # v8
    table.append(_kv(spark, [(9, 90)]).coalesce(1))              # v9
    got = sorted(
        (r.k, r.v)
        for r in table.read_changes(
            spark, since_version=6, ignore_deletes=True
        ).collect()
    )
    assert got == [(7, 70), (9, 90)], "in-range-deleted row resurfaced"


def test_process_changes_delete_tolerance_flags(spark, table, tmp_path):
    """The incremental consumer accepts the stream source's
    delete-tolerance opt-outs: with ignore_deletes a MoR delete in the
    unseen range is skipped and the checkpoint advances; the default
    stays wedged (and advances nothing)."""
    ck = str(tmp_path / "ck")
    got: list = []
    handle = lambda df, v: got.extend(  # noqa: E731
        r.k for r in df.collect()
    )
    table.append(_kv(spark, [(1, 10)]).coalesce(1))              # v0
    assert table.process_changes(spark, ck, handle) == 0
    table.delete(spark, "v >= 10", mode="merge-on-read")         # v1
    table.append(_kv(spark, [(2, 20)]).coalesce(1))              # v2
    with pytest.raises(ValueError, match="non-append"):
        table.process_changes(spark, ck, handle)
    # the failed run must not have advanced the checkpoint
    assert (tmp_path / "ck").read_text().strip() == "0"
    assert (
        table.process_changes(spark, ck, handle, ignore_deletes=True)
        == 2
    )
    assert got == [1, 2]


def test_read_changes_masks_follow_delete_commits_only(spark, table):
    """Review r11 pass 4: the batch feed's tolerance masking must use
    the in-range DELETE commits' frozen dv_new sidecars — the
    until-version dv map drops entries for retired files (serving
    dead rows raw) and folds in skipped MoR updates' pre-images
    (vanishing the updated rows)."""
    table.append(_kv(spark, [(100, 1)]).coalesce(1))             # v0
    # (i) delete then compact: entry materialized away at until
    table.append(_kv(spark, [(1, 10), (2, 20), (3, 30)]).coalesce(1))  # v1
    table.delete(spark, "k = 2", mode="merge-on-read")           # v2
    table.compact(spark, target_files=1)                         # v3
    got = sorted(
        r.k
        for r in table.read_changes(
            spark, since_version=0, ignore_deletes=True
        ).collect()
    )
    assert got == [1, 3], "compact must not resurrect the deleted row"
    # (ii) COW delete retires the file: dv_new = exact survivors
    table.append(_kv(spark, [(4, 40), (5, 50)]).coalesce(1))     # v4
    table.delete(spark, "k = 4")                                 # v5: COW
    got = sorted(
        r.k
        for r in table.read_changes(
            spark, since_version=3, skip_change_commits=True
        ).collect()
    )
    assert got == [5], "COW-deleted row resurfaced in the batch feed"
    # (iii) skipped MoR UPDATE: pre-image must NOT vanish
    table.append(_kv(spark, [(6, 60), (7, 70)]).coalesce(1))     # v6
    table.update(
        spark, "k = 6", {"v": "v + 999"}, mode="merge-on-read"
    )                                                            # v7
    table.delete(spark, "k = 7", mode="merge-on-read")           # v8
    got = sorted(
        (r.k, r.v)
        for r in table.read_changes(
            spark, since_version=5, skip_change_commits=True
        ).collect()
    )
    assert got == [(6, 60)], (
        "skipped-update pre-image vanished or deleted row resurfaced"
    )
    # (iv) remove-only full death: file serves zero rows
    table.append(_kv(spark, [(8, 80)]).coalesce(1))              # v9
    table.delete(spark, "k = 8", mode="merge-on-read")           # v10
    assert (
        table.read_changes(
            spark, since_version=8, ignore_deletes=True
        ).count()
        == 0
    )


# ---------------------------------------------------------------------------
# MERGE clause parity (VERDICT r11 task #3): per-clause conditions and
# when_not_matched_by_source
# ---------------------------------------------------------------------------


def _kvt(spark, rows):
    return spark.createDataFrame(rows, "k long, v long, ts long")


def test_merge_matched_condition_applies_only_newer(spark, table):
    """The CDC idiom whenMatched(source.ts > target.ts).update(): a
    matched source row older than the target row is a no-op — the
    target row stays; newer rows replace; unmatched rows insert."""
    table.append(_kvt(spark, [(1, 10, 100), (2, 20, 100), (3, 30, 100)]))
    src = _kvt(spark, [(1, 11, 200), (2, 22, 50), (9, 99, 1)])
    table.merge(
        spark, src, ["k"],
        when_matched=("update", "source.ts > target.ts"),
    )
    got = {r.k: (r.v, r.ts) for r in table.read(spark).collect()}
    assert got == {
        1: (11, 200),   # newer: updated
        2: (20, 100),   # older: target kept, NOT updated
        3: (30, 100),   # untouched
        9: (99, 1),     # unmatched: inserted
    }


def test_merge_matched_condition_fail_never_falls_through_to_insert(
    spark, table
):
    """MERGE clause semantics: a key-MATCHED source row whose matched
    condition fails is NOT 'not matched' — it must not insert a
    duplicate key."""
    table.append(_kvt(spark, [(1, 10, 100)]))
    src = _kvt(spark, [(1, 11, 50)])  # matched, but older
    table.merge(
        spark, src, ["k"],
        when_matched=("update", "source.ts > target.ts"),
    )
    rows = table.read(spark).collect()
    assert len(rows) == 1 and rows[0].v == 10


def test_merge_matched_conditional_delete(spark, table):
    """whenMatched(cond).delete(): only condition-passing matches go."""
    table.append(_kvt(spark, [(1, 10, 100), (2, 20, 100)]))
    src = _kvt(spark, [(1, 0, 200), (2, 0, 50)])
    table.merge(
        spark, src, ["k"],
        when_matched=("delete", "source.ts > target.ts"),
        when_not_matched=None,
    )
    got = {r.k for r in table.read(spark).collect()}
    assert got == {2}, "only the condition-passing match is deleted"


def test_merge_not_matched_condition_gates_insert(spark, table):
    """whenNotMatched(cond).insert(): unmatched source rows failing the
    condition are silently dropped (source-scope, unqualified names)."""
    table.append(_kvt(spark, [(1, 10, 100)]))
    src = _kvt(spark, [(8, 80, 1), (9, 9, 1)])
    table.merge(
        spark, src, ["k"],
        when_not_matched=("insert", "v >= 50"),
    )
    got = {r.k for r in table.read(spark).collect()}
    assert got == {1, 8}, "v=9 fails the insert condition"


def test_merge_not_matched_condition_on_empty_table(spark, table):
    """First-commit merge: the insert condition still gates entry."""
    src = _kvt(spark, [(1, 100, 1), (2, 5, 1)])
    snap = table.merge(
        spark, src, ["k"], when_not_matched=("insert", "v >= 50")
    )
    assert snap.op == "merge"
    assert [r.k for r in table.read(spark).collect()] == [1]


def test_merge_not_matched_by_source_full_sync(spark, table):
    """The full-sync mirror shape (whenNotMatchedBySource.delete):
    after the merge the table IS the source batch."""
    table.append(_kvt(spark, [(1, 10, 1), (2, 20, 1), (3, 30, 1)]))
    src = _kvt(spark, [(2, 22, 2), (4, 44, 2)])
    table.merge(
        spark, src, ["k"],
        when_not_matched_by_source="delete",
    )
    got = {r.k: r.v for r in table.read(spark).collect()}
    assert got == {2: 22, 4: 44}


def test_merge_not_matched_by_source_conditional_update(spark, table):
    """whenNotMatchedBySource(cond).update(set): target rows absent
    from the source and passing the condition get the set expressions;
    failing rows stay verbatim."""
    table.append(_kvt(spark, [(1, 10, 100), (2, 20, 100), (3, 30, 100)]))
    src = _kvt(spark, [(1, 11, 200)])
    table.merge(
        spark, src, ["k"],
        when_not_matched=None,
        when_not_matched_by_source=("update", {"v": "v + 1000"}, "v >= 25"),
    )
    got = {r.k: r.v for r in table.read(spark).collect()}
    assert got == {1: 11, 2: 20, 3: 1030}


def test_merge_by_source_unconditional_delete_no_matched_clause(
    spark, table
):
    """when_matched=None composes: keep matched rows untouched, purge
    everything the source no longer carries."""
    table.append(_kvt(spark, [(1, 10, 1), (2, 20, 1)]))
    src = _kvt(spark, [(1, 999, 9)])
    table.merge(
        spark, src, ["k"],
        when_matched=None,
        when_not_matched=None,
        when_not_matched_by_source="delete",
    )
    got = {r.k: r.v for r in table.read(spark).collect()}
    assert got == {1: 10}, "matched row must stay UNtouched (no clause)"


def test_merge_by_source_prunes_condition_disjoint_files(spark, table):
    """Pruning inversion: under a by-source clause a key-disjoint file
    is carried ONLY when the clause condition is stats-provably
    unsatisfiable on it; otherwise it must be rewritten."""
    table.append(
        spark.range(0, 10)
        .selectExpr("id AS k", "id AS v", "1L AS ts")
        .coalesce(1)
    )
    table.append(
        spark.range(100, 110)
        .selectExpr("id AS k", "id AS v", "1L AS ts")
        .coalesce(1)
    )
    before = table.snapshot()
    low_file = next(f for f in before.files if before.stats[f]["k"][0] == 0)
    high_file = next(
        f for f in before.files if before.stats[f]["k"][0] == 100
    )
    src = _kvt(spark, [(500, 1, 1)])  # key-disjoint from BOTH files
    table.merge(
        spark, src, ["k"],
        when_not_matched_by_source=("delete", "k >= 100"),
    )
    after = table.snapshot()
    assert low_file in after.files, (
        "condition-disjoint file must be carried verbatim"
    )
    assert high_file not in after.files, (
        "file the by-source condition may hit must be rewritten"
    )
    got = sorted(r.k for r in table.read(spark).collect())
    assert got == list(range(10)) + [500]


def test_merge_by_source_unconditional_touches_every_file(spark, table):
    """An UNconditional by-source clause inverts key pruning entirely:
    even a key-disjoint file holds only by-source rows and must be
    processed (here: deleted), never carried."""
    table.append(
        spark.range(0, 10)
        .selectExpr("id AS k", "id AS v", "1L AS ts")
        .coalesce(1)
    )
    src = _kvt(spark, [(500, 1, 1)])
    table.merge(
        spark, src, ["k"], when_not_matched_by_source="delete"
    )
    assert sorted(r.k for r in table.read(spark).collect()) == [500]


def test_merge_clause_spec_validation(spark, table):
    table.append(_kvt(spark, [(1, 10, 1)]))
    src = _kvt(spark, [(2, 20, 2)])
    with pytest.raises(ValueError, match="when_matched"):
        table.merge(spark, src, ["k"], when_matched="upsert")
    with pytest.raises(ValueError, match="when_not_matched "):
        table.merge(spark, src, ["k"], when_not_matched="update")
    with pytest.raises(ValueError, match="when_not_matched_by_source"):
        table.merge(
            spark, src, ["k"], when_not_matched_by_source=("update", {})
        )
    with pytest.raises(ValueError, match="at least one clause"):
        table.merge(
            spark, src, ["k"], when_matched=None, when_not_matched=None
        )
    with pytest.raises(ValueError, match="unknown columns"):
        table.merge(
            spark, src, ["k"],
            when_not_matched_by_source=("update", {"nope": "1"}),
        )


def test_merge_conditional_cdf_rows(spark, table):
    """change_data with a conditional matched clause + by-source delete:
    the feed carries exactly the rows the commit changed — cond-failing
    matches are silent, by-source victims replay as deletes."""
    table.append(_kvt(spark, [(1, 10, 100), (2, 20, 100), (3, 30, 100)]))
    src = _kvt(spark, [(1, 11, 200), (2, 22, 50), (9, 99, 300)])
    table.merge(
        spark, src, ["k"],
        when_matched=("update", "source.ts > target.ts"),
        when_not_matched_by_source="delete",
        change_data=True,
    )
    cdf = table.read_changes_cdf(spark, since_version=0)
    got = sorted(
        (r.k, r.v, r._change_type)
        for r in cdf.filter("_commit_version = 1").collect()
    )
    assert got == [
        (1, 10, "update_preimage"),
        (1, 11, "update_postimage"),
        (3, 30, "delete"),       # by-source victim
        (9, 99, "insert"),
    ], "k=2 (cond-failing match) must produce NO change row"


def test_merge_by_source_update_cdf_pre_post_pairs(spark, table):
    """by-source UPDATE change rows: one pre/post pair per affected row,
    postimage re-derives the committed set expressions."""
    table.append(_kvt(spark, [(1, 10, 1), (2, 20, 1)]))
    src = _kvt(spark, [(1, 10, 1)])
    table.merge(
        spark, src, ["k"],
        when_matched=None,
        when_not_matched=None,
        when_not_matched_by_source=("update", {"v": "v * 10"}),
        change_data=True,
    )
    # (since, until] bounds: since=0 serves exactly the v1 merge
    cdf = table.read_changes_cdf(spark, since_version=0)
    got = sorted((r.k, r.v, r._change_type) for r in cdf.collect())
    assert got == [
        (2, 20, "update_preimage"),
        (2, 200, "update_postimage"),
    ]
    assert {r.k: r.v for r in table.read(spark).collect()} == {1: 10, 2: 200}


# ---------------------------------------------------------------------------
# Timestamp/date manifest stats (r12): ISO-8601 envelopes make time-keyed
# tables stats-prunable — the commonest CDC key shape
# ---------------------------------------------------------------------------


def _ts_df(spark, day_lo, day_hi):
    """One row per day in [day_lo, day_hi): ts = 2023-01-<day>."""
    return spark.range(day_lo, day_hi).selectExpr(
        "make_timestamp(2023, 1, CAST(id AS INT), 0, 0, 0) AS ts",
        "id AS v",
    )


def test_timestamp_stats_recorded_as_iso_strings(spark, table):
    table.append(_ts_df(spark, 1, 10).coalesce(1))
    snap = table.snapshot()
    env = snap.stats[snap.files[0]]["ts"]
    assert env == ["2023-01-01T00:00:00", "2023-01-09T00:00:00"]
    # lexical == chronological for the recorded encoding
    assert env[0] < env[1]


def test_merge_prunes_disjoint_files_on_timestamp_key(spark, table):
    """A CDC batch keyed on a timestamp column carries time-disjoint
    files verbatim — before r12 a ts key had no envelope at all, so
    every merge rewrote every file."""
    table.append(_ts_df(spark, 1, 10).coalesce(1))    # Jan 1-9
    table.append(_ts_df(spark, 20, 28).coalesce(1))   # Jan 20-27
    before = table.snapshot()
    early_file = next(
        f for f in before.files if before.stats[f]["ts"][0].startswith("2023-01-01")
    )
    src = _ts_df(spark, 21, 23).selectExpr("ts", "999L AS v")
    table.merge(spark, src, ["ts"])
    after = table.snapshot()
    assert early_file in after.files, (
        "time-disjoint file must be carried verbatim on a ts-keyed merge"
    )
    got = {r.ts.day: r.v for r in table.read(spark).collect()}
    assert got[21] == 999 and got[22] == 999 and got[1] == 1
    assert len(got) == 17


def test_replace_where_prunes_on_date_partition_values(spark, table):
    """replace_where with datetime/date partition values compares
    against the ISO-string envelopes without touching disjoint files."""
    import datetime

    df = spark.range(1, 5).selectExpr(
        "make_date(2023, 1, CAST(id AS INT)) AS d", "id AS v"
    )
    table.append(df.filter("v <= 2").coalesce(1))
    table.append(df.filter("v >= 3").coalesce(1))
    before = table.snapshot()
    early = next(
        f for f in before.files if before.stats[f]["d"][0] == "2023-01-01"
    )
    repl = spark.createDataFrame(
        [(datetime.date(2023, 1, 3), 333)], "d date, v long"
    )
    table.replace_where(
        spark, repl, {"d": [datetime.date(2023, 1, 3), datetime.date(2023, 1, 4)]}
    )
    after = table.snapshot()
    assert early in after.files, "date-disjoint file must be carried"
    got = {r.d.day: r.v for r in table.read(spark).collect()}
    assert got == {1: 1, 2: 2, 3: 333}


def test_batch_reader_prunes_files_on_timestamp_filter(spark, table):
    """The Python datasource prunes whole files from ISO-string ts
    envelopes when Spark pushes a datetime comparison."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
    )

    spark.dataSource.register(SnapshotDataSource)
    table.append(_ts_df(spark, 1, 10).coalesce(1))
    table.append(_ts_df(spark, 20, 28).coalesce(1))
    df = spark.read.format("snapshot_table").load(str(table.root))
    hit = df.filter("ts >= timestamp'2023-01-20 00:00:00'")
    assert sorted(r.v for r in hit.collect()) == list(range(20, 28))
    assert hit.rdd.getNumPartitions() == 1, (
        "the early file's envelope should prune it at planning time"
    )


def test_stat_key_normalizes_tz_aware_datetimes():
    import datetime

    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import _stat_key

    aware = datetime.datetime(
        2023, 1, 5, 12, 0, 0,
        tzinfo=datetime.timezone(datetime.timedelta(hours=2)),
    )
    assert _stat_key(aware) == "2023-01-05T10:00:00"
    assert _stat_key(datetime.date(2023, 1, 5)) == "2023-01-05"
    assert _stat_key(42) == 42 and _stat_key("x") == "x"


# ---------------------------------------------------------------------------
# Quoted-literal prover grammar (r12): time/string predicates prune and
# prove off the ISO-string envelopes
# ---------------------------------------------------------------------------


def test_prover_grammar_time_literals_unit(verdict):
    from pyspark.errors.exceptions.base import DateTimeException

    schema = "ts TIMESTAMP, s STRING, d DATE, v BIGINT"

    def disjoint(p, st):
        return verdict(p, st, schema)[0]

    def proven(p, st):
        return verdict(p, st, schema)[1]

    ts_env = {
        "ts": ["2023-01-05T00:00:00", "2023-01-09T23:59:59"],
        "__num_rows__": 10,
    }
    # disjoint: cutoff below the envelope (space sep normalizes to T)
    assert disjoint("ts < '2023-01-05 00:00:00'", ts_env)
    assert disjoint("ts < '2023-01-05'", ts_env)
    # date-only literal pads to midnight: NOT disjoint from a file whose
    # min is exactly midnight under >= (boundary row matches)
    assert not disjoint("ts >= '2023-01-05'", ts_env)
    assert disjoint("ts > '2023-01-10'", ts_env)
    assert disjoint(
        "ts BETWEEN '2023-02-01' AND '2023-03-01'", ts_env
    )
    assert not disjoint(
        "ts BETWEEN '2023-01-09' AND '2023-03-01'", ts_env
    )
    # flip form + typed literal keyword
    assert disjoint("TIMESTAMP '2023-01-04 10:00:00' >= ts", ts_env)
    # proving: every row in range
    assert proven("ts >= '2023-01-05'", ts_env)
    assert proven("ts < '2023-01-10'", ts_env)
    assert not proven("ts >= '2023-01-06'", ts_env)
    # string equality proving refused (truncation hazard); disjoint ok
    s_env = {"s": ["alpha", "alpha"], "__num_rows__": 3}
    assert not proven("s = 'alpha'", s_env)
    assert disjoint("s = 'zeta'", s_env)
    assert proven("s <= 'beta'", s_env)
    # date column vs literal with a time part: Spark casts the literal
    # to DATE '2023-01-01', so the file is disjoint
    d_env = {"d": ["2023-01-05", "2023-01-09"], "__num_rows__": 4}
    assert disjoint("d < '2023-01-01 10:00:00'", d_env)
    assert not disjoint("d <= '2023-01-05 10:00:00'", d_env)
    assert disjoint("d < '2023-01-01'", d_env)
    # non-date string against a time column: the cast error the
    # row-level filter raises propagates
    with pytest.raises(DateTimeException):
        disjoint("ts < 'garbage'", ts_env)
    # numeric grammar unchanged
    n_env = {"v": [5, 9], "__num_rows__": 4}
    assert disjoint("v < 5", n_env)
    assert proven("v BETWEEN 5 AND 9", n_env)


def test_retention_delete_prunes_time_disjoint_files(spark, table):
    """DELETE WHERE ts < cutoff — the daily retention purge — rewrites
    only the files whose envelope crosses the cutoff; files wholly
    inside the retained range carry verbatim (metadata-only off the
    boundary)."""
    table.append(_ts_df(spark, 1, 10).coalesce(1))    # Jan 1-9
    table.append(_ts_df(spark, 20, 28).coalesce(1))   # Jan 20-27
    before = table.snapshot()
    late_file = next(
        f for f in before.files
        if before.stats[f]["ts"][0].startswith("2023-01-20")
    )
    table.delete(spark, "ts < '2023-01-15'")
    after = table.snapshot()
    assert late_file in after.files, (
        "retained-range file must carry verbatim on a retention delete"
    )
    days = sorted(r.ts.day for r in table.read(spark).collect())
    assert days == list(range(20, 28))


def test_check_constraint_proved_from_time_envelope(spark, table):
    """A ts-range CHECK constraint verifies new files from their ISO
    envelopes alone — no row scan (the _constraint_scan seam raises)."""
    import nyc_taxi_data_pipeline_elt_spark.sources.snapshots as snaps

    table.append(_ts_df(spark, 5, 9).coalesce(1))
    table.add_check_constraint(spark, "ts_floor", "ts >= '2023-01-01'")
    orig = snaps._constraint_scan

    def boom(*a, **k):
        raise AssertionError("stats-provable CHECK still row-scanned")

    snaps._constraint_scan = boom
    try:
        table.append(_ts_df(spark, 10, 14).coalesce(1))
    finally:
        snaps._constraint_scan = orig
    assert table.read(spark).count() == 8


# ---------------------------------------------------------------------------
# r12 review-pass fixes: TZ-correct probes, string/timestamp literal
# ambiguity, static validation, deterministic conditions
# ---------------------------------------------------------------------------


def test_stat_key_interprets_naive_as_os_local():
    """Review r12 pass 1: pyspark collect/lit render TimestampType as
    OS-LOCAL naive datetimes regardless of the session timeZone; the
    probe normalizer must apply the same interpretation or every
    envelope comparison shifts by the host offset on non-UTC drivers."""
    import datetime
    import os
    import time as time_mod

    from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import _stat_key

    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time_mod.tzset()
    try:
        naive = datetime.datetime(2023, 1, 5, 0, 0, 0)  # EST wall time
        assert _stat_key(naive) == "2023-01-05T05:00:00"  # = UTC
        aware = datetime.datetime(
            2023, 1, 5, 0, 0, 0, tzinfo=datetime.timezone.utc
        )
        assert _stat_key(aware) == "2023-01-05T00:00:00"
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time_mod.tzset()


def test_merge_ts_key_pruning_correct_on_non_utc_driver(spark, table):
    """End-to-end twin of the _stat_key fix: a ts-keyed merge on a
    driver whose OS timezone is not UTC must prune the genuinely
    disjoint file and still update the matched rows (before the fix
    the local-naive key range shifted by the host offset and could
    prune the file that held the matches)."""
    import os
    import time as time_mod

    table.append(_ts_df(spark, 1, 10).coalesce(1))    # Jan 1-9 UTC
    table.append(_ts_df(spark, 20, 28).coalesce(1))   # Jan 20-27 UTC
    before = table.snapshot()
    early_file = next(
        f for f in before.files
        if before.stats[f]["ts"][0].startswith("2023-01-01")
    )
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time_mod.tzset()
    try:
        src = _ts_df(spark, 21, 23).selectExpr("ts", "999L AS v")
        table.merge(spark, src, ["ts"])
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time_mod.tzset()
    after = table.snapshot()
    assert early_file in after.files
    got = {r.ts.day: r.v for r in table.read(spark).collect()}
    assert got[21] == 999 and got[22] == 999 and got[1] == 1
    assert len(got) == 17


def test_prover_unanimous_over_string_vs_timestamp_interpretation(verdict):
    """Review r12 pass 1: an ISO-datetime-shaped envelope can belong to
    a STRING column holding ISO text, which Spark compares lexically
    against the RAW literal — padding a date-only literal to midnight
    is only right for a true timestamp column. The column's type, not
    the envelope's shape, picks the comparison."""
    def disjoint(p, st):
        return verdict(p, st, "s STRING")[0]

    def proven(p, st):
        return verdict(p, st, "s STRING")[1]

    env = {
        "s": ["2023-01-04T00:00:00", "2023-01-05T00:00:00"],
        "__num_rows__": 2,
    }
    # string reading: '2023-01-05T00:00:00' > '2023-01-05' lexically —
    # the row WOULD match, so the file must NOT be pruned
    assert not disjoint("s > '2023-01-05'", env)
    # and the CHECK twin must not be proven either
    assert not proven("s <= '2023-01-05'", env)
    # both interpretations agree here: safe to prune / prove
    assert disjoint("s > '2023-01-06'", env)
    assert proven("s <= '2023-01-06'", env)


def test_merge_by_source_set_map_validated_without_touched_files(
    spark, table
):
    """Review r12 pass 1: the static set_map spec validates against the
    logical schema even when stats pruning carries every file (the old
    target.columns gate silently no-opped a typo'd column)."""
    table.append(_kvt(spark, [(1, 10, 1)]).coalesce(1))
    src = _kvt(spark, [(500, 1, 1)])  # key-disjoint from the only file
    with pytest.raises(ValueError, match="unknown columns"):
        table.merge(
            spark, src, ["k"],
            when_not_matched_by_source=(
                "update", {"nope": "1"}, "k > 100000"
            ),
        )


def test_merge_refuses_nondeterministic_conditions(spark, table):
    """Review r12 pass 1 / Delta parity: clause conditions are
    evaluated more than once per commit (keep side + incoming keys +
    CDF), so non-deterministic conditions are refused at validation."""
    table.append(_kvt(spark, [(1, 10, 1), (2, 20, 1)]))
    src = _kvt(spark, [(1, 11, 2), (9, 99, 2)])
    with pytest.raises(ValueError, match="deterministic"):
        table.merge(
            spark, src, ["k"], when_matched=("update", "rand() < 0.5")
        )
    with pytest.raises(ValueError, match="deterministic"):
        table.merge(
            spark, src, ["k"], when_not_matched=("insert", "rand() < 0.5")
        )
    with pytest.raises(ValueError, match="deterministic"):
        table.merge(
            spark, src, ["k"],
            when_not_matched_by_source=("delete", "rand() < 0.5"),
        )
    with pytest.raises(ValueError, match="deterministic"):
        table.merge(
            spark, src, ["k"],
            when_not_matched_by_source=(
                "update", {"v": "cast(rand()*10 as long)"}
            ),
            change_data=True,
        )
    # deterministic conditions still work end-to-end
    table.merge(
        spark, src, ["k"], when_matched=("update", "source.ts > target.ts")
    )
    got = {r.k: r.v for r in table.read(spark).collect()}
    assert got == {1: 11, 2: 20, 9: 99}


def test_ntz_envelopes_prune_and_pushdown_filters_work(spark, table):
    """Review r12 pass 1 follow-up: TIMESTAMP_NTZ columns (the
    testdata's o_orderdate shape) record WALL-time ISO envelopes, the
    retention-delete prover prunes on them, and pushed NTZ filters
    neither crash pyarrow (naive-vs-aware) nor misread the wall time."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
    )

    def ntz_df(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "make_timestamp_ntz(2023, 1, CAST(id AS INT), 0, 0, 0) AS tsn",
            "id AS v",
        )

    table.append(ntz_df(1, 10).coalesce(1))    # Jan 1-9 wall
    table.append(ntz_df(20, 28).coalesce(1))   # Jan 20-27 wall
    snap = table.snapshot()
    envs = sorted(s["tsn"] for s in snap.stats.values())
    assert envs[0] == ["2023-01-01T00:00:00", "2023-01-09T00:00:00"]
    # retention delete prunes the retained-range file
    late_file = next(
        f for f in snap.files
        if snap.stats[f]["tsn"][0].startswith("2023-01-20")
    )
    table.delete(spark, "tsn < '2023-01-15'")
    assert late_file in table.snapshot().files
    assert sorted(r.v for r in table.read(spark).collect()) == list(
        range(20, 28)
    )
    # pushed NTZ filter: exact rows, no pyarrow tz crash, file pruned
    spark.dataSource.register(SnapshotDataSource)
    df = spark.read.format("snapshot_table").load(str(table.root))
    hit = df.filter("tsn >= timestamp_ntz'2023-01-25 00:00:00'")
    assert sorted(r.v for r in hit.collect()) == [25, 26, 27]


def test_replace_where_ntz_probe_matches_spark_scrub_non_utc(spark, table):
    """Review r12 pass 2 #1: replace_where's envelope probe must match
    Spark's actual row semantics — isin() coerces an NTZ column to the
    SESSION zone (UTC) while a naive literal renders OS-local, so the
    wall Spark matches is the value's UTC instant. Under
    TZ=America/New_York a naive Jan-5 00:00 value matches the wall
    05:00 NTZ row; the file holding it must be rewritten, not carried."""
    import datetime
    import os
    import time as time_mod

    def wall(day, hour):
        return spark.sql(
            f"SELECT make_timestamp_ntz(2023,1,{day},{hour},0,0) AS tsn,"
            f" {day}L AS v"
        )

    table.append(wall(5, 5).coalesce(1))    # wall Jan 5 05:00
    table.append(wall(20, 5).coalesce(1))   # wall Jan 20 05:00
    before = table.snapshot()
    far_file = next(
        f for f in before.files
        if before.stats[f]["tsn"][0].startswith("2023-01-20")
    )
    repl = spark.sql(
        "SELECT make_timestamp_ntz(2023,1,5,5,0,0) AS tsn, 555L AS v"
    )
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time_mod.tzset()
    try:
        # naive local Jan-5 00:00 EST == UTC instant Jan-5 05:00 ==
        # the wall Spark's isin matches on the NTZ column
        table.replace_where(
            spark, repl, {"tsn": [datetime.datetime(2023, 1, 5, 0, 0)]}
        )
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time_mod.tzset()
    after = table.snapshot()
    assert far_file in after.files, "disjoint NTZ file must be carried"
    got = {r.v for r in table.read(spark).collect()}
    assert got == {555, 20}, f"scrub/probe disagree: {got}"


def test_pushed_ntz_filter_works_on_dv_masked_files(spark, table):
    """Review r12 pass 2 #2: the deletion-vector read branch applies
    pushed filters as an Arrow expression — its values need the same
    tz coercion as the plain branch or NTZ filters crash pyarrow."""
    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
    )

    table.append(
        spark.range(1, 10).selectExpr(
            "make_timestamp_ntz(2023, 1, CAST(id AS INT), 0, 0, 0) AS tsn",
            "id AS v",
        ).coalesce(1)
    )
    table.delete(spark, "v = 3", mode="merge-on-read")  # dv on the file
    spark.dataSource.register(SnapshotDataSource)
    df = spark.read.format("snapshot_table").load(str(table.root))
    hit = df.filter("tsn >= timestamp_ntz'2023-01-05 00:00:00'")
    assert sorted(r.v for r in hit.collect()) == [5, 6, 7, 8, 9]


def test_merge_condition_determinism_is_expression_scoped(spark, table):
    """Review r12 pass 2 #3: a uuid()-derived SOURCE batch (the common
    CDC batch-id stamp) must not trip the determinism refusal — only
    the condition expression itself is checked. #5: wall-clock
    functions (current_timestamp) ARE refused — the engine's sides run
    as separate queries at different instants."""
    table.append(_kvt(spark, [(1, 10, 100)]))
    src = (
        _kvt(spark, [(1, 11, 200)])
        .selectExpr("*", "uuid() AS batch_tag")
        .drop("batch_tag")
    )
    # nondeterministic lineage, deterministic condition: accepted
    table.merge(
        spark, src, ["k"],
        when_matched=("update", "source.ts > target.ts"),
    )
    assert {r.v for r in table.read(spark).collect()} == {11}
    with pytest.raises(ValueError, match="deterministic"):
        table.merge(
            spark, _kvt(spark, [(1, 12, 300)]), ["k"],
            when_matched=("update", "target.ts < unix_micros(current_timestamp())"),
        )


def test_prover_fractional_second_literals_canonicalized(verdict):
    """Review r12 pass 2 #4: '...00.5' must compare as isoformat's
    '...00.500000' — boundary-equal rows were wrongly pruned/proven."""
    def disjoint(p, st):
        return verdict(p, st, "ts TIMESTAMP")[0]

    def proven(p, st):
        return verdict(p, st, "ts TIMESTAMP")[1]

    env = {
        "ts": ["2023-01-05T00:00:00.500000", "2023-01-05T00:00:00.500000"],
        "__num_rows__": 1,
    }
    # boundary-equal: the row MATCHES <= — must not be pruned
    assert not disjoint("ts <= '2023-01-05 00:00:00.5'", env)
    # and the CHECK twin must not be proven
    assert not proven("ts > '2023-01-05 00:00:00.5'", env)
    # sound prunes still work with fractions
    assert disjoint("ts < '2023-01-05 00:00:00.5'", env)
    assert proven("ts >= '2023-01-05 00:00:00.5'", env)
    # all-zero fraction folds to isoformat's omitted form
    env0 = {"ts": ["2023-01-05T00:00:00", "2023-01-05T00:00:00"],
            "__num_rows__": 1}
    assert proven("ts >= '2023-01-05 00:00:00.000'", env0)
    # beyond-micros precision: Spark truncates the literal to
    # ...00.499999, below the row, so the file is disjoint
    assert disjoint(
        "ts < '2023-01-05 00:00:00.4999999'", env
    )
    assert not disjoint(
        "ts < '2023-01-05 00:00:00.5000011'", env
    )


def test_replace_where_string_and_date_values_on_timestamp_column(
    spark, table
):
    """Review r12 pass 3 #1: ISO-string and date predicate values on a
    timestamp column must probe the way Spark's isin-cast matches rows
    — before the fix the space-separated string never matched the
    'T'-separated envelope and the covered file was carried."""
    import datetime

    table.append(_ts_df(spark, 1, 10).coalesce(1))    # Jan 1-9
    table.append(_ts_df(spark, 20, 28).coalesce(1))   # Jan 20-27
    before = table.snapshot()
    late_file = next(
        f for f in before.files
        if before.stats[f]["ts"][0].startswith("2023-01-20")
    )
    repl = _ts_df(spark, 5, 6).selectExpr("ts", "555L AS v")
    table.replace_where(spark, repl, {"ts": ["2023-01-05 00:00:00"]})
    after = table.snapshot()
    assert late_file in after.files, "disjoint file must still carry"
    got = {r.ts.day: r.v for r in table.read(spark).collect()}
    assert got[5] == 555, "string-valued ts predicate missed its file"
    assert len(got) == 17
    # date value on the timestamp column: matches the midnight row
    repl2 = _ts_df(spark, 6, 7).selectExpr("ts", "666L AS v")
    table.replace_where(spark, repl2, {"ts": [datetime.date(2023, 1, 6)]})
    got = {r.ts.day: r.v for r in table.read(spark).collect()}
    assert got[6] == 666, "date-valued ts predicate missed its file"


def test_merge_condition_with_wallclock_lookalike_literal_accepted(
    spark, table
):
    """Review r12 pass 3 #2: a STRING LITERAL whose text contains
    'now()' must not trip the wall-clock refusal (Catalyst renders
    literals unquoted); real current_timestamp() still refuses."""
    table.append(
        spark.createDataFrame([(1, "run", 1)], "k long, op string, ts long")
    )
    src = spark.createDataFrame(
        [(1, "shutdown_now()", 2)], "k long, op string, ts long"
    )
    table.merge(
        spark, src, ["k"],
        when_matched=("update", "source.op != 'shutdown_now()'"),
    )
    assert [r.op for r in table.read(spark).collect()] == ["run"], (
        "condition comparing EQUAL text should keep the target row"
    )
    with pytest.raises(ValueError, match="wall-clock"):
        table.merge(
            spark, src, ["k"],
            when_matched=("update", "target.ts < unix_micros(now())"),
        )


def test_replace_where_nan_values_and_envelopes_inconclusive(spark, table):
    """Review r12 pass 4 #1 (reproduced corruption): NaN defeats the
    negated inside-test — a NaN envelope bound or predicate value must
    leave the file TOUCHED (Spark's isin treats NaN==NaN as a match)."""
    import math

    table.append(
        spark.createDataFrame([(1.0, 1), (math.nan, 2)], "x double, v long")
        .coalesce(1)
    )
    repl = spark.createDataFrame([(1.0, 555)], "x double, v long")
    table.replace_where(spark, repl, {"x": [1.0]})
    got = sorted((r.v) for r in table.read(spark).collect())
    assert got == [2, 555], f"NaN envelope carried the covered file: {got}"
    # NaN predicate value: isin(NaN) matches the NaN row
    import math as m

    repl2 = spark.createDataFrame([(m.nan, 777)], "x double, v long")
    table.replace_where(spark, repl2, {"x": [m.nan]})
    got = sorted(r.v for r in table.read(spark).collect())
    assert got == [555, 777], f"NaN value carried the covered file: {got}"


def test_replace_where_typed_datetime_vs_string_column_inconclusive(
    spark, table
):
    """Review r12 pass 4 #2 (reproduced corruption): a TYPED datetime
    value against a plain-string column is matched by Spark via CAST,
    so space-separated datetime text must not be raw-lexically
    excluded."""
    import datetime

    table.append(
        spark.createDataFrame(
            [("2023-01-05 12:00:00", 1)], "s string, v long"
        ).coalesce(1)
    )
    repl = spark.createDataFrame(
        [("2023-01-05 12:00:00", 555)], "s string, v long"
    )
    table.replace_where(
        spark, repl, {"s": [datetime.datetime(2023, 1, 5, 12, 0, 0)]}
    )
    got = sorted(r.v for r in table.read(spark).collect())
    assert got == [555], f"cast-matched row survived the replace: {got}"


def test_merge_wallclock_current_time_and_deep_condition_refused(
    spark, table
):
    """Review r12 pass 4 #3/#4: current_time() is wall-clock (4.1's
    TIME type), and a machine-generated 1000-term condition must not
    let RecursionError silently accept a now() buried at its end."""
    table.append(_kvt(spark, [(1, 10, 1)]))
    src = _kvt(spark, [(1, 11, 2)])
    with pytest.raises(ValueError, match="wall-clock"):
        table.merge(
            spark, src, ["k"],
            when_matched=("update", "current_time() IS NOT NULL"),
        )
    deep = " OR ".join(f"target.v = {i}" for i in range(1000))
    deep += " OR unix_micros(now()) > target.ts"
    with pytest.raises(ValueError, match="wall-clock"):
        table.merge(spark, src, ["k"], when_matched=("update", deep))
    # the deep shape WITHOUT wall-clock still passes validation
    table.merge(
        spark, src, ["k"],
        when_matched=("update", " OR ".join(
            f"source.v = {i}" for i in range(1000)
        ) + " OR source.ts > target.ts"),
    )
    assert {r.v for r in table.read(spark).collect()} == {11}


def _assert_emptied(spark, table, since, deleted):
    """``table`` holds no file; it reads as its recorded schema with no
    rows, and its change feed since ``since`` replays ``deleted`` (k, v)
    rows as deletes."""
    assert table.detail()["num_files"] == 0
    df = table.read(spark)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("k", "bigint"), ("v", "bigint")
    ]
    assert df.count() == 0
    cdf = table.read_changes_cdf(spark, since_version=since)
    assert sorted((r.k, r.v, r._change_type) for r in cdf.collect()) == [
        (k, v, "delete") for k, v in deleted
    ]


def test_merge_deleting_every_row_commits_no_empty_file(spark, table):
    """A merge whose matched delete removes every row of the file it
    rewrites commits no file, not the empty one Spark's writer lands."""
    table.append(_kv(spark, [(1, 10), (2, 20)]).coalesce(1))
    table.set_property("delta.enableChangeDataFeed", "true")
    v = table.current_version()
    table.merge(
        spark, _kv(spark, [(1, 0), (2, 0)]), key_cols=["k"],
        when_matched="delete", when_not_matched=None,
    )
    _assert_emptied(spark, table, v, [(1, 10), (2, 20)])


def test_copy_on_write_delete_of_every_row_commits_no_empty_file(spark, table):
    table.append(_kv(spark, [(1, 10), (2, 20)]).coalesce(1))
    table.set_property("delta.enableChangeDataFeed", "true")
    v = table.current_version()
    table.delete(spark, "k >= 1")
    _assert_emptied(spark, table, v, [(1, 10), (2, 20)])


def test_append_commits_no_empty_file(spark, table):
    """An empty append, and the empty slice of a two-slice one-row
    append, each land a 0-row file that no commit records."""
    table.append(_kv(spark, []))
    table.append(
        spark.createDataFrame(
            spark.sparkContext.parallelize([(1, 10)], 2), "k long, v long"
        )
    )
    assert table.detail()["num_files"] == 1
    assert [(r.k, r.v) for r in table.read(spark).collect()] == [(1, 10)]


def test_compact_and_optimize_of_an_emptied_table_commit_no_file(spark, table):
    """Rewriting a table with no rows lands nothing: compact and
    optimize commit no file, and the table still reads empty."""
    table.append(_kv(spark, [(1, 10), (2, 20)]).coalesce(1))
    table.delete(spark, "k >= 1")
    table.compact(spark, target_files=2)
    assert table.detail()["num_files"] == 0
    table.optimize(spark, zorder_by=["k"], target_files=2)
    assert table.detail()["num_files"] == 0
    assert table.read(spark).count() == 0
    assert [s.op for s in table.history()][-2:] == ["compact", "optimize"]
