"""Structured Streaming over the snapshot table via the Python Data
Source stream reader: version offsets, exactly-once across restarts,
compaction transparency, append-only lineage enforcement."""

from __future__ import annotations

import pytest

from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
    SnapshotDataSource,
)
from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def _drain(spark, path, ck):
    """Run one availableNow cycle; return the rows it delivered.
    foreachBatch (not the memory sink) so the query is checkpoint-
    recoverable across restarts — the exactly-once property under
    test."""
    spark.dataSource.register(SnapshotDataSource)
    out = []
    q = (
        spark.readStream.format("snapshot_table")
        .load(path)
        .writeStream.foreachBatch(
            lambda df, _bid: out.extend(
                (r["id"], r["v"]) for r in df.collect()
            )
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return out


def test_stream_delivers_each_append_exactly_once(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "tbl"))
    ck = str(tmp_path / "ck")
    table.append(_df(spark, 0, 10))
    table.append(_df(spark, 10, 15))

    first = _drain(spark, str(table.root), ck)
    assert sorted(i for i, _ in first) == list(range(15))

    # restart with the same checkpoint after another append: only the
    # delta arrives (the memory sink is fresh per query start, so any
    # re-delivered old version would show up here)
    table.append(_df(spark, 15, 18))
    second = _drain(spark, str(table.root), ck)
    assert sorted(i for i, _ in second) == [15, 16, 17]


def test_stream_skips_compaction_rewrites(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "tbl"))
    ck = str(tmp_path / "ck")
    table.append(_df(spark, 0, 10))
    assert sorted(i for i, _ in _drain(spark, str(table.root), ck)) == list(
        range(10)
    )
    table.compact(spark, target_files=1)
    table.append(_df(spark, 10, 12))
    # the compaction rewrote rows 0-9 into new files; the stream must
    # deliver only the genuinely new rows
    assert sorted(i for i, _ in _drain(spark, str(table.root), ck)) == [10, 11]


def test_stream_rejects_overwrite_lineage(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "tbl"))
    ck = str(tmp_path / "ck")
    table.append(_df(spark, 0, 5))
    _drain(spark, str(table.root), ck)
    table.overwrite(_df(spark, 100, 103))
    with pytest.raises(Exception, match="non-append|overwrite"):
        _drain(spark, str(table.root), ck)


def test_stream_admission_control_bounds_each_trigger(spark, tmp_path):
    """maxVersionsPerTrigger/maxFilesPerTrigger (VERDICT r9 task #3):
    drive the offset protocol in Spark's REAL call order — the first
    latestOffset arrives before even initialOffset (observed 4.1.2) —
    and assert the documented contract: the first trigger of a fresh
    reader process is unbounded, every later trigger is bounded, and
    the bounded drain delivers exactly the one-batch file set."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        _SnapshotStreamReader,
    )

    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_df(spark, 0, 2).coalesce(1))            # v0: pre-existing
    schema = to_arrow_schema(table.read(spark).schema)

    def drain(reader, start):
        batches = []
        for _ in range(20):
            end = reader.latestOffset()["version"]
            if end == start:
                break
            parts = reader.partitions({"version": start}, {"version": end})
            files = [p.value for p in parts if p.value is not None]
            batches.append((end - start, len(files)))
            reader.commit({"version": end})
            start = end
        else:
            raise AssertionError("backlog did not drain")
        return batches

    r = _SnapshotStreamReader(str(table.root), schema, max_versions=2)
    # trigger 1, Spark's order: latestOffset FIRST (no frontier signal
    # yet -> unbounded, the documented contract), then initialOffset
    end0 = r.latestOffset()["version"]
    assert end0 == 0, "first trigger takes the whole pre-existing table"
    assert r.initialOffset()["version"] == -1
    r.partitions({"version": -1}, {"version": end0})
    r.commit({"version": end0})
    # a 6-version backlog lands; every later trigger is bounded
    for lo in range(2, 14, 2):
        table.append(_df(spark, lo, lo + 2).coalesce(1))
    assert drain(r, end0) == [(2, 2)] * 3, "2-version steps after teach-in"

    # restart replaying a PENDING batch: partitions() teaches the
    # frontier before any latestOffset, so bounding starts immediately
    r2 = _SnapshotStreamReader(str(table.root), schema, max_versions=2)
    r2.partitions({"version": 2}, {"version": 4})  # the replayed batch
    assert drain(r2, 4) == [(2, 2)], "bounded from the first new plan"

    # file cap: 3-file steps over the same 6-file backlog
    r3 = _SnapshotStreamReader(str(table.root), schema, max_files=3)
    r3.partitions({"version": -1}, {"version": 0})  # frontier taught
    assert [f for _, f in drain(r3, 0)] == [3, 3], "3-file steps"


def test_stream_admission_control_end_to_end(spark, tmp_path):
    """End-to-end bounded catch-up: batch 0 teaches the frontier, a
    6-version backlog lands, and every later microbatch delivers at
    most maxVersionsPerTrigger=2 versions (4 rows) until the stream has
    drained exactly the full row set — N bounded batches == one big
    batch, row for row."""
    import time

    table = SnapshotTable(str(tmp_path / "tbl"))
    ck = str(tmp_path / "ck")
    table.append(_df(spark, 0, 2).coalesce(1))             # v0: batch 0
    spark.dataSource.register(SnapshotDataSource)
    batches = []

    def sink(df, bid):
        batches.append(sorted(r["id"] for r in df.collect()))
        if bid == 0:  # backlog lands after the frontier is known
            for lo in range(2, 14, 2):
                table.append(_df(spark, lo, lo + 2).coalesce(1))

    q = (
        spark.readStream.format("snapshot_table")
        .option("maxVersionsPerTrigger", 2)
        .load(str(table.root))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(processingTime="1 seconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if sorted(i for b in batches for i in b) == list(range(14)):
            break
        time.sleep(0.5)
    q.stop()
    got = sorted(i for b in batches for i in b)
    assert got == list(range(14)), f"bounded drain lost/duped rows: {batches}"
    catchup = [b for b in batches[1:] if b]
    assert len(catchup) >= 3, f"backlog must drain in >=3 batches: {batches}"
    assert all(len(b) <= 4 for b in catchup), (
        f"a catch-up batch exceeded 2 versions (4 rows): {batches}"
    )


def test_stream_read_projects_columns(spark, tmp_path):
    """VERDICT r9 task #4: the streaming Arrow path honors the reader
    schema's projection — batches carry ONLY the schema's columns (the
    parquet column chunks for others are never read) and an
    evolution-missing column is served as typed nulls."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        _SnapshotStreamReader,
    )
    from pyspark.sql.datasource import InputPartition

    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(
        spark.range(10).selectExpr("id", "id*2 AS v", "id*3 AS w").coalesce(1)
    )
    fpath = str(table.root / table.snapshot().files[0])
    narrow = to_arrow_schema(spark.createDataFrame([], "v long, id long").schema)
    r = _SnapshotStreamReader(str(table.root), narrow)
    batches = list(r.read(InputPartition(fpath)))
    assert batches and all(b.schema.names == ["v", "id"] for b in batches)
    assert sorted(x.as_py() for b in batches for x in b.column(0)) == [
        i * 2 for i in range(10)
    ]
    # evolution: a column no file contains reads as typed nulls
    evolved = to_arrow_schema(
        spark.createDataFrame([], "id long, extra string").schema
    )
    r2 = _SnapshotStreamReader(str(table.root), evolved)
    batches = list(r2.read(InputPartition(fpath)))
    assert all(b.schema.names == ["id", "extra"] for b in batches)
    assert all(
        b.column(1).null_count == b.num_rows and b.schema.field(1).type == pa.string()
        for b in batches
    )


def _drain_cdf(spark, path, ck):
    """One availableNow cycle of the CHANGE-FEED stream; returns
    (id, v, _change_type, _commit_version) tuples."""
    spark.dataSource.register(SnapshotDataSource)
    out = []
    q = (
        spark.readStream.format("snapshot_table")
        .option("readChangeFeed", "true")
        .load(path)
        .writeStream.foreachBatch(
            lambda df, _bid: out.extend(
                (r["id"], r["v"], r["_change_type"], r["_commit_version"])
                for r in df.collect()
            )
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return out


def test_cdf_stream_matches_batch_feed_across_mutations(spark, tmp_path):
    """The streaming change feed (readChangeFeed=true) delivers the
    SAME rows as read_changes_cdf across every replayable op class —
    appends, merge cdc files, MoR delete, MoR update, COW delete
    (frozen sidecar), compaction skipped — exactly once across two
    availableNow cycles."""
    table = SnapshotTable(str(tmp_path / "tbl"))
    ck = str(tmp_path / "ck")
    table.append(_df(spark, 0, 8).coalesce(1))               # v0
    table.delete(spark, "id = 1", mode="merge-on-read")      # v1
    table.delete(spark, "id = 2")                            # v2 COW frozen
    first = _drain_cdf(spark, str(table.root), ck)
    batch1 = {
        (r["id"], r["v"], r["_change_type"], r["_commit_version"])
        for r in table.read_changes_cdf(spark, since_version=-1).collect()
    }
    assert set(first) == batch1 and len(first) == len(batch1)
    # second cycle: MoR update + compaction (skipped) + append
    v2 = table.current_version()
    table.update(
        spark, "id = 3", {"v": "v + 100"}, mode="merge-on-read"
    )                                                        # v3
    table.compact(spark, target_files=1)                     # v4 skipped
    table.append(_df(spark, 8, 10))                          # v5
    second = _drain_cdf(spark, str(table.root), ck)
    batch2 = {
        (r["id"], r["v"], r["_change_type"], r["_commit_version"])
        for r in table.read_changes_cdf(spark, since_version=v2).collect()
    }
    assert set(second) == batch2 and len(second) == len(batch2)
    assert {t for _, _, t, _ in second} == {
        "update_preimage",
        "update_postimage",
        "insert",
    }


def test_cdf_stream_serves_materialized_cdc_files(spark, tmp_path):
    """update/delete under delta.enableChangeDataFeed materialize cdc
    files; the stream serves them verbatim (authoritative, exact even
    for non-deterministic expressions)."""
    table = SnapshotTable(str(tmp_path / "tbl"))
    ck = str(tmp_path / "ck")
    table.append(_df(spark, 0, 6).coalesce(1))               # v0
    table.set_property("delta.enableChangeDataFeed", "true")  # v1
    table.update(spark, "id = 4", {"v": "v + 7"})            # v2: cdc
    rows = _drain_cdf(spark, str(table.root), ck)
    batch = {
        (r["id"], r["v"], r["_change_type"], r["_commit_version"])
        for r in table.read_changes_cdf(spark, since_version=-1).collect()
    }
    assert set(rows) == batch
    assert (4, 8, "update_preimage", 2) in batch
    assert (4, 15, "update_postimage", 2) in batch


def test_cdf_stream_refuses_unreplayable_versions(spark, tmp_path):
    """A version with no materialized replay artifact (overwrite)
    fails planning with the not-recorded message, Delta's posture."""
    table = SnapshotTable(str(tmp_path / "tbl"))
    ck = str(tmp_path / "ck")
    table.append(_df(spark, 0, 4))
    table.overwrite(_df(spark, 100, 102))
    with pytest.raises(Exception, match="not recorded|not replayable"):
        _drain_cdf(spark, str(table.root), ck)


def test_cdf_stream_batch_reader_rejects_option(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_df(spark, 0, 4))
    spark.dataSource.register(SnapshotDataSource)
    with pytest.raises(Exception, match="readChangeFeed is a streaming"):
        (
            spark.read.format("snapshot_table")
            .option("readChangeFeed", "true")
            .load(str(table.root))
            .collect()
        )


def test_cdf_stream_clone_v0_inserts_minus_carried_dv(spark, tmp_path):
    """A shallow clone's v0 streams as inserts MINUS the carried
    deletion vectors — soft-deleted source rows were never part of the
    clone (parity with read_changes_cdf's clone replay)."""
    src = SnapshotTable(str(tmp_path / "src"))
    src.append(_df(spark, 0, 10).coalesce(1))
    src.delete(spark, "id < 3", mode="merge-on-read")
    clone = src.shallow_clone(str(tmp_path / "clone"))
    rows = _drain_cdf(spark, str(clone.root), str(tmp_path / "ck"))
    assert sorted(i for i, _, t, _ in rows if t == "insert") == list(
        range(3, 10)
    )
    assert all(t == "insert" for _, _, t, _ in rows)


def test_cdf_stream_replays_replace_where(spark, tmp_path):
    """replace_where versions stream as delete (recorded predicate via
    Arrow IN-filters, prior dv masked) + insert (replacement files) —
    matching the batch feed."""
    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_df(spark, 0, 10).coalesce(1))              # v0
    table.replace_where(
        spark,
        spark.createDataFrame([(100, 0)], "id long, v long"),
        column="v",
        values=[0],
    )                                                         # v1
    rows = _drain_cdf(spark, str(table.root), str(tmp_path / "ck"))
    batch = {
        (r["id"], r["v"], r["_change_type"], r["_commit_version"])
        for r in table.read_changes_cdf(spark, since_version=-1).collect()
    }
    assert set(rows) == batch and len(rows) == len(batch)
    assert (0, 0, "delete", 1) in batch and (100, 0, "insert", 1) in batch


def test_cdf_stream_serves_emptied_table(spark, tmp_path):
    """A table whose current snapshot is EMPTY still streams its feed
    (schema from the manifest record, parity with batch
    read_changes_cdf)."""
    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_df(spark, 0, 3).coalesce(1))               # v0
    table.delete(spark, "id >= 0")                           # v1: empties
    rows = _drain_cdf(spark, str(table.root), str(tmp_path / "ck"))
    ins = {(i, t) for i, _, t, _ in rows}
    assert ins == {(0, "insert"), (1, "insert"), (2, "insert"),
                   (0, "delete"), (1, "delete"), (2, "delete")}


def test_connector_mapped_table_batch_and_stream(spark, tmp_path):
    """The BATCH connector serves column-mapped tables — including a
    user-supplied (logical) reader schema and a pushed filter on the
    renamed column, which must translate to the physical envelope/
    column instead of silently null-padding. The STREAM reader serves
    them too (VERDICT r10 task #4): a fresh stream over a table with a
    rename in history drains every file — pre- and post-rename — under
    the current LOGICAL names via the range-end mapping."""
    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_df(spark, 0, 3))
    table.rename_column("v", "amount")
    spark.dataSource.register(SnapshotDataSource)
    out = (
        spark.read.format("snapshot_table")
        .schema("id long, amount long")
        .load(str(table.root))
        .filter("amount >= 2")
        .collect()
    )
    assert sorted((r.id, r.amount) for r in out) == [(1, 2), (2, 4)]
    full = spark.read.format("snapshot_table").load(str(table.root))
    assert sorted(full.columns) == ["amount", "id"]
    assert sorted((r.id, r.amount) for r in full.collect()) == [
        (0, 0),
        (1, 2),
        (2, 4),
    ]
    # post-rename append lands PHYSICAL 'v', serves logical 'amount'
    table.append(
        spark.createDataFrame([(3, 6)], "id long, amount long")
    )
    rows = []
    q = (
        spark.readStream.format("snapshot_table")
        .load(str(table.root))
        .writeStream.foreachBatch(
            lambda df, _b: rows.extend(
                (r["id"], r["amount"]) for r in df.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(rows) == [(0, 0), (1, 2), (2, 4), (3, 6)]


def test_stream_refuses_mid_stream_rename(spark, tmp_path):
    """A rename of a streamed column lands AFTER a checkpointed offset:
    any batch whose range starts before the rename refuses — with the
    stream's ORIGINAL schema (stale names) and even with a
    re-resolved current schema, because rows already delivered under
    the old name would misalign with rows served under the new one
    (Delta's schema-change posture: new checkpoint required). A range
    that STARTS at or after the rename serves fine."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        _SnapshotStreamReader,
    )

    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_df(spark, 0, 3).coalesce(1))                # v0
    # schema captured PRE-rename (what a long-running query holds)
    stale = to_arrow_schema(
        spark.createDataFrame([], "id long, v long").schema
    )
    r = _SnapshotStreamReader(str(table.root), stale)
    table.rename_column("v", "amount")                        # v1
    table.append(
        spark.createDataFrame([(9, 9)], "id long, amount long")
    )                                                         # v2
    with pytest.raises(ValueError, match="schema change"):
        r.partitions({"version": 0}, {"version": 2})
    # re-resolved schema but the SAME pre-rename offset: still stale —
    # the sink's existing rows were delivered under the old name
    fresh = to_arrow_schema(
        spark.createDataFrame([], "id long, amount long").schema
    )
    r2 = _SnapshotStreamReader(str(table.root), fresh)
    with pytest.raises(ValueError, match="schema change"):
        r2.partitions({"version": 0}, {"version": 2})
    # a NEW checkpoint starting at/after the rename serves logically
    parts = r2.partitions({"version": 1}, {"version": 2})
    got = [
        (x["id"].as_py(), x["amount"].as_py())
        for p in parts
        for b in r2.read(p)
        for x in b.to_struct_array()
    ]
    assert got == [(9, 9)]


def test_stream_starting_version_skips_initial_snapshot(spark, tmp_path):
    """Delta's startingVersion: a fresh stream begins at that version
    (inclusive) instead of replaying the whole initial snapshot — for
    both the insert-only and the change-feed readers."""
    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_df(spark, 0, 5))                           # v0
    table.append(_df(spark, 5, 8))                           # v1
    table.append(_df(spark, 8, 10))                          # v2
    spark.dataSource.register(SnapshotDataSource)
    out = []
    q = (
        spark.readStream.format("snapshot_table")
        .option("startingVersion", 1)
        .load(str(table.root))
        .writeStream.foreachBatch(
            lambda df, _b: out.extend(r["id"] for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(out) == list(range(5, 10)), "v0 must not replay"
    out_cdf = []
    q2 = (
        spark.readStream.format("snapshot_table")
        .option("readChangeFeed", "true")
        .option("startingVersion", 2)
        .load(str(table.root))
        .writeStream.foreachBatch(
            lambda df, _b: out_cdf.extend(
                (r["id"], r["_change_type"], r["_commit_version"])
                for r in df.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert sorted(out_cdf) == [(8, "insert", 2), (9, "insert", 2)]


def test_connector_rejects_retired_names_in_reader_schema(spark, tmp_path):
    """Review r10: a user reader schema naming a dropped or pre-rename
    column must be refused — pmap.get(c, c) would otherwise resolve it
    straight to the tombstoned physical bytes."""
    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(
        spark.createDataFrame([(1, 2, "x")], "id long, v long, tag string")
    )
    table.rename_column("v", "amount")
    table.drop_column("tag")
    spark.dataSource.register(SnapshotDataSource)
    for ddl in ("id long, tag string", "id long, v long, amount long"):
        with pytest.raises(Exception, match="logical schema"):
            (
                spark.read.format("snapshot_table")
                .schema(ddl)
                .load(str(table.root))
                .collect()
            )


def test_stream_starting_version_validated(spark, tmp_path):
    """Review r10: startingVersion outside [0, current+1] is refused
    at stream build — beyond-current values would commit an offset
    below the requested start and then serve skipped versions."""
    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_df(spark, 0, 3))                           # v0
    spark.dataSource.register(SnapshotDataSource)
    for sv in ("5", "-1"):
        with pytest.raises(Exception, match="out of range"):
            (
                spark.readStream.format("snapshot_table")
                .option("startingVersion", sv)
                .load(str(table.root))
                .writeStream.format("noop")
                .option("checkpointLocation", str(tmp_path / f"ck{sv}"))
                .trigger(availableNow=True)
                .start()
                .awaitTermination(60)
            )
    # current+1 = future-only: valid, drains nothing yet
    out = []
    q = (
        spark.readStream.format("snapshot_table")
        .option("startingVersion", 1)
        .load(str(table.root))
        .writeStream.foreachBatch(
            lambda df, _b: out.extend(r["id"] for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert out == []


def test_stream_ignore_deletes_drains_across_dv_delete(spark, tmp_path):
    """VERDICT r10 task #3: with ignoreDeletes, an insert-only stream
    keeps draining appends across an interleaved merge-on-read (DV)
    delete instead of permanently wedging; the default still
    refuses."""
    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_df(spark, 0, 3).coalesce(1))               # v0
    spark.dataSource.register(SnapshotDataSource)

    def drain(ck, **opts):
        rows = []
        reader = spark.readStream.format("snapshot_table")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load(str(table.root))
            .writeStream.foreachBatch(
                lambda df, _b: rows.extend(r["id"] for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(rows)

    assert drain("ck0") == [0, 1, 2]
    table.delete(spark, "id = 1", mode="merge-on-read")      # v1: DV
    table.append(_df(spark, 10, 12).coalesce(1))             # v2
    # a CHECKPOINTED stream whose incremental range crosses the
    # row-removing commit is wedged by default...
    with pytest.raises(Exception, match="non-append|ignoreDeletes"):
        drain("ck0")
    # ...while a FRESH stream serves the range-end SNAPSHOT, dv-masked
    # (Delta's initial-snapshot semantics — r11 pass 3: deletes in
    # HISTORY never block starting a new stream, and id=1 must not
    # resurrect)
    assert drain("ck_default") == [0, 2, 10, 11]
    # ignoreDeletes unwedges the CHECKPOINTED stream: the delete is
    # skipped (rows already delivered are not retracted), appends flow
    assert drain("ck0", ignoreDeletes=True) == [10, 11]
    # a COW update wedges even ignoreDeletes (rows CHANGED, not just
    # removed); skipChangeCommits skips it — the updated row keeps its
    # delivered pre-update value (divergence the option opts into)
    table.update(spark, "id = 0", {"v": "v + 1"})            # v3: COW
    table.append(_df(spark, 20, 21).coalesce(1))             # v4
    with pytest.raises(Exception, match="non-append|skipChangeCommits"):
        drain("ck0", ignoreDeletes=True)
    assert drain("ck0", skipChangeCommits=True) == [20]
    # a fresh skipChangeCommits stream: snapshot path, post-update
    # state, no resurrection
    assert drain("ck3", skipChangeCommits=True) == [
        0, 2, 10, 11, 20,
    ]
    # the CDF stream refuses the flags (it replays changes)
    with pytest.raises(Exception, match="insert-only"):
        (
            spark.readStream.format("snapshot_table")
            .option("readChangeFeed", "true")
            .option("ignoreDeletes", "true")
            .load(str(table.root))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck4"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )


def test_stream_starting_timestamp_and_bytes_cap(spark, tmp_path):
    """VERDICT r10 task #5: startingTimestamp resolves through the
    monotonized TIMESTAMP-AS-OF scan to the earliest version committed
    at or after it (mutually exclusive with startingVersion; a future
    timestamp is refused), and maxBytesPerTrigger bounds each
    admission step by the manifests' recorded __size_bytes__ while
    always admitting at least one version."""
    import json

    from pyspark.sql.pandas.types import to_arrow_schema

    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        _SnapshotStreamReader,
    )

    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_df(spark, 0, 2).coalesce(1))               # v0
    table.append(_df(spark, 2, 4).coalesce(1))               # v1
    table.append(_df(spark, 4, 6).coalesce(1))               # v2
    # deterministic commit timestamps (avoid same-second ties)
    for v, ts in enumerate([100.0, 200.0, 300.0]):
        p = table.manifest_dir / f"v{v:08d}.json"
        raw = json.loads(p.read_text())
        raw["ts"] = ts
        p.write_text(json.dumps(raw))
    assert table.first_version_at_or_after(150.0) == 1
    assert table.first_version_at_or_after(200.0) == 1
    assert table.first_version_at_or_after(50.0) == 0
    with pytest.raises(ValueError, match="after the latest"):
        table.first_version_at_or_after(1e12)
    spark.dataSource.register(SnapshotDataSource)
    rows = []
    q = (
        spark.readStream.format("snapshot_table")
        .option("startingTimestamp", "150")
        .load(str(table.root))
        .writeStream.foreachBatch(
            lambda df, _b: rows.extend(r["id"] for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(rows) == [2, 3, 4, 5]
    with pytest.raises(Exception, match="mutually exclusive"):
        (
            spark.readStream.format("snapshot_table")
            .option("startingTimestamp", "150")
            .option("startingVersion", 1)
            .load(str(table.root))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck_x"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )
    # bytes cap: each commit's file is a few KB; a 1-byte cap forces
    # one-version steps after the frontier is taught
    schema = to_arrow_schema(table.read(spark).schema)
    r = _SnapshotStreamReader(str(table.root), schema, max_bytes=1)
    r.partitions({"version": -1}, {"version": 0})  # teach frontier
    steps = []
    start = 0
    for _ in range(10):
        end = r.latestOffset()["version"]
        if end == start:
            break
        steps.append(end - start)
        start = end
    assert steps == [1, 1], "1-byte cap admits exactly one version/step"
    # a generous cap admits the whole backlog in one step
    r2 = _SnapshotStreamReader(
        str(table.root), schema, max_bytes=1 << 30
    )
    r2.partitions({"version": -1}, {"version": 0})
    assert r2.latestOffset()["version"] == 2
    # manifests actually recorded the sizes (no stat fallback needed)
    raw = table._raw_manifest(1)
    assert all(
        (raw["stats_add"][f] or {}).get("__size_bytes__", 0) > 0
        for f in raw["add"]
    )


def test_stream_staleness_catches_name_preserving_column_swap(
    spark, tmp_path
):
    """Review r11: a 3-rename column SWAP (v->tmp, w->v, tmp->w)
    preserves the logical NAME SET while flipping column meanings — a
    name-set-only staleness check would skip it as row-neutral and
    silently serve swapped columns. The check compares each declared
    column's PHYSICAL slot against the reader's captured mapping, so
    the stale reader refuses and a fresh reader (capture == end) serves
    the swapped meanings correctly."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        _SnapshotStreamReader,
    )

    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(
        spark.range(2).selectExpr(
            "id", "id * 2 AS v", "id * 3 AS w"
        ).coalesce(1)
    )                                                         # v0
    schema = to_arrow_schema(
        spark.createDataFrame([], "id long, v long, w long").schema
    )
    stale = _SnapshotStreamReader(str(table.root), schema)  # captures {}
    table.rename_column("v", "tmp")                           # v1
    table.rename_column("w", "v")                             # v2
    table.rename_column("tmp", "w")                           # v3
    table.append(
        spark.createDataFrame(
            [(9, 90, 900)], "id long, v long, w long"
        )
    )                                                         # v4
    with pytest.raises(ValueError, match="schema change"):
        stale.partitions({"version": 0}, {"version": 4})
    # a RESTARTED reader (review r11 pass 2: construction-time capture
    # re-read the post-swap mapping and accepted it) refuses too: the
    # staleness check compares the range-START mapping — what the
    # sink's existing rows were served under — against the range end
    restarted = _SnapshotStreamReader(str(table.root), schema)
    with pytest.raises(ValueError, match="schema change"):
        restarted.partitions({"version": 0}, {"version": 4})
    # a NEW checkpoint whose range starts after the swap serves the
    # swapped meanings correctly
    parts = restarted.partitions({"version": 3}, {"version": 4})
    got = sorted(
        (x["id"].as_py(), x["v"].as_py(), x["w"].as_py())
        for p in parts
        for b in restarted.read(p)
        for x in b.to_struct_array()
    )
    # post-swap logical v is the OLD w slot: the appended row wrote
    # logical (v=90, w=900) into physical (w_slot=90, v_slot=900)
    assert got == [(9, 90, 900)]


def test_stream_dv_mask_survives_file_retirement(spark, tmp_path):
    """Review r11 passes 2-3: deletion-vector correctness across file
    retirement, for BOTH batch shapes. A FRESH stream serves the
    range-end SNAPSHOT (ordering-proof: even a compact-BEFORE-delete,
    which rekeys the dv onto the successor file, cannot resurrect).
    An INCREMENTAL range applies the manifest-walk masks: MoR delete
    masks, COW-delete retirement adds the frozen dv_new positions
    (exact survivors), a remove-only full death drops the file, and a
    skipped MoR UPDATE does NOT mask its pre-images (rows keep their
    delivered pre-update values instead of vanishing)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        _SnapshotStreamReader,
    )

    def rows_of(reader, parts):
        return sorted(
            x["id"].as_py()
            for p in parts
            if p.value is not None
            for b in reader.read(p)
            for x in b.to_struct_array()
        )

    schema_of = lambda t: to_arrow_schema(t.read(spark).schema)  # noqa: E731

    # (a) SNAPSHOT path, compact BEFORE delete (r11 pass 3: the dv is
    # keyed on the compacted successor — only the snapshot serves this
    # ordering without resurrection); flagless: history never blocks a
    # fresh stream
    t1 = SnapshotTable(str(tmp_path / "t1"))
    t1.append(_df(spark, 0, 3).coalesce(1))                   # v0
    t1.compact(spark, target_files=1)                         # v1
    t1.delete(spark, "id = 0", mode="merge-on-read")          # v2: DV on g
    t1.append(_df(spark, 10, 11).coalesce(1))                 # v3
    r = _SnapshotStreamReader(str(t1.root), schema_of(t1))
    assert rows_of(r, r.partitions({"version": -1}, {"version": 3})) == [
        1, 2, 10,
    ], "compact-then-delete must not resurrect via the snapshot path"
    # ...and delete BEFORE compact (the pass-2 ordering), also flagless
    t2 = SnapshotTable(str(tmp_path / "t2"))
    t2.append(_df(spark, 0, 3).coalesce(1))                   # v0
    t2.delete(spark, "id = 1", mode="merge-on-read")          # v1: DV
    t2.compact(spark, target_files=1)                         # v2
    t2.append(_df(spark, 10, 11).coalesce(1))                 # v3
    r2 = _SnapshotStreamReader(str(t2.root), schema_of(t2))
    assert rows_of(
        r2, r2.partitions({"version": -1}, {"version": 3})
    ) == [0, 2, 10]
    # (b) INCREMENTAL walk: in-range MoR delete masks an in-range file
    t3 = SnapshotTable(str(tmp_path / "t3"))
    t3.append(_df(spark, 100, 101).coalesce(1))               # v0: delivered
    sch3 = schema_of(t3)
    t3.append(_df(spark, 0, 3).coalesce(1))                   # v1
    t3.delete(spark, "id = 1", mode="merge-on-read")          # v2
    t3.append(_df(spark, 10, 11).coalesce(1))                 # v3
    r3 = _SnapshotStreamReader(str(t3.root), sch3, ignore_deletes=True)
    assert rows_of(
        r3, r3.partitions({"version": 0}, {"version": 3})
    ) == [0, 2, 10]
    # (c) INCREMENTAL walk: COW-delete retirement -> exact survivors
    t4 = SnapshotTable(str(tmp_path / "t4"))
    t4.append(_df(spark, 100, 101).coalesce(1))               # v0
    sch4 = schema_of(t4)
    t4.append(_df(spark, 0, 5).coalesce(1))                   # v1
    t4.delete(spark, "id < 2")                                # v2: COW
    t4.append(_df(spark, 10, 11).coalesce(1))                 # v3
    r4 = _SnapshotStreamReader(
        str(t4.root), sch4, skip_change_commits=True
    )
    assert rows_of(
        r4, r4.partitions({"version": 0}, {"version": 3})
    ) == [2, 3, 4, 10]
    # (d) INCREMENTAL walk: remove-only full death -> file served empty
    t5 = SnapshotTable(str(tmp_path / "t5"))
    t5.append(_df(spark, 100, 101).coalesce(1))               # v0
    sch5 = schema_of(t5)
    t5.append(_df(spark, 0, 2).coalesce(1))                   # v1
    t5.delete(spark, "id >= 0", mode="merge-on-read")         # v2: all dead
    t5.append(_df(spark, 10, 11).coalesce(1))                 # v3
    r5 = _SnapshotStreamReader(str(t5.root), sch5, ignore_deletes=True)
    assert rows_of(
        r5, r5.partitions({"version": 0}, {"version": 3})
    ) == [10]
    # (e) INCREMENTAL walk: a skipped MoR UPDATE must NOT vanish the
    # updated rows (r11 pass 3: its consolidated dv entry marks the
    # pre-images; masking them would lose the rows entirely — the
    # skip-commit contract serves pre-update values, the COW posture)
    t6 = SnapshotTable(str(tmp_path / "t6"))
    t6.append(_df(spark, 100, 101).coalesce(1))               # v0
    sch6 = schema_of(t6)
    t6.append(_df(spark, 0, 2).coalesce(1))                   # v1
    t6.update(
        spark, "id = 0", {"v": "v + 999"}, mode="merge-on-read"
    )                                                         # v2
    t6.append(_df(spark, 10, 11).coalesce(1))                 # v3
    r6 = _SnapshotStreamReader(
        str(t6.root), sch6, skip_change_commits=True
    )
    assert rows_of(
        r6, r6.partitions({"version": 0}, {"version": 3})
    ) == [0, 1, 10], "skipped MoR update must serve pre-update rows"


def test_stream_walk_delete_after_skipped_update_keeps_preimages(
    spark, tmp_path
):
    """Review r11 pass 4: a DELETE that follows a skipped MoR UPDATE
    consolidates the update's pre-image positions into the same dv
    entry — adopting it would vanish the updated rows. The walk masks
    by the delete commits' frozen dv_new positions only, so the
    updated row serves its pre-update value and the deleted row dies."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        _SnapshotStreamReader,
    )

    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_df(spark, 100, 101).coalesce(1))            # v0: delivered
    sch = to_arrow_schema(table.read(spark).schema)
    table.append(_df(spark, 0, 3).coalesce(1))                # v1
    table.update(
        spark, "id = 0", {"v": "v + 999"}, mode="merge-on-read"
    )                                                         # v2: skipped
    table.delete(spark, "id = 1", mode="merge-on-read")       # v3
    table.append(_df(spark, 10, 11).coalesce(1))              # v4
    r = _SnapshotStreamReader(
        str(table.root), sch, skip_change_commits=True
    )
    got = sorted(
        (x["id"].as_py(), x["v"].as_py())
        for p in r.partitions({"version": 0}, {"version": 4})
        if p.value is not None
        for b in r.read(p)
        for x in b.to_struct_array()
    )
    # id=0 serves its PRE-update value (0*2=0); id=1 is dead; and the
    # "fully dead after the stack" shape is covered by a second delete
    assert got == [(0, 0), (2, 4), (10, 20)]
    # deleting the remaining original rows must not vanish id=0 either
    table.delete(spark, "id = 2", mode="merge-on-read")       # v5
    r2 = _SnapshotStreamReader(
        str(table.root), sch, skip_change_commits=True
    )
    got2 = sorted(
        x["id"].as_py()
        for p in r2.partitions({"version": 0}, {"version": 5})
        if p.value is not None
        for b in r2.read(p)
        for x in b.to_struct_array()
    )
    assert got2 == [0, 10]


# ---------------------------------------------------------------------------
# withEventTimeOrder (r12): initial-snapshot event ordering + the structural
# watermark-exactness guarantee it rides on
# ---------------------------------------------------------------------------


def _ts_df(spark, day_lo, day_hi):
    return spark.range(day_lo, day_hi).selectExpr(
        "make_timestamp(2023, 1, CAST(id AS INT), 0, 0, 0) AS ts",
        "id AS v",
    )


def test_initial_snapshot_watermark_exactness(spark, tmp_path):
    """The guarantee withEventTimeOrder exists for: a watermarked
    stateful aggregation over a FRESH stream's initial snapshot is
    EXACT even when the snapshot's commit order is event-time
    adversarial (newest events committed first). Structural here: the
    initial snapshot is one microbatch, processed entirely under the
    initial watermark floor. The second phase proves the test is not
    vacuous — after the snapshot batch advances the watermark, a
    too-old append IS dropped (Delta-parity late-data semantics)."""
    from pyspark.sql import functions as F

    table = SnapshotTable(str(tmp_path / "tbl"))
    # event-time adversarial commit order: NEWEST days land in v0
    table.append(_ts_df(spark, 20, 28).coalesce(1))  # v0: Jan 20-27
    table.append(_ts_df(spark, 1, 9).coalesce(1))    # v1: Jan 1-8
    spark.dataSource.register(SnapshotDataSource)

    seen: dict = {}

    def apply(df, _bid):
        for r in df.collect():
            seen[r["window"]["start"].day] = r["n"]

    def drain(opts):
        reader = spark.readStream.format("snapshot_table")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load(str(table.root))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day"))
            .agg(F.count("*").alias("n"))
            .writeStream.foreachBatch(apply)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ck{len(seen)}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain({"eventTimeColumn": "ts", "withEventTimeOrder": "true"})
    assert seen == {d: 1 for d in list(range(20, 28)) + list(range(1, 9))}, (
        "initial snapshot dropped rows under the watermark"
    )
    # later phases (non-vacuous check): the watermark DOES engage after
    # the snapshot batch. Spark only persists an advanced watermark in
    # the offsets-log entry of the NEXT committed batch, so drain fresh
    # data once (delivered, and carries watermark=Jan 26 23:00 into the
    # checkpoint), then drain a far-older append — dropped.
    ck = str(tmp_path / "ck0")

    def drain_again(day_lo, day_hi):
        table.append(_ts_df(spark, day_lo, day_hi).coalesce(1))
        got: dict = {}

        def apply_n(df, _bid):
            for r in df.collect():
                got[r["window"]["start"].day] = r["n"]

        q = (
            spark.readStream.format("snapshot_table")
            .option("eventTimeColumn", "ts")
            .option("withEventTimeOrder", "true")
            .load(str(table.root))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day"))
            .agg(F.count("*").alias("n"))
            .writeStream.foreachBatch(apply_n)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    assert drain_again(28, 30) == {28: 1, 29: 1}, (
        "fresh rows above the watermark must be delivered"
    )
    late = drain_again(9, 11)  # Jan 9-10: far behind Jan 26 23:00 now
    assert late == {}, (
        f"rows behind the checkpointed watermark must drop, got {late}"
    )


def test_event_time_order_sorts_initial_partitions(spark, tmp_path):
    """partitions() of the initial-snapshot batch comes back in
    ascending manifest-min event order (stat-less files first) — the
    contract an offset-index snapshot split would consume."""
    import pyarrow as pa

    from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
        _SnapshotStreamReader,
    )

    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_ts_df(spark, 20, 28).coalesce(1))  # newest first
    table.append(_ts_df(spark, 10, 15).coalesce(1))
    table.append(_ts_df(spark, 1, 9).coalesce(1))
    cur = table.current_version()
    schema = pa.schema([("ts", pa.timestamp("us")), ("v", pa.int64())])

    reader = _SnapshotStreamReader(
        str(table.root), schema, event_order_col="ts"
    )
    parts = reader.partitions({"version": -1}, {"version": cur})
    mins = []
    for p in parts:
        path = p.value[0]
        import pyarrow.parquet as pq

        mins.append(pq.read_table(path, columns=["ts"])["ts"].to_pylist()[0])
    assert mins == sorted(mins), f"partitions not event-ordered: {mins}"

    # without the option: same file SET, manifest order (whatever the
    # snapshot records — the option must reorder, not reselect)
    plain = _SnapshotStreamReader(str(table.root), schema)
    plain_parts = plain.partitions({"version": -1}, {"version": cur})
    assert {p.value[0] for p in plain_parts} == {p.value[0] for p in parts}


def test_with_event_time_order_option_validation(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_ts_df(spark, 1, 5))
    spark.dataSource.register(SnapshotDataSource)

    def start(tag, **opts):
        reader = spark.readStream.format("snapshot_table")
        for k, v in opts.items():
            reader = reader.option(k, v)
        (
            reader.load(str(table.root))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / f"ck{tag}"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )

    with pytest.raises(Exception, match="eventTimeColumn"):
        start("a", withEventTimeOrder="true")
    with pytest.raises(Exception, match="startingVersion|initial snapshot"):
        start(
            "b",
            withEventTimeOrder="true",
            eventTimeColumn="ts",
            startingVersion="1",
        )
    with pytest.raises(Exception, match="logical schema"):
        start("c", withEventTimeOrder="true", eventTimeColumn="nope")
    with pytest.raises(Exception, match="CDF|version order"):
        start(
            "d",
            withEventTimeOrder="true",
            eventTimeColumn="ts",
            readChangeFeed="true",
        )


@pytest.mark.parametrize(
    "query", ["snapshot_mapped_stream_read", "snapshot_cdf_stream_mirror"]
)
def test_stream_timeout_stops_stream_and_raises(spark, monkeypatch, query):
    """A stream that outlives its bound is stopped and reported as a
    timeout, before any count comparison could misreport it."""
    from conftest import SF_DIR

    from nyc_taxi_data_pipeline_elt_spark.plans import etl_queries

    monkeypatch.setattr(etl_queries, "STREAM_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError, match="did not finish"):
        getattr(etl_queries, query)(spark, SF_DIR)
    assert spark.streams.active == []
