"""The insert-only change feed — ``read_changes`` and the insert-only
stream — is the change-feed planner's insert artifacts: its planning
reads raw manifests only, the batch and stream readers serve the same
rows or refuse with the same message under every tolerance flag, and the
batch feed refuses a drop of a column it has served."""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql.pandas.types import to_arrow_schema

from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
    SnapshotDataSource,
    _SnapshotStreamReader,
)
from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable

_FLAGS = {
    "none": {},
    "ignore_deletes": {"ignore_deletes": True},
    "skip_change_commits": {"skip_change_commits": True},
}
_STREAM_OPTION = {
    "ignore_deletes": "ignoreDeletes",
    "skip_change_commits": "skipChangeCommits",
}


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v").coalesce(1)


def _snapshot_calls(monkeypatch) -> list:
    """The versions every later ``SnapshotTable.snapshot`` call asks for."""
    calls: list = []
    real = SnapshotTable.snapshot

    def counting(self, version=None):
        calls.append(version)
        return real(self, version)

    monkeypatch.setattr(SnapshotTable, "snapshot", counting)
    return calls


def test_insert_feed_plans_from_raw_manifests(spark, tmp_path, monkeypatch):
    """Planning the insert-only feed resolves at most the until version's
    snapshot (batch) and none (the stream's incremental range), whatever
    the tolerance flag, on a table whose log outgrows its checkpoint
    cadence."""
    table = SnapshotTable(str(tmp_path / "tbl"))
    table.checkpoint_every = 4
    table.append(_df(spark, 0, 3))                            # v0
    table.append(_df(spark, 10, 13))                          # v1
    table.append(_df(spark, 20, 23))                          # v2
    table.delete(spark, "id = 11", mode="merge-on-read")      # v3
    table.append(_df(spark, 30, 33))                          # v4
    table.compact(spark, target_files=1)                      # v5
    table.append(_df(spark, 40, 43))                          # v6
    table.update(spark, "id = 40", {"v": "v + 1000"})         # v7
    table.append(_df(spark, 50, 53))                          # v8
    table.delete(spark, "id = 51", mode="merge-on-read")      # v9
    assert table.current_version() == 9 > table.checkpoint_every
    schema = to_arrow_schema(table.read(spark).schema)
    cases = [
        # (flag, since, until, ids served)
        ("none", 3, 6, [30, 31, 32, 40, 41, 42]),
        ("ignore_deletes", 0, 5, [10, 12, 20, 21, 22, 30, 31, 32]),
        (
            "skip_change_commits",
            -1,
            9,
            [0, 1, 2, 10, 12, 20, 21, 22, 30, 31, 32, 40, 41, 42, 50, 52],
        ),
    ]
    calls = _snapshot_calls(monkeypatch)
    for flag, since, until, ids in cases:
        calls.clear()
        df = table.read_changes(spark, since, until, **_FLAGS[flag])
        assert len(calls) <= 1 and set(calls) <= {until}, (flag, calls)
        assert sorted(r.id for r in df.collect()) == ids, flag

        reader = _SnapshotStreamReader(
            str(table.root), schema, starting_version=since + 1, **_FLAGS[flag]
        )
        calls.clear()
        parts = reader.partitions({"version": since}, {"version": until})
        assert calls == [], (flag, calls)
        got = sorted(
            x["id"].as_py()
            for p in parts
            if p.value is not None
            for b in reader.read(p)
            for x in b.to_struct_array()
        )
        assert got == ids, flag


def _batch(table, spark, since, flag):
    """``read_changes`` from ``since``: ("rows", sorted rows) or
    ("refused", message)."""
    try:
        df = table.read_changes(spark, since, **_FLAGS[flag])
    except ValueError as exc:
        return "refused", str(exc)
    return "rows", sorted(tuple(sorted(r.asDict().items())) for r in df.collect())


def _start_stream(spark, table, ck, since, flag):
    """Start an availableNow insert-only stream at ``since + 1``; return
    the query and the list its batches' rows land in."""
    reader = (
        spark.readStream.format("snapshot_table")
        .option("startingVersion", since + 1)
    )
    if flag in _STREAM_OPTION:
        reader = reader.option(_STREAM_OPTION[flag], "true")
    rows: list = []
    q = (
        reader.load(str(table.root))
        .writeStream.foreachBatch(
            lambda df, _b: rows.extend(
                tuple(sorted(r.asDict().items())) for r in df.collect()
            )
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    return q, rows


def _outcome(q, rows):
    """("rows", sorted rows) or ("refused", the query's error text)."""
    try:
        q.awaitTermination(120)
    except StreamingQueryException as exc:  # it carries the refusal
        return "refused", str(exc)
    return "rows", sorted(rows)


def _assert_parity(spark, table, tmp_path, tag):
    """Batch vs stream from every start version under every flag (the
    three flags' streams run at once); returns the outcome kinds seen."""
    until = table.current_version()
    outcomes = set()
    for since in range(-1, until):
        streams = {
            flag: _start_stream(
                spark, table, str(tmp_path / f"ck-{tag}-{since}-{flag}"),
                since, flag,
            )
            for flag in _FLAGS
        }
        for flag, started in streams.items():
            batch = _batch(table, spark, since, flag)
            stream = _outcome(*started)
            where = (tag, since, flag)
            assert batch[0] == stream[0], (where, batch, stream)
            if batch[0] == "rows":
                assert batch[1] == stream[1], where
            else:
                assert batch[1] in stream[1], (where, batch[1], stream[1])
            outcomes.add(batch[0])
    return outcomes


def test_batch_and_stream_insert_feeds_agree(spark, tmp_path):
    """One history — appends, a merge-on-read delete, a copy-on-write
    delete that rewrites survivors, a merge-on-read update, merges with
    and without change data, a compact and a trailing rename. From every
    start version, under each tolerance flag, the batch feed and a
    startingVersion stream serve the same rows or refuse with the same
    message; checked before and after the rename."""
    spark.dataSource.register(SnapshotDataSource)
    table = SnapshotTable(str(tmp_path / "tbl"))
    table.append(_df(spark, 0, 4))                            # v0
    table.append(_df(spark, 10, 14))                          # v1
    table.delete(spark, "id = 11", mode="merge-on-read")      # v2
    table.delete(spark, "id = 12")                            # v3: COW
    table.append(_df(spark, 20, 24))                          # v4
    table.update(
        spark, "id = 20", {"v": "v + 1000"}, mode="merge-on-read"
    )                                                         # v5
    table.merge(
        spark,
        spark.createDataFrame([(21, 999), (30, 60)], "id long, v long"),
        ["id"],
        change_data=True,
    )                                                         # v6
    table.merge(
        spark,
        spark.createDataFrame([(22, 888), (31, 62)], "id long, v long"),
        ["id"],
    )                                                         # v7
    table.append(_df(spark, 40, 43))                          # v8
    table.compact(spark, target_files=1)                      # v9
    assert _assert_parity(spark, table, tmp_path, "pre") == {"rows", "refused"}
    table.rename_column("v", "amount")                        # v10
    # a range that starts before the rename serves the renamed column
    # under its new name only from the start (nothing delivered under
    # the old one); any later start refuses at the rename
    assert _assert_parity(spark, table, tmp_path, "post") == {"rows", "refused"}
    with pytest.raises(ValueError, match="schema change"):
        table.read_changes(spark, 9)



def test_batch_feed_refuses_a_drop_of_a_served_column(spark, tmp_path):
    """A drop inside the range of a column the consumer has been served
    refuses: the batch feed declares the start version's columns. A range
    from -1 has served none, and ``allow_schema_change`` reads the range
    under the until-version schema."""
    table = SnapshotTable(str(tmp_path / "tbl"))
    ck, seen = str(tmp_path / "ck"), []
    handle = lambda df, until: seen.append(sorted(df.columns))  # noqa: E731
    table.append(_df(spark, 0, 3))                            # v0
    assert table.process_changes(spark, ck, handle) == 0
    table.append(_df(spark, 10, 12))                          # v1
    table.drop_column("v")                                    # v2
    table.append(spark.range(20, 22).coalesce(1))             # v3
    for since in (0, 1):
        with pytest.raises(ValueError, match="schema change"):
            table.read_changes(spark, since)
    with pytest.raises(ValueError, match="schema change"):
        table.process_changes(spark, ck, handle)
    assert seen == [["id", "v"]]
    fresh = table.read_changes(spark, -1)
    assert fresh.columns == ["id"]
    assert sorted(r.id for r in fresh.collect()) == [0, 1, 2, 10, 11, 20, 21]
    allowed = table.read_changes(spark, 0, allow_schema_change=True)
    assert sorted(r.id for r in allowed.collect()) == [10, 11, 20, 21]
    after = table.read_changes(spark, 2)
    assert sorted(r.id for r in after.collect()) == [20, 21]
