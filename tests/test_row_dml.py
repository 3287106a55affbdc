"""The row-level DML contract: delete and update, copy-on-write and
merge-on-read, as four cells of one skeleton (``SnapshotTable._row_dml``)
that must agree on the table, the change feed and the manifest."""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable
from tests.test_snapshot_stream import _drain_cdf

#: every manifest key one of the four cells may record
DML_KEYS = {
    "delete_predicate",
    "delete_mode",
    "update_predicate",
    "update_set",
    "update_mode",
    "dv_new",
    "dv_touched",
    "dv_before",
    "update_added",
    "cdc_files",
}

CELL_KEYS = {
    ("delete", "copy-on-write"): {"delete_predicate", "dv_new"},
    ("delete", "merge-on-read"): {
        "delete_predicate",
        "delete_mode",
        "dv_new",
        "dv_touched",
        "dv_before",
    },
    # the table has delta.enableChangeDataFeed: a COW update materializes
    ("update", "copy-on-write"): {
        "update_predicate",
        "update_set",
        "cdc_files",
    },
    # ... while MoR's frozen positions and added files are its feed
    ("update", "merge-on-read"): {
        "update_predicate",
        "update_set",
        "update_mode",
        "dv_new",
        "dv_touched",
        "dv_before",
        "update_added",
    },
}

PRED = "id % 3 = 0 AND id >= 20"
SETS = {"v": "v + 1000"}


@pytest.fixture()
def table(tmp_path):
    return SnapshotTable(str(tmp_path / "tbl"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def _rows(df):
    return {(r["id"], r["v"], r["_change_type"], r["_commit_version"]) for r in df}


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
@pytest.mark.parametrize("op", ["delete", "update"])
def test_row_dml_cells_share_one_contract(spark, tmp_path, table, op, mode):
    """Each cell, on a change-feed table with a prior soft delete and a
    stats-prunable first file: the table equals a Python model, the
    batch change feed equals the model's changes, the streaming change
    feed serves the same rows as the batch one, and the manifest records
    exactly that cell's keys."""
    for lo in (0, 20, 40):
        table.append(_df(spark, lo, lo + 20).coalesce(1))     # v0-v2
    table.set_property("delta.enableChangeDataFeed", "true")  # v3
    table.delete(spark, "id = 21", mode="merge-on-read")      # v4
    model = {i: i * 2 for i in range(60) if i != 21}
    hit = sorted(i for i in model if i % 3 == 0 and i >= 20)
    if op == "delete":
        snap = table.delete(spark, PRED, mode=mode)           # v5
        changes = {(i, model.pop(i), "delete", 5) for i in hit}
    else:
        snap = table.update(spark, PRED, SETS, mode=mode)     # v5
        changes = {(i, model[i], "update_preimage", 5) for i in hit}
        changes |= {(i, model[i] + 1000, "update_postimage", 5) for i in hit}
        model.update({i: model[i] + 1000 for i in hit})
    assert snap.version == 5
    assert {r.id: r.v for r in table.read(spark).collect()} == model
    assert table.snapshot(0).files[0] not in (
        table._raw_manifest(5).get("remove") or ()
    ), "the first file is stats-disjoint and must be carried"

    assert _rows(
        table.read_changes_cdf(spark, since_version=4).collect()
    ) == changes
    batch = table.read_changes_cdf(spark, since_version=-1).collect()
    stream = _drain_cdf(spark, str(table.root), str(tmp_path / "ck"))
    assert sorted(stream) == sorted(
        (r["id"], r["v"], r["_change_type"], r["_commit_version"])
        for r in batch
    )

    raw = table._raw_manifest(5)
    assert DML_KEYS & set(raw) == CELL_KEYS[(op, mode)]


@pytest.mark.parametrize("change_data", [False, True])
@pytest.mark.parametrize(
    "predicate, sets",
    [
        ("rand() < 0.3", {"v": "v + 1"}),
        ("id >= 5", {"v": "CAST(rand() * 1000 AS BIGINT)"}),
    ],
    ids=["rand-predicate", "rand-set"],
)
def test_cow_update_refuses_nondeterministic_expressions(
    spark, table, predicate, sets, change_data
):
    """Copy-on-write update evaluates its predicate and SET expressions
    in more than one query (rewrite, change-data write, replay), so a
    non-deterministic one is refused before anything is written, naming
    the mode that evaluates it once."""
    table.append(_df(spark, 0, 40).coalesce(1))
    before = table.current_version()
    data_before = set(os.listdir(table.root / "data"))
    with pytest.raises(ValueError, match="mode='merge-on-read'"):
        table.update(spark, predicate, sets, change_data=change_data)
    assert table.current_version() == before
    assert set(os.listdir(table.root / "data")) == data_before
    assert not (table.root / "_change_data").exists()


@pytest.mark.parametrize("op", ["merge", "update"])
def test_failed_change_data_write_strands_no_directory(
    spark, table, monkeypatch, op
):
    """A change-data write that fails on its side thread after landing
    part of its directory: the original error surfaces, the version is
    unchanged, and neither the change-data directory nor the data
    directory written beside it is left behind."""
    table.append(_df(spark, 0, 20).coalesce(1))
    table.set_property("delta.enableChangeDataFeed", "true")
    before = table.current_version()
    data_before = set(os.listdir(table.root / "data"))
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if "/_change_data/" in str(path):
            Path(path).mkdir(parents=True)
            (Path(path) / "part-00000.parquet").write_bytes(b"partial")
            raise RuntimeError("injected change-data write failure")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(RuntimeError, match="injected change-data"):
        if op == "merge":
            table.merge(spark, _df(spark, 10, 30), ["id"])
        else:
            table.update(spark, "id < 5", {"v": "v + 1"})
    monkeypatch.undo()
    assert table.current_version() == before
    assert list((table.root / "_change_data").iterdir()) == []
    assert set(os.listdir(table.root / "data")) == data_before
