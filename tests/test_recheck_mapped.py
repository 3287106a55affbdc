"""Rebase constraint-recheck on column-mapped / schema-evolved tables
(review r13 passes 3-4): `_recheck_fresh_constraints` must VERIFY — not
crash — when the fresh constraint's columns are renamed, and must pass
under NULL CHECK semantics when the constraint references an
evolution-added column the rechecked batch lacks. Violations are still
caught. These pin the recheck's row scan (`SnapshotTable._violation`),
which reads the batch through `_read_files` under the commit parent's
recorded schema and column mapping.
"""

from __future__ import annotations

import pytest

from nyc_taxi_data_pipeline_elt_spark.session import tune
from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import (
    ConstraintViolation,
    SnapshotTable,
)


@pytest.fixture()
def table(tmp_path):
    return SnapshotTable(str(tmp_path / "tbl"))


def _ab(spark, rows):
    return spark.createDataFrame(rows, "a INT, b INT")


def test_recheck_verifies_renamed_column_constraint(spark, table):
    """Fresh constraint on a RENAMED column: the mapped scan translates
    physical -> logical and verifies the batch instead of raising."""
    tune(spark)
    table.append(_ab(spark, [(1, 10)]))
    table.rename_column("b", "bb")  # mapping {bb: b}
    enforced: dict = {}
    # batch written BEFORE the constraint existed (logical names)
    new, stats = table._write_data(
        spark.createDataFrame([(2, 20)], "a INT, bb INT"),
        enforced_out=enforced,
    )
    table.add_check_constraint(spark, "pos", "bb >= 0")
    snap = table.snapshot()
    # in-bounds: must verify cleanly (stats prove it, or the scan does)
    table._recheck_fresh_constraints(spark, snap, new, stats, enforced)
    assert enforced == {"pos": "bb >= 0"}


def test_recheck_catches_renamed_column_violation(spark, table):
    tune(spark)
    table.append(_ab(spark, [(1, 10)]))
    table.rename_column("b", "bb")
    enforced: dict = {}
    new, stats = table._write_data(
        spark.createDataFrame([(2, -5)], "a INT, bb INT"),
        enforced_out=enforced,
    )
    table.add_check_constraint(spark, "pos", "bb >= 0")
    with pytest.raises(ConstraintViolation):
        table._recheck_fresh_constraints(
            spark, table.snapshot(), new, stats, enforced
        )


def test_recheck_passes_absent_evolved_column_as_null(spark, table):
    """Constraint on an evolution-added column the batch LACKS: rows
    evaluate it as NULL, NULL passes CHECK (ANSI), so the recheck must
    verify — review r13 pass 4 reproduced an AnalysisException here."""
    tune(spark)
    table.append(_ab(spark, [(1, 10)]))
    table.rename_column("b", "bb")
    # evolve the schema with column c
    table.append(
        spark.createDataFrame([(3, 30, 7)], "a INT, bb INT, c INT")
    )
    enforced: dict = {}
    # batch lacking c, written before the constraint on c existed
    new, stats = table._write_data(
        spark.createDataFrame([(4, 40)], "a INT, bb INT"),
        enforced_out=enforced,
    )
    table.add_check_constraint(spark, "c_pos", "c > 0")
    snap = table.snapshot()
    table._recheck_fresh_constraints(spark, snap, new, stats, enforced)
    assert enforced.get("c_pos") == "c > 0"


def test_recheck_unmapped_evolved_column_also_passes(spark, table):
    """Same NULL-pass contract without any column mapping (the
    schema= path alone carries it)."""
    tune(spark)
    table.append(_ab(spark, [(1, 10)]))
    table.append(
        spark.createDataFrame([(3, 30, 7)], "a INT, b INT, c INT")
    )
    enforced: dict = {}
    new, stats = table._write_data(_ab(spark, [(4, 40)]), enforced_out=enforced)
    table.add_check_constraint(spark, "c_pos", "c > 0")
    table._recheck_fresh_constraints(
        spark, table.snapshot(), new, stats, enforced
    )
    assert enforced.get("c_pos") == "c > 0"
