"""Stats prover verdicts (``sources/stats_prover.py``) on conjunctive,
disjunctive and lexically awkward predicates.

Unit half: predicates resolved by Catalyst against a fixed schema and
judged over hand-written envelopes, ``(predicate, envelopes, expected
(disjoint, proven))``. Integration half: a conjunctive retention delete
on a real ``SnapshotTable`` must prune provably-disjoint files
(metadata-only when every file is disjoint on ANY conjunct) and still
produce exactly the right rows, in UTC and non-UTC sessions.
"""

from __future__ import annotations

import datetime as dt
import functools

import pytest
from pyspark.errors import ParseException
from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_elt_spark.sources import stats_prover
from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable
from nyc_taxi_data_pipeline_elt_spark.sources.stats_prover import (
    _probe_key,
    _stat_key,
)


@pytest.fixture()
def table(tmp_path):
    return SnapshotTable(str(tmp_path / "tbl"))


# ---------------------------------------------------------------- unit

#: numeric columns a..y, the tenant/ts pair of the retention purge, and
#: string columns c/d plus a backticked name for the lexer cases
_NUM = (
    "a BIGINT, b BIGINT, c BIGINT, x BIGINT, y BIGINT, v BIGINT, w BIGINT,"
    " s STRING, tenant STRING, ts TIMESTAMP"
)
_LEX = (
    "c STRING, d STRING, v BIGINT, w BIGINT, tenant STRING, ts TIMESTAMP,"
    " `a OR v >= 5 OR b` BIGINT"
)
_AB = {"a": [2, 5], "b": [0, 1], "c": [3, 3], "x": [1, 2], "y": [3, 3],
       "__num_rows__": 2}
_FS = {
    "ts": ["2023-01-01T00:00:00", "2023-01-31T23:59:59"],
    "tenant": ["EU", "EU"],
    "v": [5, 10],
    "__num_rows__": 4,
}
_V1020 = {"v": [10, 20], "__num_rows__": 3}

# (id, predicate, schema, envelopes, (disjoint, proven))
_CASES = [
    # single relations and conjunctions, any spelling
    ("relation", "a > 1", _NUM, _AB, (False, True)),
    ("paren_wrapped", "  (a > 1) ", _NUM, _AB, (False, True)),
    ("two_conjuncts", "a > 1 AND b < 2", _NUM, _AB, (False, True)),
    ("three_conjuncts", "a>1 AND b<2 AND c=3", _NUM, _AB, (False, True)),
    ("lowercase_and", "(a > 1) and (b < 2)", _NUM, _AB, (False, True)),
    ("double_parens", "((a > 1 AND b < 2))", _NUM, _AB, (False, True)),
    ("conjunct_disjoint", "a > 1 AND b > 1", _NUM, _AB, (True, False)),
    # BETWEEN's AND binds to its BETWEEN
    ("between", "x BETWEEN 1 AND 2", _NUM, _AB, (False, True)),
    ("between_and_conjunct", "x BETWEEN 1 AND 2 AND y = 3", _NUM, _AB, (False, True)),
    ("between_disjoint", "x BETWEEN 3 AND 4 AND y = 3", _NUM, _AB, (True, False)),
    # top-level OR / NOT / mixed precedence are decided, not refused
    ("top_level_or", "a > 1 OR b < 2", _NUM, _AB, (False, True)),
    ("top_level_not", "NOT a > 1", _NUM, _AB, (True, False)),
    ("and_binds_before_or", "a = 1 AND b = 2 OR c = 3", _NUM, _AB, (False, True)),
    ("nested_or_conjunct", "(a > 1 OR b < 2) AND c = 3", _NUM, _AB, (False, True)),
    # IN lists, with and without NULL; backticked identifiers
    ("in_disjoint", "v IN (1, 2)", _NUM, _FS, (True, False)),
    ("in_overlaps", "v IN (5, 99)", _NUM, _FS, (False, False)),
    ("not_in_proven", "v NOT IN (1, 2)", _NUM, _FS, (False, True)),
    ("in_with_null", "v IN (1, NULL)", _NUM, _FS, (True, True)),
    ("string_in_disjoint", "tenant IN ('US', 'XX')", _NUM, _FS, (True, False)),
    ("backticked", "`v` > 100", _NUM, _FS, (True, False)),
    # time literals prune in the UTC pin
    ("time_literal", "ts > '2023-02-01'", _NUM, _FS, (True, False)),
    ("numeric", "v > 100", _NUM, _FS, (True, False)),
    ("time_and_numeric", "ts > '2023-02-01' AND v > 100", _NUM, _FS, (True, False)),
    ("between_and_time", "v BETWEEN 5 AND 10 AND ts >= '2023-01-01'", _NUM, _FS, (False, True)),
    # escapes, comments, double-quoted literals and backticked names:
    # Catalyst lexes them, so nothing splits inside a literal
    ("escaped_quote_and", "c = 'x\\' AND v = 7 AND d = \\'y'", _LEX, _V1020, (False, False)),
    ("escaped_quote_or", "c = 'x\\' OR v >= 5 OR d = \\'y'", _LEX, _V1020, (False, False)),
    ("line_comment_or", "v = 99 -- OR v >= 5", _LEX, _FS, (True, False)),
    ("line_comment_and", "v = 7 -- AND tenant = 'EU'", _LEX, _FS, (False, False)),
    ("block_comment", "v = 7 /* AND x */ AND w = 1", _LEX, _FS, (False, False)),
    ("double_quoted_literal", 'c = "a OR v >= 5 OR b"', _LEX, _FS, (False, False)),
    ("backticked_or_name", "`a OR v >= 5 OR b` = 5", _LEX, _FS, (False, False)),
    ("comment_text_in_literal", "c = 'n/a -- none' AND v = 7", _LEX, _FS, (False, False)),
    ("quotes_in_literal", "c = 'a \"q\" /* x */ b' AND v = 7", _LEX, _FS, (False, False)),
    ("literal_then_disjoint", "c = 'n/a -- none' AND v > 100", _LEX, _FS, (True, False)),
]


@pytest.mark.parametrize(
    "predicate,schema,fstats,expected",
    [c[1:] for c in _CASES],
    ids=[c[0] for c in _CASES],
)
def test_prover_verdict(verdict, predicate, schema, fstats, expected):
    assert verdict(predicate, fstats, schema) == expected


def test_between_keeps_its_and(verdict):
    """``x BETWEEN 1 AND 2 AND y = 3`` is BETWEEN plus one conjunct:
    either half alone decides the conjunction."""
    assert verdict("x BETWEEN 1 AND 2", _AB, _NUM) == (False, True)
    assert verdict("x BETWEEN 1 AND 2 AND y = 4", _AB, _NUM)[0]
    assert verdict("x BETWEEN 5 AND 6 AND y = 3", _AB, _NUM)[0]
    assert verdict("x BETWEEN 1 AND 2 AND y = 3", _AB, _NUM) == (False, True)


def test_quoted_and_is_not_a_split_point(verdict):
    fs = {"s": ["x AND y", "x AND y"], "c": [3, 3], "__num_rows__": 1}
    # the literal is one value: equal to the envelope, so not disjoint
    # (and never a proof: string equality is refused)
    assert verdict("s = 'x AND y' AND c = 3", fs, _NUM) == (False, False)
    assert verdict("s = 'x AND y' AND c = 4", fs, _NUM)[0]
    assert verdict("s = 'x' AND c = 3", fs, _NUM)[0]


def test_top_level_or_and_not_refused(verdict):
    """Top-level OR and NOT need no refusal: Catalyst pushes NOT into
    the comparisons and the evaluator runs three-valued logic."""
    assert verdict("a > 1 OR b < 2", _AB, _NUM) == (False, True)
    assert verdict("NOT a > 1", _AB, _NUM) == (True, False)
    assert verdict("a = 1 AND b = 2 OR c = 3", _AB, _NUM) == (False, True)


def test_nested_or_stays_inside_its_conjunct(verdict):
    assert verdict("(a > 1 OR b < 2) AND c = 3", _AB, _NUM) == (False, True)
    assert verdict("(a > 9 OR b > 2) AND c = 3", _AB, _NUM)[0]


def test_malformed_inputs_refused(spark):
    """Parse errors propagate: they are the errors the row-level filter
    raises, never a silent "no prune"."""
    for bad in (
        "AND a > 1",
        "x BETWEEN 1",
        "(a > 1 AND b < 2",
        "a = 'unclosed AND b = 2",
        "",
    ):
        with pytest.raises(ParseException):
            stats_prover.resolve(spark, bad, _NUM)
    # Spark reads a trailing word as an alias, in the filter too
    assert stats_prover.resolve(spark, "a > 1 AND", _NUM) == (
        stats_prover.resolve(spark, "a > 1", _NUM)
    )


def test_pathological_nesting_is_inconclusive_not_crash(spark):
    """An OR chain nested past MAX_DEPTH is read as unknown below the
    bound instead of overflowing the Python stack in DML planning (every
    branch here is outside the envelope, so only the bound keeps it
    inconclusive); sane nesting still resolves."""
    deep = functools.reduce(
        lambda acc, i: (F.col("v") == 100 + i) | acc,
        range(300),
        F.col("v") == 99,
    )
    ir = stats_prover.resolve(spark, deep, _NUM)
    assert stats_prover.disjoint(ir, _FS) is False
    assert stats_prover.proven(ir, _FS) is False
    shallow = "v = 999"
    for i in range(5):
        shallow = f"(v = {1000 + i} OR ({shallow}))"
    assert stats_prover.disjoint(
        stats_prover.resolve(spark, shallow, _NUM), _FS
    )


def test_disjoint_any_conjunct_suffices(verdict):
    # the multi-tenant retention purge: time conjunct inconclusive
    # (envelope intersects) but tenant conjunct disjoint -> prune
    assert verdict("ts < '2023-02-01' AND tenant = 'US'", _FS, _NUM)[0]
    # time conjunct disjoint, tenant intersects -> prune
    assert verdict("ts > '2023-02-01' AND tenant = 'EU'", _FS, _NUM)[0]
    # neither disjoint -> touched
    assert not verdict("ts < '2023-02-01' AND tenant = 'EU'", _FS, _NUM)[0]


def test_disjoint_sound_with_nested_or_conjunct(verdict):
    # v < 0 and v > 100 are BOTH outside [5, 10], so the OR conjunct
    # alone proves the file match-free
    assert verdict("(v < 0 OR v > 100) AND tenant = 'US'", _FS, _NUM)[0]
    assert verdict("(v < 0 OR v > 100) AND tenant = 'EU'", _FS, _NUM)[0]
    # one OR branch may match -> that conjunct is inconclusive; the
    # conjunction still prunes only via the sound tenant conjunct
    assert not verdict("(v < 0 OR v >= 7) AND tenant = 'EU'", _FS, _NUM)[0]
    assert verdict("(v < 0 OR v >= 7) AND tenant = 'US'", _FS, _NUM)[0]


def test_disjunction_semantics(verdict):
    """Disjoint iff EVERY branch is provably match-free; CHECK-proven
    iff ANY branch is provably never-FALSE; SQL precedence (a AND b OR
    c) = ((a AND b) OR c); NOT is pushed into its comparison."""
    def dis(p):
        return verdict(p, _FS, _NUM)[0]

    def prove(p):
        return verdict(p, _FS, _NUM)[1]

    assert dis("tenant = 'US' OR tenant = 'XX'")
    assert not dis("tenant = 'US' OR tenant = 'EU'")
    # precedence: v>100 AND tenant='EU' is disjoint (v), tenant='US' is
    # disjoint (value) -> whole disjoint
    assert dis("v > 100 AND tenant = 'EU' OR tenant = 'US'")
    assert not dis("v > 100 AND tenant = 'EU' OR tenant = 'EU'")
    # CHECK: any never-FALSE branch proves
    assert prove("v >= 5 OR tenant = 'ZZ'")
    assert not prove("v >= 6 OR v <= 3")
    # NOT v >= 0 is v < 0: disjoint from [5, 10]; NOT v < 0 is proven
    assert dis("NOT v >= 0")
    assert prove("NOT v < 0")
    # BETWEEN composes with OR
    assert dis("v BETWEEN 100 AND 200 OR tenant = 'US'")
    assert prove("v BETWEEN 5 AND 10 OR tenant = 'ZZ'")


def test_check_proven_needs_all_conjuncts(verdict):
    def prove(p):
        return verdict(p, _FS, _NUM)[1]

    assert prove("v >= 5 AND v <= 10")
    assert prove("v BETWEEN 5 AND 10 AND ts >= '2023-01-01'")
    assert not prove("v >= 6 AND v <= 10")
    # string equality proving stays refused per conjunct (writer-
    # truncated parquet bounds)
    assert not prove("v >= 5 AND tenant = 'EU'")


def test_per_conjunct_guards_still_apply(verdict):
    # NaN envelope on one conjunct: that conjunct is inconclusive, the
    # conjunction prunes only via the sound conjunct
    fs = {"a": [float("nan"), float("nan")], "v": [5, 10], "__num_rows__": 2}
    schema = "a DOUBLE, v BIGINT"
    assert not verdict("a > 100 AND v >= 5", fs, schema)[0]
    assert verdict("a > 100 AND v > 100", fs, schema)[0]


def test_empty_file_trivially_proves_and_excludes(verdict):
    assert verdict("a = 1 AND b = 2", {"__num_rows__": 0}, _NUM) == (
        True,
        True,
    )


def test_stat_key_dst_unanimity(monkeypatch):
    """A naive probe inside a DST-ambiguous or imaginary OS-local hour
    has no unanimous instant: _probe_key returns None (inconclusive)
    instead of silently picking one reading (ADVICE r12). Forced by
    pinning TZ to a DST zone for the subprocess-free check."""
    import os
    import time as _time

    monkeypatch.setenv("TZ", "America/New_York")
    _time.tzset()
    try:
        # 2023-11-05 01:30 EDT/EST: ambiguous (clocks fall back)
        assert _probe_key(dt.datetime(2023, 11, 5, 1, 30), False) is None
        # 2023-03-12 02:30: nonexistent (clocks spring forward)
        assert _probe_key(dt.datetime(2023, 3, 12, 2, 30), False) is None
        # a plain hour still keys fine
        assert (
            _probe_key(dt.datetime(2023, 6, 1, 12, 0), False)
            == "2023-06-01T16:00:00"
        )
        # NTZ walls are zone-free: never ambiguous
        assert (
            _probe_key(dt.datetime(2023, 11, 5, 1, 30), True)
            == "2023-11-05T01:30:00"
        )
    finally:
        monkeypatch.delenv("TZ", raising=False)
        os.environ.pop("TZ", None)
        _time.tzset()


def test_stat_key_plain_values_unchanged():
    assert _stat_key(5) == 5
    assert _stat_key("x") == "x"
    assert _stat_key(dt.date(2023, 5, 1)) == "2023-05-01"


# -------------------------------------------------------- integration

def _tenanted(spark, rows):
    """rows: (id, tenant, day) with day as 'YYYY-MM-DD'."""
    return spark.createDataFrame(
        [(i, t, dt.date.fromisoformat(d)) for i, t, d in rows],
        "id INT, tenant STRING, d DATE",
    )


def test_conjunctive_retention_delete_is_metadata_only_when_disjoint(
    spark, table, monkeypatch
):
    """ts < cutoff AND tenant = X where every file is disjoint on at
    least one conjunct: zero reads, zero writes, one manifest commit —
    the at-scale contract for the multi-tenant purge."""
    from nyc_taxi_data_pipeline_elt_spark.session import tune

    tune(spark)
    # file A: tenant EU only (disjoint on tenant = 'US')
    table.append(_tenanted(spark, [(1, "EU", "2023-01-05"), (2, "EU", "2023-01-20")]).coalesce(1))
    # file B: tenant US but all AFTER the cutoff (disjoint on d)
    table.append(_tenanted(spark, [(3, "US", "2023-03-01"), (4, "US", "2023-03-15")]).coalesce(1))
    before = table.snapshot()

    def boom(*a, **kw):
        raise AssertionError("disjoint conjunctive delete must not write")

    monkeypatch.setattr(SnapshotTable, "_write_data", boom)
    snap = table.delete(spark, "d < '2023-02-01' AND tenant = 'US'")
    assert snap.version == before.version + 1
    assert snap.files == before.files
    monkeypatch.setattr(
        SnapshotTable, "_write_data", SnapshotTable.__dict__["_write_data"]
    )
    assert table.read(spark).count() == 4


def test_conjunctive_retention_delete_correct_rows(spark, table):
    """The straddling file is scrubbed of exactly the conjunction's
    rows; disjoint files carry verbatim."""
    from nyc_taxi_data_pipeline_elt_spark.session import tune

    tune(spark)
    table.append(_tenanted(spark, [(1, "EU", "2023-01-05"), (2, "EU", "2023-01-20")]).coalesce(1))
    table.append(_tenanted(spark, [(3, "US", "2023-01-10"), (4, "US", "2023-03-15")]).coalesce(1))
    before = table.snapshot()
    eu_files = {
        f for f in before.files if before.stats[f]["tenant"] == ["EU", "EU"]
    }
    assert eu_files, "setup: expected an all-EU file"
    snap = table.delete(spark, "d < '2023-02-01' AND tenant = 'US'")
    # the all-EU file is tenant-disjoint: carried with the same path
    assert eu_files <= set(snap.files)
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2, 4]


def test_conjunctive_check_constraint_metadata_only(spark, table):
    """Adding a conjunctive CHECK a table's envelopes prove must not
    scan (stats prove ALL conjuncts file-wide)."""
    from nyc_taxi_data_pipeline_elt_spark.session import tune

    tune(spark)
    table.append(
        spark.range(0, 10).selectExpr("id", "id + 100 AS v")
    )
    called = {"n": 0}
    orig = SnapshotTable._violation

    def spy(self, *a, **kw):
        called["n"] += 1
        return orig(self, *a, **kw)

    SnapshotTable._violation = spy
    try:
        table.add_check_constraint(
            spark, "bounds", "id >= 0 AND v >= 100 AND v <= 200"
        )
    finally:
        SnapshotTable._violation = orig
    assert called["n"] == 0, "conjunctive in-bounds CHECK must be metadata-only"
    # and a violating conjunctive constraint is still caught (row scan)
    with pytest.raises(Exception):
        table.add_check_constraint(spark, "bad", "id >= 0 AND v >= 150")


def test_conjunctive_merge_by_source_condition_prunes(spark, table):
    """A by-source clause with a conjunctive condition: files the stats
    prove condition-disjoint on ANY conjunct stay carried."""
    from nyc_taxi_data_pipeline_elt_spark.session import tune

    tune(spark)
    table.append(_tenanted(spark, [(1, "EU", "2023-01-05")]).coalesce(1))
    table.append(_tenanted(spark, [(2, "US", "2023-01-10")]).coalesce(1))
    before = table.snapshot()
    src = _tenanted(spark, [(9, "EU", "2023-06-01")])
    snap = table.merge(
        spark,
        src,
        ["id"],
        when_matched="update",
        when_not_matched="insert",
        when_not_matched_by_source=(
            "delete",
            "d < '2023-02-01' AND tenant = 'US'",
        ),
    )
    # EU file is by-source-condition-disjoint AND key-disjoint: carried
    eu_files = {
        f for f in before.files if before.stats[f]["tenant"] == ["EU", "EU"]
    }
    assert eu_files <= set(snap.files)
    ids = sorted(r.id for r in table.read(spark).collect())
    assert ids == [1, 9]  # US row deleted by the conjunctive condition


def test_retention_delete_prunes_under_non_utc_session(spark, table):
    """Catalyst coerces ``ts < '<cutoff>'`` in the session's own zone,
    so a retention delete under America/New_York still carries the
    files wholly after the cutoff, and removes exactly the rows the same
    filter selects on a read beforehand."""
    from nyc_taxi_data_pipeline_elt_spark.session import tune

    tune(spark)

    def days(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id", "make_timestamp(2023, 1, CAST(id AS INT), 12, 0, 0, 'UTC') AS ts"
        )

    table.append(days(1, 10).coalesce(1))    # Jan 1-9, noon UTC
    table.append(days(20, 28).coalesce(1))   # Jan 20-27
    before = table.snapshot()
    late = next(
        f for f in before.files
        if before.stats[f]["ts"][0].startswith("2023-01-20")
    )
    pred = "ts < '2023-01-05'"
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        doomed = {r.id for r in table.read(spark).filter(pred).collect()}
        table.delete(spark, pred)
    finally:
        spark.conf.set(key, old)
    assert doomed == {1, 2, 3, 4}
    assert late in table.snapshot().files, "disjoint file must be carried"
    assert {r.id for r in table.read(spark).collect()} == (
        set(range(1, 10)) | set(range(20, 28))
    ) - doomed
