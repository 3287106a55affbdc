"""MERGE clause matrix: one merge per legal clause combination.

The target holds a key on two rows (twice: once where the matched
condition passes for one row only, once where it passes for both), a
NULL-keyed row, and a second file whose keys are disjoint from the
source's key range. The source holds a NULL-keyed row too. Each case
checks the committed table against a pandas model of the clause
semantics, and checks that the merge's change feed, replayed over the
old table, reproduces the new one."""

from __future__ import annotations

import itertools
import shutil
import uuid
from collections import Counter

import pandas as pd
import pytest

from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable

SCHEMA = "k long, v long, ts long"
COLS = ["k", "v", "ts"]
TARGET = [
    (1, 10, 1), (1, 11, 5),  # matched condition passes for (1, 10) only
    (2, 20, 1),
    (3, 30, 9),  # matched condition fails
    (4, 40, 1), (5, 50, 5),  # not matched by source
    (6, 61, 1), (6, 62, 2),  # matched condition passes for both
    (None, 60, 1),
]
CARRIED = [(100, 1000, 1), (101, 1010, 1)]
SOURCE = [
    (1, 100, 3), (2, 21, 5), (3, 31, 2), (6, 600, 7),
    (7, 70, 1), (8, 5, 1),  # unmatched: passes / fails the insert condition
    (None, 90, 1),
]

# each SQL condition with its pandas twin over the model's frames
M_COND = "source.ts > target.ts"
NM_COND = "v > 50"
BS_COND = "v <= 60"
BS_SET = {"v": "v + 1000"}

MATCHED = {
    "update": "update",
    "update_if": ("update", M_COND),
    "delete": "delete",
    "delete_if": ("delete", M_COND),
    "none": None,
}
NOT_MATCHED = {"insert": "insert", "insert_if": ("insert", NM_COND), "none": None}
BY_SOURCE = {
    "none": None,
    "delete": "delete",
    "delete_if": ("delete", BS_COND),
    "update_if": ("update", BS_SET, BS_COND),
}
CASES = [
    c
    for c in itertools.product(MATCHED, NOT_MATCHED, BY_SOURCE)
    if c != ("none", "none", "none")
]


def _rows(df: pd.DataFrame) -> Counter:
    return Counter(
        tuple(None if pd.isna(x) else int(x) for x in r)
        for r in df[COLS].itertuples(index=False)
    )


def _model(m: str, nm: str, bs: str) -> Counter:
    """The merged table: matched target rows the matched clause acts on
    go (an update's post-image is the source row, once per key), other
    target rows stay unless the by-source clause acts on them, and
    unmatched source rows enter under the not-matched clause."""
    t = pd.DataFrame(TARGET + CARRIED, columns=COLS).astype("Int64")
    s = pd.DataFrame(SOURCE, columns=COLS).astype("Int64")
    j = t.merge(s.dropna(subset=["k"]), on="k", how="left", suffixes=("", "_s"))
    matched = j["v_s"].notna()
    passed = matched
    if m.endswith("_if"):
        passed = matched & (j["ts_s"] > j["ts"]).fillna(False)
    gone = passed & (m != "none")
    hit = ~matched
    if bs.endswith("_if"):
        hit = hit & (j["v"] <= 60).fillna(False)
    if bs in ("delete", "delete_if"):
        gone = gone | hit
    if bs == "update_if":
        j.loc[hit, "v"] = j.loc[hit, "v"] + 1000
    out = _rows(j[~gone])
    matched_keys = set(j.loc[matched, "k"])
    unmatched = s[~s["k"].isin(matched_keys).fillna(False)]
    if nm == "insert_if":
        unmatched = unmatched[(unmatched["v"] > 50).fillna(False)]
    if nm != "none":
        out += _rows(unmatched)
    if m.startswith("update"):
        out += _rows(s[s["k"].isin(set(j.loc[passed, "k"])).fillna(False)])
    return out


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """The two-file target table, built once and copied per case."""
    table = SnapshotTable(str(tmp_path_factory.mktemp("matrix") / "base"))
    table.append(spark.createDataFrame(TARGET, SCHEMA).coalesce(1))
    table.append(spark.createDataFrame(CARRIED, SCHEMA).coalesce(1))
    return table


@pytest.mark.parametrize("m, nm, bs", CASES, ids=["-".join(c) for c in CASES])
def test_merge_clause_matrix(spark, base, tmp_path, m, nm, bs):
    shutil.copytree(base.root, tmp_path / "t")
    table = SnapshotTable(str(tmp_path / "t"))
    old = table.snapshot()
    carried_file = next(f for f in old.files if old.stats[f]["k"][0] == 100)
    snap = table.merge(
        spark,
        spark.createDataFrame(SOURCE, SCHEMA),
        ["k"],
        when_matched=MATCHED[m],
        when_not_matched=NOT_MATCHED[nm],
        when_not_matched_by_source=BY_SOURCE[bs],
        change_data=True,
    )
    # a merge that empties the table may commit no file, which read() refuses
    new = Counter(
        tuple(r) for r in table.read(spark).select(*COLS).collect()
    ) if snap.files else Counter()
    assert new == _model(m, nm, bs)
    # only an unconditional by-source clause reaches the key-disjoint file
    assert (carried_file in snap.files) == (bs != "delete")

    state = Counter(TARGET + CARRIED)
    feed = table.read_changes_cdf(spark, since_version=old.version).collect()
    for r in feed:
        row = (r.k, r.v, r.ts)
        if r._change_type in ("insert", "update_postimage"):
            state[row] += 1
        else:
            assert state[row] > 0, f"{r._change_type} of a missing row {row}"
            state[row] -= 1
    assert +state == new
    types = Counter(r._change_type for r in feed)
    assert types["update_preimage"] == types["update_postimage"]


def _jobs_started(spark, build):
    """``build()``'s result and the Spark jobs it started, side threads
    included (they inherit the job group)."""
    sc = spark.sparkContext
    group = f"merge-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "merge job count")
    try:
        out = build()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return out, [tracker.getJobInfo(i) for i in tracker.getJobIdsForGroup(group)]


# the upsert's Spark jobs in the test session: the source probe, the
# joined relation, and the writes
UPSERT_JOBS = {False: 6, True: 11}


@pytest.mark.parametrize("change_data", [False, True])
def test_merge_upsert_job_count(spark, tmp_path, change_data):
    table = SnapshotTable(str(tmp_path / "t"))
    table.append(
        spark.range(4000).selectExpr("id AS k", "id AS v").repartitionByRange(4, "k")
    )
    source = spark.range(0, 4000, 20).selectExpr("id AS k", "-id AS v")
    _, jobs = _jobs_started(
        spark,
        lambda: table.merge(spark, source, ["k"], change_data=change_data),
    )
    assert len(jobs) == UPSERT_JOBS[change_data]
    assert all(j.status == "SUCCEEDED" for j in jobs)
