"""load_table schema memo + register_testdata_views skip (r13 opt).

``load_table`` memoizes only the INFERRED SCHEMA per session and builds
every read with an explicit schema (~6x cheaper driver dispatch than
re-inference, guide §1.2). These tests pin the contract that makes that
safe: same schema and rows as a plain inferred read, FRESH relations per
call (self-joins of two load_table results must keep working), memo dies
with the session attribute, and the view-registration skip still serves
correct views when queries switch scale factors.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_elt_spark.sources import readers
from nyc_taxi_data_pipeline_elt_spark.sources.catalog import (
    register_testdata_views,
)
from nyc_taxi_data_pipeline_elt_spark.sources.readers import (
    TESTDATA_TABLES,
    load_table,
)

SF_DIR = "/root/testdata/sf0.001"
SF_DIR2 = "/root/testdata/sf0.01"


def test_schema_matches_plain_inferred_read(spark):
    for name in TESTDATA_TABLES:
        plain = spark.read.parquet(f"{SF_DIR}/{name}.parquet")
        memod = load_table(spark, SF_DIR, name)
        # load_table normalizes events.ts; compare the pre-normalized
        # field set by name and the post-normalization frame's own
        # consistency instead of the raw struct for that one column
        if name == "events":
            assert [f.name for f in plain.schema.fields] == [
                f.name for f in memod.schema.fields
            ]
            assert dict(memod.dtypes)["ts"] == "timestamp"
        else:
            assert plain.schema == memod.schema


def test_rows_match_plain_read(spark):
    plain = sorted(
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select("o_orderkey", "o_totalprice")
        .collect()
    )
    memod = sorted(
        load_table(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice")
        .collect()
    )
    assert plain == memod


def test_two_calls_are_fresh_relations_self_join_safe(spark):
    a = load_table(spark, SF_DIR, "nation")
    b = load_table(spark, SF_DIR, "nation")
    assert a is not b
    # column-reference self-join: only works when the two frames carry
    # distinct expression ids (the hazard a DataFrame-object memo would
    # introduce and the schema-only memo must not)
    joined = a.join(b, a["n_regionkey"] == b["n_regionkey"])
    assert joined.count() > 0


def test_memo_attached_to_session_and_keyed_by_path(spark):
    load_table(spark, SF_DIR, "region")
    memo = getattr(spark, "_ntx_schema_memo", None)
    assert memo is not None
    # keyed on (path, mtime_ns, size) — ADVICE r13: a regenerated
    # fixture at the same path re-infers instead of serving stale shape
    import os

    path = f"{SF_DIR}/region.parquet"
    st = os.stat(path)
    assert (path, st.st_mtime_ns, st.st_size) in memo
    # metadata only: StructType values, nothing row-like or DataFrame
    from pyspark.sql.types import StructType

    assert all(isinstance(v, StructType) for v in memo.values())


def test_memo_invalidates_on_fixture_rewrite(spark, tmp_path):
    """ADVICE r13 scenario: a parquet REGENERATED at the same path with
    a different schema must be re-inferred, not silently null-padded
    through the stale memoized schema."""
    import shutil
    import time

    d = tmp_path / "sfX"
    d.mkdir()
    shutil.copyfile(f"{SF_DIR}/region.parquet", d / "region.parquet")
    first = load_table(spark, str(d), "region")
    assert set(first.columns) == {"r_regionkey", "r_name"}
    # regenerate with a different shape at the SAME path
    time.sleep(0.01)  # ensure a distinct mtime_ns even on coarse clocks
    spark.read.parquet(f"{SF_DIR}/region.parquet").select(
        "r_regionkey"
    ).write.mode("overwrite").parquet(str(d / "region.parquet"))
    again = load_table(spark, str(d), "region")
    assert set(again.columns) == {"r_regionkey"}


def test_register_views_skip_and_sf_switch(spark):
    register_testdata_views(spark, SF_DIR)
    n_small = spark.sql("SELECT count(*) AS n FROM orders").first()["n"]
    # second call with the same sf_dir: skipped, views still resolve
    register_testdata_views(spark, SF_DIR)
    assert (
        spark.sql("SELECT count(*) AS n FROM orders").first()["n"] == n_small
    )
    # switching sf_dir must re-register (not serve the stale scale)
    register_testdata_views(spark, SF_DIR2)
    n_big = spark.sql("SELECT count(*) AS n FROM orders").first()["n"]
    assert n_big > n_small
    # and back
    register_testdata_views(spark, SF_DIR)
    assert (
        spark.sql("SELECT count(*) AS n FROM orders").first()["n"] == n_small
    )


def test_events_ts_normalized_type_unchanged(spark):
    ev = load_table(spark, SF_DIR, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    # derived hour values match a plain read + identical normalization
    plain = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from pyspark.sql.types import LongType, TimestampNTZType

    for f_ in plain.schema.fields:
        if f_.name == "ts" and isinstance(f_.dataType, LongType):
            plain = plain.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
            )
        elif f_.name == "ts" and isinstance(f_.dataType, TimestampNTZType):
            plain = plain.withColumn("ts", F.col("ts").cast("timestamp"))
    a = sorted(str(r["ts"]) for r in plain.select("ts").collect())
    b = sorted(str(r["ts"]) for r in ev.select("ts").collect())
    assert a == b


def test_memo_skipped_when_fixture_cannot_be_stat(spark, monkeypatch):
    """ADVICE r14: a fixture whose stat fails is read without the memo
    instead of being cached under a key no rewrite can ever change."""
    def no_stat(path):
        raise OSError("stat unavailable")

    load_table(spark, SF_DIR, "nation")
    memo = spark._ntx_schema_memo
    before = dict(memo)
    monkeypatch.setattr(readers, "_memo_key", no_stat)
    df = load_table(spark, SF_DIR, "nation")
    assert df.count() > 0
    assert memo == before


def test_directory_fixture_keyed_on_part_files(spark, tmp_path):
    """A directory fixture whose part file is rewritten in place keeps
    the directory's own stat; the memo key must still change."""
    table = tmp_path / "sfD" / "region.parquet"
    table.mkdir(parents=True)
    part = table / "part-00000.parquet"
    src = pq.read_table(f"{SF_DIR}/region.parquet")
    pq.write_table(src, part)
    (table / "_SUCCESS").touch()
    assert set(load_table(spark, str(table.parent), "region").columns) == {
        "r_regionkey", "r_name"
    }
    dir_stat = os.stat(table)
    pq.write_table(src.select(["r_regionkey"]), part)
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert os.stat(table).st_mtime_ns == dir_stat.st_mtime_ns
    assert set(load_table(spark, str(table.parent), "region").columns) == {
        "r_regionkey"
    }


def test_register_views_when_sentinel_check_raises(spark, monkeypatch):
    """ADVICE r14: a sentinel check that raises must re-register (the
    registration is idempotent) rather than serve an unverified skip."""
    register_testdata_views(spark, SF_DIR)
    n = spark.sql("SELECT count(*) AS n FROM nation").first()["n"]
    spark.catalog.dropTempView("nation")

    def broken(*_a, **_k):
        raise RuntimeError("catalog unavailable")

    monkeypatch.setattr(spark.catalog, "tableExists", broken)
    register_testdata_views(spark, SF_DIR)
    monkeypatch.undo()
    assert spark.sql("SELECT count(*) AS n FROM nation").first()["n"] == n
