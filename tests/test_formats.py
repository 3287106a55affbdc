"""Multi-format source/sink roundtrips (parquet/orc/json/csv)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_elt_spark.sources.readers import load_table
from nyc_taxi_data_pipeline_elt_spark.sources.writers import (
    SUPPORTED_FORMATS,
    read_table,
    write_table,
)
from tests.conftest import SF_DIR


@pytest.mark.parametrize("fmt", SUPPORTED_FORMATS)
def test_roundtrip(spark, tmp_path, fmt):
    src = load_table(spark, SF_DIR, "orders")
    path = str(tmp_path / f"orders_{fmt}")
    write_table(src, path, fmt=fmt)
    back = read_table(spark, path, fmt=fmt, schema=src.schema)
    assert back.count() == src.count()
    assert back.schema == src.schema
    # value-level spot check via checksum of a stable projection
    chk = lambda df: df.agg(  # noqa: E731
        F.sum(F.crc32(F.concat_ws("|", "o_orderkey", "o_orderstatus"))).alias("c")
    ).collect()[0].c
    assert chk(back) == chk(src)


def test_jsonl_dlq_splits_malformed_lines(spark, tmp_path):
    """PERMISSIVE JSONL ingest: parsed rows flow to good, truncated /
    invalid lines land in the DLQ with the raw line intact for replay —
    nothing is silently dropped."""
    from nyc_taxi_data_pipeline_elt_spark.sources.readers import (
        read_jsonl_with_dlq,
    )

    p = tmp_path / "crawl.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        '{"doc_id": 2, "text": "truncated...\n'
        "not json at all\n"
        '{"doc_id": 3, "text": "fine"}\n'
    )
    good, bad = read_jsonl_with_dlq(
        spark, str(p), "doc_id bigint, text string"
    )
    assert {r.doc_id for r in good.collect()} == {1, 3}
    assert "_corrupt_record" not in good.columns
    bad_lines = [r.raw_line for r in bad.collect()]
    assert len(bad_lines) == 2
    assert "not json at all" in bad_lines  # raw line preserved for replay


def test_partitioned_write_layout(spark, tmp_path):
    src = load_table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_part")
    write_table(src, path, fmt="parquet", partition_by=["o_year"])
    years = {p.name for p in (tmp_path / "orders_part").iterdir() if p.is_dir()}
    assert all(y.startswith("o_year=") for y in years)
    assert len(years) >= 5


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError, match="unsupported format"):
        write_table(load_table(spark, SF_DIR, "region"), "/tmp/x", fmt="avro")


def _stat_widths(path, col_idx):
    import glob as _glob

    import pyarrow.parquet as pq

    widths = []
    for f in _glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            widths.append(st.max - st.min)
    return sum(widths) / len(widths)


def test_zorder_tightens_stats_on_both_columns(spark, tmp_path):
    """Z-ORDER vs single-key range clustering: sorting on l_orderkey alone
    leaves l_partkey spanning its full range in every file (no skipping on
    partkey predicates); the Morton layout keeps BOTH columns' footer
    min/max windows a fraction of their full range. The Morton key is
    ``zorder_key``, the one ``SnapshotTable.optimize(zorder_by=)`` uses,
    over bounds from one min/max aggregate."""
    from nyc_taxi_data_pipeline_elt_spark.operators.indexing import zorder_key
    from nyc_taxi_data_pipeline_elt_spark.sources.writers import (
        write_range_clustered,
    )

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    rng = str(tmp_path / "rng")
    zrd = str(tmp_path / "zrd")
    write_range_clustered(li, rng, "l_orderkey", files=8)
    cols = ["l_orderkey", "l_partkey"]
    b = li.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).first()
    (
        li.withColumn(
            "_zkey",
            zorder_key(cols, [(b[f"lo_{c}"], b[f"hi_{c}"]) for c in cols]),
        )
        .repartitionByRange(8, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(zrd)
    )

    # column 0 = l_orderkey, 1 = l_partkey in both layouts
    full_order = _stat_widths(rng, 0) * 8  # range layout tiles the key space
    assert _stat_widths(zrd, 1) < 0.6 * _stat_widths(rng, 1)
    assert _stat_widths(zrd, 0) < 0.8 * full_order

    # clustering must not change the data
    back = spark.read.parquet(zrd)
    assert back.count() == li.count()
    assert (
        back.agg(F.sum("l_quantity")).first()[0]
        == li.agg(F.sum("l_quantity")).first()[0]
    )
