"""Sinks (SURVEY.md §2.1: S6, S7, S8).

Partition-scoped dynamic overwrite replaces the reference's Delta
partitioned overwrite (``/root/reference/src/process_data_glue.py:186-190``)
— the only Delta capability the reference uses. ``partitionOverwriteMode=
dynamic`` (set in session.RUNTIME_CONFS) makes ``mode("overwrite")``
replace only the partitions present in the incoming DataFrame, which is
what makes per-(month, fleet) incremental re-runs safe at scale.
"""

from __future__ import annotations

import shutil
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Consumer-layer sink (S6): partitioned, dynamic overwrite."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_report(df: DataFrame, path: str) -> None:
    """Reporting sink (S7): plain overwrite parquet
    (``reporting_etl_job.py:102,158``). Reports are tiny (<= dozens of
    rows) — coalesce to one file so the consumption layer reads one
    object, not one per shuffle partition.
    """
    df.coalesce(1).write.mode("overwrite").parquet(path)


def write_empty_report(spark: SparkSession, schema: T.StructType, path: str) -> None:
    """Empty-DF schema-only sink (S8): a valid parquet file carrying only
    metadata when input is empty (``reporting_etl_job.py:65-70``)."""
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)


# Formats with first-class Spark readers/writers. Parquet is the lake
# default (columnar, statistics, pushdown); ORC is its peer; CSV/JSON are
# interchange edges — no pushdown, schema must be re-declared on read.
SUPPORTED_FORMATS = ("parquet", "orc", "json", "csv")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Format-parameterized sink covering the interchange formats."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {SUPPORTED_FORMATS}")
    writer = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 8,
    sort: bool = True,
) -> None:
    """Bucketed catalog table: pre-hash-partitioned (and optionally
    pre-sorted) on ``key`` so later equi-joins/aggregations on ``key``
    between co-bucketed tables run with NO shuffle exchange — the
    bucketing story for repeated fact-fact joins at 100 TB, where the
    one-time write cost amortizes over every downstream join.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # an in-memory catalog forgets managed tables between sessions but
    # their warehouse directories survive; clear a stale location so the
    # re-create doesn't collide (LOCATION_ALREADY_EXISTS)
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse.startswith(("file:", "/")):
        leftover = Path(warehouse.removeprefix("file:")) / table.lower()
        if leftover.exists():
            shutil.rmtree(leftover, ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)


def write_range_clustered(
    df: DataFrame, path: str, key: str, files: int = 8
) -> None:
    """Range-cluster a table on ``key`` before writing: global range
    partitioning + in-file sort means each parquet file (and each row
    group inside it) covers a narrow, non-overlapping slice of the key
    space. Parquet footers then carry tight min/max stats, and any
    pushed-down range/equality predicate on ``key`` skips whole row
    groups at scan time — the poor-man's Z-ORDER, and the single
    biggest scan saver for time-keyed fact tables at 100 TB. The
    clustering costs one range-exchange at write; reads pay nothing.
    """
    (
        df.repartitionByRange(files, key)
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
) -> DataFrame:
    """Format-parameterized scan. CSV/JSON require the declared schema —
    inference is a full extra pass and type-lossy (SURVEY.md §1.2's
    declared-at-the-edges principle applies doubly to schemaless formats).
    """
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {SUPPORTED_FORMATS}")
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.load(path)
