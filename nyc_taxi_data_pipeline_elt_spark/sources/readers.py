"""Scans (SURVEY.md §2.1: S3, S4, S5, S10).

The reference reads landing parquet with schema merging
(``/root/reference/src/process_data_glue.py:137-139``) and prunes
partitions *by path surgery* (``:25``; ``reporting_etl_job.py:27-28``).
Here pruning is expressed the idiomatic way — a filter on the partition
column of a partitioned read — so Catalyst's PartitionPruning does it,
and the same plan holds when the table is 100 TB across a million files.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _memo_key(path: str) -> tuple[str, int, int]:
    """(path, mtime_ns, size) of a fixture file. A directory fixture is
    keyed on its data files' newest mtime and total size: rewriting a
    part file in place leaves the directory's own stat unchanged."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return path, st.st_mtime_ns, st.st_size
    parts = []
    for root, dirs, files in os.walk(path):
        # the names Spark's file index skips
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        parts += [
            os.stat(os.path.join(root, f))
            for f in files
            if not f.startswith(("_", "."))
        ]
    return (
        path,
        max((p.st_mtime_ns for p in parts), default=st.st_mtime_ns),
        sum(p.st_size for p in parts),
    )


def _fixture_schema(spark: SparkSession, path: str):
    """Inferred schema of one fixture parquet, memoized per SESSION.

    ``spark.read.parquet`` runs full driver-side analysis (datasource
    resolution + footer schema inference) on every call — measured
    ~85 ms warm vs ~15 ms for an explicit-schema read (r13, guide §1.2:
    driver dispatch). With ~240 ``load_table`` call sites across the
    query registry that is ~17 s of pure per-pass dispatch. The memo
    holds METADATA only (a StructType, the same thing the JVM's own
    FileIndex/footer caches hold per session) — never rows, never a
    DataFrame: every call still builds a FRESH relation with fresh
    expression ids, so self-joins of two ``load_table`` results keep
    working, and every action still scans the parquet inputs. Keyed on
    (path, mtime_ns, size) — ADVICE r13: a fixture regenerated at the
    same path mid-session gets a fresh inference instead of a silently
    null-padded read; the stat costs ~microseconds against the ~70 ms
    it saves. Attached to the session object (dies with it; clones
    start empty and re-infer once)."""
    memo = getattr(spark, "_ntx_schema_memo", None)
    if memo is None:
        memo = {}
        try:
            spark._ntx_schema_memo = memo
        except Exception:  # exotic session wrapper: fall back, stay lazy
            return spark.read.parquet(path).schema
    try:
        key = _memo_key(path)
    except OSError:  # cannot tell a regenerated fixture apart: no memo
        return spark.read.parquet(path).schema
    sch = memo.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        memo[key] = sch
    return sch


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver-generated synthetic table (TESTDATA.md).

    ``events.ts`` has shipped in two parquet encodings across driver data
    generations: TIMESTAMP(NANOS) (arrives as epoch-nanos long under
    ``spark.sql.legacy.parquet.nanosAsLong``) and TIMESTAMP(MICROS)
    without UTC adjustment (arrives as TIMESTAMP_NTZ). Both are
    normalized here to Spark's session-TZ TimestampType — the session is
    pinned to UTC, so the wall-clock values are identical either way and
    every downstream query sees one stable type (NTZ notably refuses
    numeric casts like ``ts.cast("long")``).
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_fixture_schema(spark, path)).parquet(path)
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, LongType):
            # integer DIV, not /: epoch-nanos (~1.7e18) exceeds double's
            # 2^53 exact-integer range.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif field.name == "ts" and isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_landing(
    spark: SparkSession,
    landing_path: str,
    trip_type: str | None = None,
    merge_schema: bool = True,
) -> DataFrame:
    """Landing scan with schema merge (S3) + partition pruning (S4).

    Mirrors ``spark.read.format("parquet").option("mergeSchema","true")``
    at process_data_glue.py:137-139, but replaces the reference's path
    pre-filtering with a partition-column filter that Catalyst prunes.
    """
    reader = spark.read.option("mergeSchema", str(merge_schema).lower())
    df = reader.parquet(landing_path)
    if trip_type is not None and "trip_type" in df.columns:
        df = df.filter(F.col("trip_type") == trip_type)
    return df


def read_layer(
    spark: SparkSession, path: str, trip_type: str | None = None
) -> DataFrame | None:
    """Consumer-layer scan with missing/empty-table guard (S5).

    The reference returns ``None`` for a missing or empty Delta table
    (``reporting_etl_job.py:48-63``) so downstream degrades to an
    empty-report write. Same contract here over partitioned parquet
    (Delta jars are not in this environment; the reference uses no
    Delta feature beyond partitioned overwrite — SURVEY.md §7.5).

    Uses ``isEmpty()`` (one-row probe) instead of the reference's full
    ``count()`` action, which rescans the entire table just to log it.
    """
    try:
        df = spark.read.parquet(path)
    except Exception:
        return None
    if trip_type is not None and "trip_type" in df.columns:
        df = df.filter(F.col("trip_type") == trip_type)
    if df.isEmpty():
        return None
    return df


def to_pandas(df: DataFrame):
    """Consumption boundary (S10): the reference pulls report tables into
    pandas via PyAthena (``analysis/analytics_job.py:21-38``); here it is
    the Arrow-backed ``toPandas`` on an already-aggregated (small) result.
    """
    return df.toPandas()


def read_jsonl_with_dlq(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """Schema-on-read JSONL ingestion with a malformed-record DLQ — the
    crawl-ingest reality the reference's improvement list gestures at
    (``README.md:146``: DLQ for malformed rows) applied to the
    semi-structured layer: web-scale corpora arrive as JSON lines where
    some fraction is truncated or invalid, and dropping them silently
    (DROPMALFORMED) destroys the audit trail.

    PERMISSIVE mode + ``columnNameOfCorruptRecord`` keeps every input
    line: parsed rows flow to ``good`` (corrupt column dropped), broken
    lines land in ``bad`` with the raw line preserved for replay. Both
    sides are one scan each of the same source; the corrupt-marker filter
    is pushed into the scan and rows stay whole-stage-codegen'd.

    Note Spark's contract: the corrupt-record column must be ADDED to the
    user schema, and a query may not reference ONLY that column
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — so the DLQ side carries the full
    partially-parsed row alongside ``raw_line``, which is also the more
    useful quarantine record (whatever fields did parse are kept).
    """
    reader_schema = f"{schema}, _corrupt_record string"
    raw = (
        spark.read.schema(reader_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    good = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = raw.filter(F.col("_corrupt_record").isNotNull()).withColumnRenamed(
        "_corrupt_record", "raw_line"
    )
    return good, bad


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Multimodal ingestion edge: read a directory of opaque media files
    (images/audio/video) via Spark's ``binaryFile`` source into the
    ``(path, modificationTime, length, content)`` schema — the raw-bytes
    twin of the parquet ``payload`` column that operators/multimodal.py
    processes. ``glob`` filters by filename (pushed down as
    ``pathGlobFilter``, so non-matching files are never opened);
    ``max_bytes`` pushes a length predicate into the file index (skip
    oversized assets before any byte is read). At scale this is the
    standard lake pattern: binaryFile scan -> metadata/feature extract
    (Arrow-batched) -> parquet with a binary column; the scan
    parallelizes per-file and never materializes a file on the driver.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df
