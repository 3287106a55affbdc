"""Scans (SURVEY.md §2.1: S4, S5).

The reference prunes partitions *by path surgery*
(``/root/reference/src/process_data_glue.py:25``;
``reporting_etl_job.py:27-28``). Its landing scan with schema merging
(S3) is ``pipeline.read_landing_conformed``. Here pruning is expressed the idiomatic way — a filter on the partition
column of a partitioned read — so Catalyst's PartitionPruning does it,
and the same plan holds when the table is 100 TB across a million files.
Scans of the pipeline's layers take their schema from one Parquet footer
read on the driver (``parquet_schema``), so planning them starts no
Spark job.
"""

from __future__ import annotations

import os
import stat
from pathlib import Path

import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructType,
    TimestampNTZType,
    _parse_datatype_json_string,
)

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


def _listed(name: str) -> bool:
    # the names Spark's file index keeps (InMemoryFileIndex.shouldFilterOutPathName)
    hidden = (name.startswith("_") and "=" not in name) or name.startswith(".")
    return not (hidden or name.endswith("._COPYING_"))


def _data_files(root: Path) -> list[Path]:
    """The data files Spark lists under ``root``, in the order its
    Parquet inference takes them: by path."""
    if root.is_file():
        return [root]
    found = []
    for parent, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if _listed(d)]
        found += [Path(parent, f) for f in files if _listed(f)]
    return sorted(found, key=str)


def _memo_key(path: str) -> tuple[str, int, int]:
    """(path, mtime_ns, size) of a fixture file. A directory fixture is
    keyed on its data files' newest mtime and total size: rewriting a
    part file in place leaves the directory's own stat unchanged."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return path, st.st_mtime_ns, st.st_size
    parts = [os.stat(f) for f in _data_files(Path(path))]
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


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers for the Parquet
    file ``path``, computed on the driver.

    Spark's inference reads one footer inside a Spark job (~77 ms warm).
    This runs Spark's own code for it, ``ParquetFileFormat.readSchema``
    over ``readParquetFootersInParallel`` under the session's conf
    (``nanosAsLong``, NTZ inference, binary-as-string), through py4j:
    ~10 ms and no job. The result is nullable, as a relation's data
    schema is. An unreadable footer raises a ``ValueError`` naming the
    file.
    """
    jvm, jss = spark._jvm, spark._jsparkSession
    conf = jss.sessionState().newHadoopConf()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    status = jpath.getFileSystem(conf).getFileStatus(jpath)
    package = jvm.org.apache.spark.sql.execution.datasources.parquet
    parquet = getattr(getattr(package, "ParquetFileFormat$"), "MODULE$")
    try:
        footers = parquet.readParquetFootersInParallel(
            conf, jvm.PythonUtils.toSeq([status]), False
        )
    except Py4JJavaError as exc:
        raise ValueError(f"unreadable Parquet footer: {path}") from exc
    schema = parquet.readSchema(footers, jss).get().asNullable()
    return _parse_datatype_json_string(schema.json())


def _footer_rows(path: Path) -> int:
    try:
        return pq.read_metadata(path).num_rows
    except (OSError, ValueError) as exc:  # ArrowIOError, ArrowInvalid
        raise ValueError(f"unreadable Parquet footer: {path}") from exc


def read_layer(
    spark: SparkSession, path: str, trip_type: str | None = None
) -> DataFrame | None:
    """Consumer-layer scan with missing/empty-table guard (S5).

    The reference returns ``None`` for a missing or empty Delta table
    (``reporting_etl_job.py:48-63``) so downstream degrades to an
    empty-report write. Same contract here over partitioned parquet
    (Delta jars are not in this environment; the reference uses no
    Delta feature beyond partitioned overwrite — SURVEY.md §7.5).

    Planned on the driver and starts no Spark job. The data schema is
    ``parquet_schema`` of the file Spark's inference would read (the
    layer's first data file by path); Spark's partition discovery adds
    the partition columns. ``trip_type`` selects the layer's
    ``trip_type=`` partition, and the guard reads the footer row counts
    of that partition's files instead of running an ``isEmpty()`` probe.

    Only a missing directory or a selection with no rows reads as
    ``None``; an unreadable footer raises, naming the file.
    """
    root = Path(path)
    files = _data_files(root)
    if not files:
        return None
    schema = parquet_schema(spark, str(files[0]))
    df = spark.read.schema(schema).parquet(path)
    if trip_type is not None and "trip_type" in df.columns:
        if "trip_type" in schema.fieldNames():
            raise ValueError(f"{path} is not partitioned by trip_type")
        df = df.filter(F.col("trip_type") == trip_type)
        part = f"trip_type={trip_type}"
        files = [f for f in files if part in f.relative_to(root).parts]
    if not any(_footer_rows(f) for f in files):
        return None
    return df


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
