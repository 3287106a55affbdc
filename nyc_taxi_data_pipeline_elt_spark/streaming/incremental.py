"""True incremental landing->consumer processing.

The reference *simulates* incrementality at the orchestration layer:
parameterized per-(month, fleet) re-runs with partition-scoped overwrite
(SURVEY.md §2.9). This module provides the real thing — a Structured
Streaming query whose checkpoint tracks which landing files have been
processed, so each run handles only new arrivals.

Design: the stream is a *file-discovery* stream, not a data stream. It
is a ``binaryFile`` stream projected to ``path``: each new file is listed
once and never opened, so discovery is O(new files) and a drifted or
corrupt file cannot fail it. ``foreachBatch`` then runs the batch
pipeline's own scan and transform on exactly the new files
(``pipeline.read_landing_files`` and ``pipeline.landing_to_consumer``):
the same footer-planned drift path, and the same file-level quarantine
into ``_quarantine.jsonl``. A quarantined file counts as processed — the
checkpoint advances past it — so re-land it under a new name to retry
it.

Exactly-once: file-source checkpointing guarantees each file is delivered
to exactly one batch, and when ``consumer_table`` is set the consumer
sink commits each batch through ``SnapshotTable.commit_batch`` — the
transactional table format's idempotent batch ledger, so a retried batch
is a no-op and the end-to-end path is exactly-once, not merely
reconcilable. The DLQ sink and the path-sink consumer fallback (no
table) remain plain appends stamping ``_batch_id`` on every row, so a
retried batch's duplicates there stay reconcilable by keeping one copy
per (_batch_id, key).
At scale this pattern is the autoloader shape: discovery lists files,
decode is a normal batch job per trigger.
"""

from __future__ import annotations

from pathlib import Path
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_elt_spark.pipeline import (
    PipelineConfig,
    _visible,
    landing_to_consumer,
    read_landing_files,
)
from nyc_taxi_data_pipeline_elt_spark.schemas import CONSUMER_PARTITION_KEYS
from nyc_taxi_data_pipeline_elt_spark.session import tune

# binaryFile's fixed schema; the projection to path prunes content, so no
# file is opened
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length bigint, content binary"
)


def _discovery_stream(
    spark: SparkSession, base: Path, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        # bounds per-batch work at scale (a backlog of thousands of landing
        # files processes as a sequence of right-sized commits instead of
        # one giant batch); with availableNow the run still drains the
        # whole backlog, just across multiple micro-batches
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(str(base)).select("path")


def incremental_process(
    spark: SparkSession,
    cfg: PipelineConfig,
    trip_type: str,
    checkpoint_dir: str,
    consumer_table: "SnapshotTable | None" = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Process landing files for one fleet incrementally (availableNow).

    Each invocation handles only files not yet recorded in the checkpoint;
    ``max_files_per_trigger`` caps per-batch file count so a large backlog
    drains as multiple right-sized commits. A batch whose every file is
    quarantined writes nothing.

    With ``consumer_table`` (a ``sources.snapshots.SnapshotTable``), the
    consumer write upgrades from reconcilable-append (``_batch_id`` stamp)
    to true exactly-once: ``commit_batch`` no-ops on a replayed batch id,
    so a retried ``foreachBatch`` cannot double-append at all.
    """
    tune(spark)
    base = Path(cfg.landing_dir) / f"trip_type={trip_type}"
    if not base.exists():
        return

    root = base.resolve()

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the discovery stream's paths are file: URIs
        found = (
            Path(unquote(urlparse(r.path).path)) for r in batch_df.collect()
        )
        # keep what the batch run reads: visible files directly inside a
        # visible ``partition_date=`` batch directory of ``base``
        files = sorted(
            f
            for f in found
            if f.parent.parent.resolve() == root
            and _visible(f.parent)
            and _visible(f)
        )
        raw, _n_quarantined = read_landing_files(spark, files)
        if raw is None:
            return
        consumer, dead_letters = landing_to_consumer(raw, trip_type)
        # a retried foreachBatch re-appends under an identical _batch_id,
        # so duplicates are detectable and removable per batch
        dead_letters.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).partitionBy("trip_type").parquet(cfg.dlq_dir)
        consumer = consumer.withColumn("_batch_id", F.lit(batch_id))
        if consumer_table is not None:
            # manifest-committed sink: replayed batch ids are rejected at
            # commit time, so this path is exactly-once, not just
            # reconcilable
            consumer_table.commit_batch(consumer, batch_id)
        else:
            consumer.write.mode("append").partitionBy(
                *CONSUMER_PARTITION_KEYS
            ).parquet(cfg.consumer_dir)

    q = (
        _discovery_stream(spark, base, max_files_per_trigger)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
