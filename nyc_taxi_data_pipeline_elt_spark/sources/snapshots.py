"""Snapshot-committed parquet tables: a minimal table format giving the
lakehouse guarantees plain directory layouts cannot — atomic commits,
snapshot-isolated reads, time travel, gap-free compaction, and
idempotent (exactly-once) streaming batch commits.

Why this exists: the reference leans on Delta for exactly one capability
(partitioned overwrite — ``/root/reference/src/process_data_glue.py:186-190``),
and compacting a plain directory by swapping it for a rewritten copy
leaves a window where readers can observe the path mid-swap. The
fix, as in Iceberg/Delta, is to stop treating the directory listing as
the table: the table IS a log of manifests (explicit file lists), and a
version exists once its complete manifest is published. Readers resolve
a version once and then read an immutable file set — a writer can
commit, compact, or vacuum underneath them without ever producing a
torn read.

Layout::

    table/
      data/<writer-uuid>/part-*.parquet   -- immutable once committed
      _manifests/v{N:08d}.json            -- snapshot N: v0 inline, then
                                             add/remove DELTAS (Delta log)
      _manifests/c{N:08d}.json            -- periodic full checkpoints
      _manifests/_current                 -- hint: a recent version "N"

Concurrency and atomicity, all via POSIX/object-store primitives:

- **Commit** = write the whole manifest to a temp name, then publish it
  as ``v{N+1}`` with ``os.link`` — atomic put-if-absent, which fails if
  another writer took N+1 (optimistic concurrency, Delta's log rule).
- **Current version** = the highest published manifest. ``_current`` is
  an untrusted hint (like Delta's ``_last_checkpoint``): resolution
  probes forward from it, and lists the log when it is missing or its
  version was vacuumed.
- **Snapshot isolation**: data files are immutable and manifests never
  mutate; any resolved snapshot stays readable until vacuumed.
- **Crash safety**: a crash before the publish leaves only a temp
  manifest and unreferenced data files — invisible to readers, reclaimed
  by vacuum. A crash after it leaves a committed version; the hint and
  checkpoint written after the publish are derived data. A manifest in
  the log is committed whatever the hint says, including one written
  above ``_current`` by the older pointer-swap protocol; a torn one (only
  that protocol could leave it) fails reads loudly, naming its file.
- **Exactly-once streaming**: ``commit_batch(df, batch_id)`` records the
  batch id in the manifest and no-ops on replay, making ``foreachBatch``
  retries idempotent (the reconciliation ADVICE.md asked of
  ``streaming/incremental.py``, solved structurally).

At 100 TB the design carries over unchanged: manifests list files (no
directory listing on the read path — one hint read + at most
``checkpoint_every`` manifest reads instead of a million-object LIST),
the link publish maps to a conditional PUT (If-None-Match), and compaction
is a background rewrite that commits a new manifest without touching
readers. Metadata cost is Delta-shaped end to end: a commit WRITES
O(changed files) (delta manifests + amortized checkpoints), per-file
column stats are collected distributed (one Spark job over footers) and
drive file skipping on the read path, CHECK enforcement, and
restore/replace/merge pruning. Deliberately out of scope: multi-table
transactions.
"""

from __future__ import annotations

import itertools
import json
import logging
import os
import re as _re
import shutil
import time
import uuid
from dataclasses import dataclass
from pathlib import Path

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import coalesce as F_coalesce
from pyspark.sql.functions import col as F_col
from pyspark.sql.functions import expr as F_expr
from pyspark.sql.functions import lit as F_lit
from pyspark.sql.functions import max as F_max
from pyspark.sql.functions import min as F_min
from pyspark.sql.functions import sum as F_sum
from pyspark.sql.functions import when as F_when

from nyc_taxi_data_pipeline_elt_spark.sources import change_plan as _plan
from nyc_taxi_data_pipeline_elt_spark.sources import stats_prover as _prover
from nyc_taxi_data_pipeline_elt_spark.sources.change_plan import (
    dv_new_list as _dv_new_list,
)
from nyc_taxi_data_pipeline_elt_spark.sources.stats_prover import _stat_key

_log = logging.getLogger(__name__)


#: sentinel for "caller did not pass a resolved snapshot" (None means
#: "no committed snapshot", so it cannot double as the default)
_UNSET_SNAP = object()


def _file_stats(abspath: str) -> dict:
    """Column min/max from ONE parquet footer (no data pages read).
    Module-level so executors resolve it by import in the distributed
    stats pass — and so a test can prove the driver never loops over
    files (monkeypatching this in the driver process cannot reach the
    executor workers, which re-import the real module).

    Timestamp/date envelopes are recorded as ISO-8601 strings (JSON-
    safe, lexically chronological) — without them a time-keyed table
    (the commonest CDC/merge key shape) could never stats-prune, so
    every merge touched every file. Consumers compare through
    :func:`stats_prover.env_key`, typed by the column's Spark type."""
    import datetime as _dt

    import pyarrow.parquet as pq

    md = pq.ParquetFile(abspath).metadata
    cols: dict = {}
    for i in range(md.num_columns):
        name = md.schema.column(i).name
        stats = [
            md.row_group(rg).column(i).statistics
            for rg in range(md.num_row_groups)
        ]
        # zero-row-group files (empty write tasks) carry no stats
        if not stats or not all(
            s is not None and s.has_min_max for s in stats
        ):
            continue
        lo_raw = min(s.min for s in stats)
        hi_raw = max(s.max for s in stats)
        if isinstance(lo_raw, _dt.datetime) and lo_raw.tzinfo is None:
            # isAdjustedToUTC=false parquet timestamps (TIMESTAMP_NTZ —
            # e.g. the testdata's o_orderdate) are WALL times with no
            # zone: record the wall ISO verbatim. Predicate literals
            # compare as wall times too, and live probes route through
            # _probe_key(ntz=True) which recovers the wall reading —
            # _stat_key's OS-local interpretation applies only to
            # ZONED timestamps (aware stats, the branch below).
            lo, hi = lo_raw.isoformat(), hi_raw.isoformat()
            cols[name] = [lo, hi]
            continue
        lo = _stat_key(lo_raw)
        hi = _stat_key(hi_raw)
        if any(isinstance(x, float) and x != x for x in (lo, hi)):
            # a NaN bound is not an envelope: every comparison with it
            # is False, which NEGATED prune tests would misread as
            # "provably outside" (review r12 pass 4) — record nothing
            continue
        if isinstance(lo, (int, float, str, bool)) and isinstance(
            hi, (int, float, str, bool)
        ):
            cols[name] = [lo, hi]
    # row count rides alongside the envelopes (Delta's numRecords): a
    # zero-row file — e.g. an empty write task — carries no min/max at
    # all, yet trivially satisfies every CHECK constraint; without the
    # count the restore prover would row-scan it forever.
    cols["__num_rows__"] = md.num_rows
    # on-disk size (Delta's AddFile.size): the maxBytesPerTrigger
    # admission bound reads it from the manifest instead of statting
    # every file at planning time; legacy manifests without it fall
    # back to one os.stat per file
    cols["__size_bytes__"] = os.stat(abspath).st_size
    return cols


def _stats_partition(rows):
    """Executor body for the distributed stats pass: (rel, abspath) ->
    (rel, column-stats) for files that carry usable stats."""
    for rel, abspath in rows:
        cols = _file_stats(abspath)
        if cols:
            yield rel, cols


def _vacuum_subdir(root: str, subdir: str, live: frozenset) -> list[str]:
    """Executor body for the distributed vacuum pass: list ONE writer
    uuid dir, delete its unreferenced parquet files, drop the dir if it
    ends up empty. Module-level so executors resolve it by import."""
    import os as _os
    from pathlib import Path as _Path

    rootp, sub = _Path(root), _Path(subdir)
    removed = []
    for p in sorted(sub.rglob("*.parquet")):
        rel = str(p.relative_to(rootp))
        if rel not in live:
            # missing_ok: a retried/speculative task attempt must be
            # idempotent — the twin attempt may have deleted it already
            p.unlink(missing_ok=True)
            removed.append(rel)
    # drop now-empty directories bottom-up: a partitioned write nests
    # files under <uuid>/__part__c=v/ dirs, so the uuid dir itself only
    # empties once its partition subdirs are gone
    dirs = sorted(
        (d for d in sub.rglob("*") if d.is_dir()),
        key=lambda d: len(d.parts),
        reverse=True,
    )
    for d in [*dirs, sub]:
        try:
            if not any(d.iterdir()):
                _os.rmdir(d)
        except OSError:
            pass
    return removed


def _set_projection(df: DataFrame, set_exprs: dict, when=None) -> list:
    """The UPDATE projection over ``df``'s data columns: every SET
    expression applied (per row under ``when`` when given, else
    unconditionally over an already-matched slice) and cast back to the
    column's committed type so the row shape never drifts. The
    ``__dv_*`` position tags of a frozen slice are dropped."""
    out = []
    for f in df.schema.fields:
        if f.name.startswith("__dv_"):
            continue
        if f.name in set_exprs:
            e = F_expr(set_exprs[f.name]).cast(f.dataType)
            if when is not None:
                e = F_when(when, e).otherwise(F_col(f.name))
            out.append(e.alias(f.name))
        else:
            out.append(F_col(f.name))
    return out


def _cdf_enabled(snap: "Snapshot") -> bool:
    """The ``delta.enableChangeDataFeed`` table property, parsed
    case-insensitively (Delta's boolean-property semantics; a literal
    ``== 'true'`` would silently ignore 'True'/'TRUE')."""
    return (
        str((snap.properties or {}).get("delta.enableChangeDataFeed", ""))
        .lower()
        == "true"
    )


def _merge_clause(
    spec, name: str, actions: tuple
) -> tuple[str | None, str | None]:
    """Normalize a MERGE clause spec — ``None``, a bare action string,
    or ``(action, condition_sql)`` — to ``(action, condition)``. The
    legal actions differ per clause (matched: update|delete;
    not-matched: insert), so callers pass them in."""
    if spec is None:
        return None, None
    cond = None
    if isinstance(spec, tuple):
        if len(spec) != 2 or not isinstance(spec[1], str):
            raise ValueError(
                f"{name} tuple form is (action, condition_sql), got {spec!r}"
            )
        spec, cond = spec
    if spec not in actions:
        raise ValueError(
            f"{name} must be {'|'.join(actions)}|None, got {spec!r}"
        )
    return spec, cond


def _merge_by_source_clause(
    spec,
) -> tuple[str, dict | None, str | None] | None:
    """Normalize a ``when_not_matched_by_source`` spec to
    ``(action, set_map, condition)``: ``"delete"`` /
    ``("delete", cond)`` / ``("update", set_map)`` /
    ``("update", set_map, cond)``. Set expressions and conditions see
    only the target row (there is no source row for these), so column
    references are unqualified."""
    if spec is None:
        return None
    if spec == "delete":
        return "delete", None, None
    if isinstance(spec, tuple) and spec:
        if spec[0] == "delete" and len(spec) == 2 and isinstance(spec[1], str):
            return "delete", None, spec[1]
        if (
            spec[0] == "update"
            and len(spec) in (2, 3)
            and isinstance(spec[1], dict)
            and spec[1]
            and all(
                isinstance(k, str) and isinstance(v, str)
                for k, v in spec[1].items()
            )
            and (len(spec) == 2 or isinstance(spec[2], str))
        ):
            return "update", spec[1], spec[2] if len(spec) == 3 else None
    raise ValueError(
        "when_not_matched_by_source must be 'delete', ('delete', cond), "
        f"('update', set_map) or ('update', set_map, cond), got {spec!r}"
    )


def _rows_of(files, stats: dict) -> int | None:
    """Total ``__num_rows__`` across ``files`` from their stats entries
    — None when any file's count is unrecorded (legacy write)."""
    counts = [stats.get(f, {}).get("__num_rows__") for f in files]
    return sum(counts) if all(c is not None for c in counts) else None


def _constraint_scan(df: DataFrame, predicate: str):
    """The one row-level existence scan for CHECK enforcement: at most
    one row of ``df`` matching ``predicate``. A module-level seam so
    tests can assert a metadata-proven write or restore launches ZERO
    scan tasks (monkeypatch this to raise)."""
    return df.filter(predicate).limit(1).collect()


class CommitConflict(RuntimeError):
    """Another writer committed the same snapshot version first."""


class ConstraintViolation(ValueError):
    """A write contained rows failing a table CHECK constraint; nothing
    was committed (the half-written files were deleted)."""


class SchemaMismatch(ValueError):
    """A strict-mode append's schema differs from the table's; nothing
    was written (the check is fail-fast, before any data lands)."""


class UnsupportedTableFeature(ValueError):
    """The manifest requires a table feature this library version does
    not implement (Delta's protocol-version / table-features guard):
    reading anyway could silently return WRONG rows (e.g. a reader that
    does not understand deletion vectors would resurrect soft-deleted
    rows), and writing could corrupt invariants a newer writer relies
    on — so both fail closed instead."""


# Delta-style table features (manifest `reader_features` /
# `writer_features`): every commit self-describes what a reader MUST
# understand to see correct rows and what a writer MUST enforce to
# commit safely. An older library build that predates a feature refuses
# the table instead of silently misreading it; unknown names here mean
# the manifest came from a NEWER writer.
SUPPORTED_READER_FEATURES = frozenset(
    {"deletion-vectors", "absolute-paths", "column-mapping"}
)
SUPPORTED_WRITER_FEATURES = frozenset(
    {
        "check-constraints",
        "change-data-feed",
        "column-mapping",
        # declared partition columns (VERDICT r12 task #3): files stay
        # self-describing (partition columns are KEPT in the parquet, so
        # any reader sees correct rows — no reader feature needed), but
        # a writer ignorant of the declaration would break the
        # one-partition-tuple-per-file invariant dynamic overwrite and
        # exact partition pruning rely on — fail closed
        "partition-columns",
    }
)


@dataclass(frozen=True)
class Snapshot:
    version: int
    files: tuple[str, ...]  # relative to the table root
    op: str
    parent: int | None
    batch_id: int | None
    ts: float
    # per-file column stats: {rel_path: {col: [min, max]}} — recorded at
    # commit time so readers can prune files from manifest metadata alone
    stats: dict = None  # type: ignore[assignment]
    # cumulative set of committed streaming batch ids (the Delta txn-map
    # idea): replay detection reads ONE manifest, not the whole history.
    # None = legacy manifest written before the set existed (fall back to
    # a history scan); () = genuinely no batch commits yet.
    batch_ids: tuple | None = ()
    # CHECK constraints: {name: sql_expr}; carried forward on every
    # commit and enforced on every data-adding write (Delta CHECK).
    constraints: dict = None  # type: ignore[assignment]
    # table properties: {key: str} carried forward on every commit like
    # constraints (Delta TBLPROPERTIES) — e.g.
    # 'delta.enableChangeDataFeed' = 'true' makes every merge write its
    # change-data files without the per-call flag.
    properties: dict = None  # type: ignore[assignment]
    # Delta operationMetrics: {num_added_files, num_removed_files,
    # rows_added, rows_removed} derived at commit time from metadata the
    # commit already holds (file lists + __num_rows__ stats) — the
    # audit trail DESCRIBE HISTORY shows. Empty for legacy manifests.
    metrics: dict = None  # type: ignore[assignment]
    # the table schema as ((name, simpleString), ...) recorded at commit
    # time (Delta keeps the schema in the log for exactly this reason —
    # ADVICE r8: deriving it from every live file's footer made strict
    # appends O(live files)). None = unknown: a legacy manifest written
    # before recording, or a type-promoting evolution the driver-side
    # union rule defers to the engine (footer-union fallback).
    schema: tuple | None = None
    # deletion vectors (Delta's merge-on-read row removal): {rel_file:
    # [dv_rel_file, n_dead_rows]} — rows of ``rel_file`` whose
    # file-absolute positions appear in the (file, pos) parquet at
    # ``dv_rel_file`` are LOGICALLY deleted without rewriting the data
    # file. A file has at most ONE current dv entry (a newer
    # merge-on-read delete consolidates). Carried forward on every
    # commit like constraints; rewrites that remove a file drop its
    # entry (compaction materializes the deletes away).
    dv: dict = None  # type: ignore[assignment]
    # column mapping (Delta's columnMapping feature): {logical_name:
    # physical_name} for columns whose on-disk parquet name differs
    # from the table name — RENAME COLUMN is then a metadata-only
    # commit (the physical name NEVER changes once written; appends
    # translate logical -> physical at write, reads translate back).
    # Identity entries are omitted; empty = no renames ever.
    column_mapping: dict = None  # type: ignore[assignment]
    # physical names retired by DROP COLUMN: old files still hold the
    # column, so a later ADD of a colliding name must be refused (we
    # have no Delta col-ids to disambiguate) — the tombstone list makes
    # that refusal explicit and versioned.
    dropped_physical: tuple = ()
    # declared partition columns (Delta's partitionColumns — VERDICT
    # r12 task #3): fixed at table creation, carried on every commit.
    # Unlike Delta the columns are KEPT in each data file (a constant
    # column RLE-compresses to bytes), so every reader — including the
    # Arrow datasource — reads correct rows with no layout knowledge;
    # the layout (one partition tuple per file, values recorded per
    # file in stats' ``__partition__``) only powers exact pruning and
    # dynamic partition overwrite.
    partition_by: tuple = ()


def _make_snapshot(raw: dict, files, stats: dict) -> Snapshot:
    """The one raw-manifest-to-Snapshot field mapping, shared by
    ``snapshot()`` and ``history()`` so a new manifest field cannot be
    threaded into one and silently diverge in the other."""
    return Snapshot(
        version=raw["version"],
        files=tuple(files),
        op=raw["op"],
        parent=raw.get("parent"),
        batch_id=raw.get("batch_id"),
        ts=raw["ts"],
        stats=stats,
        batch_ids=(
            tuple(raw["batch_ids"]) if "batch_ids" in raw else None
        ),
        constraints=raw.get("constraints", {}),
        properties=raw.get("properties", {}),
        metrics=raw.get("metrics", {}),
        schema=(
            tuple((n, t) for n, t in raw["schema"])
            if raw.get("schema") is not None
            else None
        ),
        dv=raw.get("dv", {}),
        column_mapping=raw.get("column_mapping", {}),
        dropped_physical=tuple(raw.get("dropped_physical", [])),
        partition_by=tuple(raw.get("partition_by", [])),
    )


class SnapshotTable:
    """Handle to one snapshot-committed table rooted at ``path``.

    ``partition_by`` (VERDICT r12 task #3 — the reference's consumer
    layout ``partitionBy(trip_type, trip_year, trip_month)``,
    ``/root/reference/src/process_data_glue.py:186-190``): declared
    partition columns, fixed at table CREATION (the first commit
    records them; later handles may re-declare the same list or omit
    it). Every data write routes each partition tuple to its own
    file(s), records the tuple per file in the manifest
    (``__partition__`` stats entry — exact, not envelope-based), and
    keeps the columns IN the files so every existing read path is
    unchanged. Powers :meth:`overwrite_partitions` (dynamic partition
    overwrite) and exact partition pruning in delete/update/merge/
    replace_where."""

    def __init__(self, path: str, partition_by: list[str] | None = None):
        self.root = Path(path)
        self.manifest_dir = self.root / "_manifests"
        self.data_dir = self.root / "data"
        self._declared_partition_by = (
            tuple(partition_by) if partition_by else None
        )

    def _partition_spec(self, snap=_UNSET_SNAP) -> tuple[str, ...]:
        """The table's declared partition columns: the manifest's record
        once one exists (validated against this handle's declaration —
        partitioning is immutable), else this handle's declaration
        (pending its first commit). Callers that already resolved the
        current snapshot pass it (or None for "no committed snapshot")
        to skip a second manifest-chain resolution (review r13: the
        default re-walked the chain on every ``_write_data``)."""
        if snap is _UNSET_SNAP:
            cur = self.current_version()
            snap = self.snapshot(cur) if cur is not None else None
        if snap is not None:
            rec = tuple(snap.partition_by or ())
            if (
                self._declared_partition_by is not None
                and tuple(self._declared_partition_by) != rec
            ):
                raise ValueError(
                    f"{self.root}: declared partition_by "
                    f"{list(self._declared_partition_by)} != committed "
                    f"{list(rec)}; partitioning is fixed at creation"
                )
            return rec
        return tuple(self._declared_partition_by or ())

    #: Write a full checkpoint (inline file list + stats) every K delta
    #: commits, so snapshot() resolution walks at most K manifests (the
    #: Delta log/checkpoint cadence). v0 and legacy manifests are
    #: inline; everything after is an O(changed files) delta.
    checkpoint_every = 16

    # ---------------- metadata plumbing ----------------
    def _hint(self) -> Path:
        return self.manifest_dir / "_current"

    def _manifest_path(self, v: int) -> Path:
        return self.manifest_dir / f"v{v:08d}.json"

    def current_version(self) -> int | None:
        """The highest published version: start at the ``_current``
        hint, then probe forward until a version is missing. A missing
        hint, or one whose manifest a vacuum deleted, falls back to one
        listing of the log."""
        try:
            v = int(self._hint().read_text().strip())
        except (FileNotFoundError, ValueError):
            v = None
        if v is None or not self._manifest_path(v).exists():
            listed = self._versions()
            if not listed:
                return None
            v = listed[-1]
        while self._manifest_path(v + 1).exists():
            v += 1
        return v

    def _raw_manifest(self, v: int) -> dict:
        path = self._manifest_path(v)
        try:
            raw = json.loads(path.read_text())
        except ValueError as exc:
            # publishing is put-if-absent of a complete file, so only a
            # writer of the older pointer-swap protocol, killed mid-write,
            # can have left this
            raise ValueError(
                f"{self.root}: manifest v{v} ({path}) is not valid JSON — "
                "torn by a writer that died mid-write; restore or remove "
                "that file"
            ) from exc
        # the single manifest-load choke point is where the reader
        # feature gate lives: EVERY consumer (snapshot resolution, CDF
        # replay, vacuum — which deletes files and must not run against
        # artifacts it doesn't understand) fails closed on a manifest
        # from a newer writer
        unknown = (
            set(raw.get("reader_features", [])) - SUPPORTED_READER_FEATURES
        )
        if unknown:
            raise UnsupportedTableFeature(
                f"{self.root}: manifest v{v} requires reader feature(s) "
                f"{sorted(unknown)} this library does not implement; "
                f"upgrade to read this table"
            )
        return raw

    def _checkpoint_path(self, v: int) -> Path:
        return self.manifest_dir / f"c{v:08d}.json"

    def _write_checkpoint(self, v: int, files: list, stats: dict) -> None:
        """Atomic checkpoint write (tmp + rename, like the hint):
        a torn half-written checkpoint must be impossible — resolution
        and vacuum treat an existing checkpoint as authoritative (review
        r8: a kill mid-json.dump would otherwise poison snapshot
        resolution permanently once vacuum pruned the ancestors).
        os.replace makes duplicate writers harmless: both serialize the
        same immutable content for the same version."""
        tmp = self.manifest_dir / f"._ckpt.{uuid.uuid4().hex}"
        tmp.write_text(json.dumps({"files": list(files), "stats": stats}))
        os.replace(tmp, self._checkpoint_path(v))

    def _read_checkpoint(self, v: int) -> dict | None:
        """None when absent — or unreadable or mis-shaped (belt-and-
        braces: a damaged checkpoint falls back to the manifest chain
        walk instead of failing resolution forever — review r8: valid-
        JSON-but-wrong-shape damage would otherwise KeyError every
        resolution)."""
        try:
            c = json.loads(self._checkpoint_path(v).read_text())
        except (FileNotFoundError, json.JSONDecodeError):
            return None
        if (
            not isinstance(c, dict)
            or not isinstance(c.get("files"), list)
            or not isinstance(c.get("stats"), dict)
        ):
            return None
        return c

    def _read_files(
        self,
        spark: SparkSession,
        rel_files,
        schema=None,
        mapping=None,
        merge_schema: bool = True,
    ) -> DataFrame:
        """The one read over specific table files: every read path
        (snapshot reads, rewrite inputs, change feeds) plans here.

        ``schema`` — a manifest-recorded (name, type) pair list — makes
        the read use the LOG schema, Delta's posture (ADVICE r9): the
        plan needs no footer, and a column added by name evolution that
        NO listed file contains reads as typed NULLs, so a predicate
        referencing it evaluates (to NULL -> no match) instead of
        raising AnalysisException. Without a record (a legacy manifest,
        or a type-evolved one) the footers decide: a mergeSchema union
        by default, since a plain read sniffs one footer and on a
        name-evolved table silently DROPS later-added columns (review
        r9, data-loss class); ``merge_schema=False`` is that one-footer
        read, kept for ``read()``'s legacy contract. Either footer read
        starts one Spark job before any data is read (~75 ms per call
        on a 4-core host) — the cost the recorded schema avoids.

        ``mapping`` (the snapshot's ``column_mapping``) reads the files
        under their PHYSICAL column names and returns LOGICAL columns —
        one projection, after which the whole engine stays
        logical-only. Spark's hidden ``_metadata`` column survives the
        projection (verified on 4.1.2), so the deletion-vector taggers
        compose unchanged."""
        paths = [str(self.root / f) for f in rel_files]
        if mapping:
            if not schema:
                raise ValueError(
                    f"{self.root}: a column-mapped read needs the "
                    "manifest-recorded schema"
                )
            df = spark.read.schema(
                ", ".join(
                    f"`{mapping.get(n, n)}` {t}" for n, t in schema
                )
            ).parquet(*paths)
            return df.select(
                *[
                    F_col(f"`{mapping.get(n, n)}`").alias(n)
                    for n, _t in schema
                ]
            )
        if schema:
            return spark.read.schema(
                ", ".join(f"`{n}` {t}" for n, t in schema)
            ).parquet(*paths)
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    def _read_positions(self, spark: SparkSession, rel_files) -> DataFrame:
        """The (file, pos) rows of position sidecars — deletion-vector
        entries, frozen ``dv_new`` sets, consolidated dvs — under the
        schema :meth:`_write_dv` always writes, so planning reads no
        footer."""
        return spark.read.schema("file STRING, pos BIGINT").parquet(
            *[str(self.root / f) for f in rel_files]
        )

    # ---------------- deletion vectors (merge-on-read) ----------------
    # Every dv parquet holds (file string, pos long) rows: file-absolute
    # row positions (parquet row index) of logically-deleted rows, file
    # paths relative to the table root so the table stays relocatable.

    #: rel path of a data file inside its writer uuid dir — the shape
    #: _apply_dv and the soft-delete taggers extract from
    #: ``_metadata.file_path`` so dv joins stay relocatable
    _DATA_FILE_RE = r"(data/[^/]+/[^/]+)$"

    @classmethod
    def _file_tail(cls, f: str) -> str:
        """The root-independent ``data/<uuid>/<name>`` tail of a data
        file reference — the dv parquet's join key. Manifest file
        strings are normally root-relative (== their tail), but a
        SHALLOW CLONE lists its source's files absolutely; keying dv
        joins by the tail keeps soft deletes correct on both."""
        m = _re.search(cls._DATA_FILE_RE, f)
        return m.group(1) if m else f

    def _dv_frame(self, spark: SparkSession, masks: dict) -> DataFrame:
        """The (file, pos) dead-row set behind ``masks`` ({rel_file:
        [dv_rel_file, ...]}; a manifest ``dv`` entry contributes its one
        file): one read over the DISTINCT dv parquet files, filtered to
        exactly the masked data files (one dv file can cover many data
        files; a consolidation can leave stale other-file rows behind in
        older dv files, so the filter is load-bearing, not an
        optimization)."""
        dv_files = sorted({d for ds in masks.values() for d in ds})
        return self._read_positions(spark, dv_files).filter(
            F_col("file").isin([self._file_tail(f) for f in masks])
        )

    def _tag_dv_cols(self, df: DataFrame) -> DataFrame:
        """Add the ``__dv_file__``/``__dv_pos__`` join-key columns to a
        ``_metadata``-bearing read: the root-independent
        ``data/<uuid>/<name>`` tail when the physical path matches the
        writer layout, else the table-relative string recovered by
        stripping this root — the DataFrame-side mirror of
        :meth:`_file_tail`'s fallback, so legacy / hand-written
        manifest entries (inline appends at arbitrary relative paths)
        key dv joins identically on both sides instead of collapsing
        to ``''`` and silently missing every mask."""
        from pyspark.sql.functions import length as F_length
        from pyspark.sql.functions import regexp_extract as F_rex
        from pyspark.sql.functions import regexp_replace as F_rrep
        from pyspark.sql.functions import when as F_when

        tail = F_rex(F_col("_metadata.file_path"), self._DATA_FILE_RE, 1)
        # file:/p, file:///p and plain /p all normalize to /p
        phys = F_rrep(F_col("_metadata.file_path"), "^file:/+", "/")
        prefix = str(self.root.resolve()) + "/"
        rel = F_when(
            phys.startswith(prefix),
            phys.substr(F_lit(len(prefix) + 1), F_length(phys)),
        ).otherwise(phys)
        return df.withColumn(
            "__dv_file__", F_when(tail != "", tail).otherwise(rel)
        ).withColumn("__dv_pos__", F_col("_metadata.row_index"))

    def _apply_dv(
        self,
        spark: SparkSession,
        df: DataFrame,
        rel_files,
        dv: dict | None,
    ) -> DataFrame:
        """Filter logically-deleted rows out of ``df`` (a read over
        ``rel_files``). Zero-cost when no listed file has a dv entry.
        The join key is (file-relative path, parquet row index) — both
        from Spark's ``_metadata`` file source column, so positions are
        file-absolute and survive any pushdown. The dead set is
        BROADCAST: deletion vectors are small by contract (they are the
        alternative to rewriting files; a dv large enough to strain a
        broadcast is the signal to ``compact()``, which materializes it
        away — same posture as Delta, whose DV bitmaps ship to every
        task)."""
        files = set(rel_files)
        return self._mask_rows(
            spark, df, {f: [e[0]] for f, e in (dv or {}).items() if f in files}
        )

    def _mask_rows(
        self, spark: SparkSession, df: DataFrame, masks: dict
    ) -> DataFrame:
        """Drop from ``df`` the rows at the positions ``masks``
        ({rel_file: [dv_rel_file, ...]}) records for each file, by the
        broadcast anti-join :meth:`_apply_dv` describes. Zero-cost when
        ``masks`` is empty."""
        if not masks:
            return df
        from pyspark.sql.functions import broadcast as F_broadcast

        dead = self._dv_frame(spark, masks).selectExpr(
            "file AS __dv_file__", "pos AS __dv_pos__"
        )
        tagged = self._tag_dv_cols(df)
        return tagged.join(
            F_broadcast(dead), ["__dv_file__", "__dv_pos__"], "left_anti"
        ).drop("__dv_file__", "__dv_pos__")

    def _freeze_matches(
        self,
        spark: SparkSession,
        snap: Snapshot,
        predicate: str,
        touched: list[str],
        single: bool = True,
    ):
        """Evaluate ``predicate`` EXACTLY ONCE over the touched files'
        live rows and FREEZE the matching positions in a (file, pos)
        sidecar — the single source of truth every later consumer
        (manifest counts, fully-dead decisions, update post-image, CDF
        replay) derives from. Review r10: computing counts and writing
        the sidecar as two independent jobs re-evaluates the predicate,
        so a non-deterministic one (rand() sampling deletes) could drop
        a file as fully dead while its sidecar recorded different
        positions — committed data loss. Freezing costs one tiny
        read-back of the sidecar instead of a second full scan of the
        touched slice.

        ``single=True`` (merge-on-read callers) keeps the sidecar one
        file — the consolidated per-file ``dv`` entries reference
        exactly one — and raises if the write sharded. ``single=False``
        (copy-on-write callers — VERDICT r10 #1) lets ``_write_dv``
        shard the position set by ``file``: a large-fraction COW
        delete's matched set is O(table), and one writer task / one
        giant object is the 100 TB bottleneck; the consumers are
        (anti-/semi-) joins that don't care about file count.

        Returns ``(tagged, frozen_rels, counts)``: the tagged live
        frame (for post-image joins), the sidecar's rel path LIST
        (empty when nothing matched — the empty sidecar dir is
        dropped; length 1 guaranteed under ``single=True``), and the
        per-file match counts read back from the frozen files."""
        from pyspark.sql.functions import expr as F_expr

        pdv = dict(snap.dv or {})
        tagged = self._tag_dv_cols(
            self._read_files(
                spark,
                touched,
                schema=snap.schema,
                mapping=dict(snap.column_mapping or {}),
            )
        )
        old_touched = {f: [e[0]] for f, e in pdv.items() if f in set(touched)}
        if old_touched:
            from pyspark.sql.functions import broadcast as F_broadcast

            dead0 = self._dv_frame(spark, old_touched).selectExpr(
                "file AS __dv_file__", "pos AS __dv_pos__"
            )
            tagged = tagged.join(
                F_broadcast(dead0),
                ["__dv_file__", "__dv_pos__"],
                "left_anti",
            )
        new_dead = tagged.filter(
            F_coalesce(F_expr(predicate), F_lit(False))
        ).select(
            F_col("__dv_file__").alias("file"),
            F_col("__dv_pos__").alias("pos"),
        )
        frozen = self._write_dv(new_dead, single=single)
        if single and len(frozen) != 1:
            self._drop_uuid_dirs(frozen)
            raise RuntimeError(
                f"{self.root}: deletion-vector write produced "
                f"{len(frozen)} files, expected 1"
            )
        # the sidecar keys rows by root-independent tails; map back to
        # the manifest's file strings (identical unless shallow-cloned)
        by_tail = {self._file_tail(f): f for f in touched}
        counts: dict = {}
        for r in (
            self._read_positions(spark, frozen)
            .groupBy("file")
            .count()
            .collect()
        ):
            f = by_tail.get(r["file"])
            if f is None:
                self._drop_uuid_dirs(frozen)
                raise RuntimeError(
                    f"{self.root}: frozen sidecar recorded file key "
                    f"{r['file']!r} that maps to no touched manifest "
                    f"file — refusing to commit a dv that reads would "
                    f"not apply"
                )
            counts[f] = r["count"]
        if not counts:
            self._drop_uuid_dirs(frozen)
            return tagged, [], {}
        return tagged, frozen, counts

    def _consolidated_dv(
        self,
        spark: SparkSession,
        frozen_rel: str,
        counts: dict,
        pdv: dict,
        stats: dict,
    ):
        """Fold a frozen new-dead sidecar into the table's dv state:
        returns ``(dv_set, fully_dead, extra_fields, written)`` — the
        per-file entries to commit, the files whose rows became ALL
        dead (they leave the file set), the manifest fields CDF replay
        needs, and any extra sidecar written (a consolidation with
        prior entries; the caller's failure cleanup drops it). Files
        with no prior entry point straight at the frozen sidecar."""
        affected = sorted(counts)
        totals = {
            f: counts[f] + (pdv[f][1] if f in pdv else 0) for f in affected
        }
        fully_dead = [
            f
            for f in affected
            if stats.get(f, {}).get("__num_rows__") is not None
            and totals[f] >= stats[f]["__num_rows__"]
        ]
        old_affected = {f: [pdv[f][0]] for f in affected if f in pdv}
        written: list[str] = []
        if old_affected:
            merged = self._read_positions(spark, [frozen_rel]).unionByName(
                self._dv_frame(spark, old_affected)
            )
            written = self._write_dv(merged)
            if len(written) != 1:
                self._drop_uuid_dirs(written)
                raise RuntimeError(
                    f"{self.root}: deletion-vector write produced "
                    f"{len(written)} files, expected 1"
                )
            entry_file = written[0]
        else:
            entry_file = frozen_rel
        dv_set = {
            f: [entry_file, totals[f]]
            for f in affected
            if f not in fully_dead
        }
        extra_fields = {
            "dv_touched": affected,
            "dv_before": {f: pdv.get(f) for f in affected},
            # the frozen new-dead positions: CDF replays semi-join them
            # instead of re-evaluating the predicate (exact even for
            # non-deterministic predicates), and vacuum pins them while
            # this manifest is kept
            "dv_new": frozen_rel,
        }
        return dv_set, fully_dead, extra_fields, written

    def _drop_uuid_dirs(self, rels) -> None:
        """Eagerly delete the uuid dirs of uncommitted written files —
        data or change-data (failure/duplicate-batch cleanup; vacuum
        would reclaim them eventually, but eager matches the no-orphan
        tests' intent)."""
        dirs = set()
        for rel in rels:
            parts = Path(rel).parts
            if len(parts) >= 2 and parts[0] in (
                "data",
                "_change_data",
                "_deletion_vectors",
            ):
                dirs.add(self.root / parts[0] / parts[1])
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)

    def _materialize(self, v: int, raw: dict) -> tuple[list, dict]:
        """Resolve a DELTA manifest to its full (files, stats): walk the
        parent chain back to the nearest checkpoint or inline manifest
        (bounded by ``checkpoint_every``), then apply add/remove and
        stats deltas forward. A carried file keeps its ancestor's stats
        entry unless a later delta re-recorded it."""
        c = self._read_checkpoint(v)
        if c is not None:
            return list(c["files"]), dict(c["stats"])
        chain = [raw]
        pv = raw["parent"]
        while True:
            c = self._read_checkpoint(pv)
            if c is not None:
                files, stats = set(c["files"]), dict(c["stats"])
                break
            praw = self._raw_manifest(pv)
            if "files" in praw:
                files = set(praw["files"])
                stats = dict(praw.get("stats", {}))
                break
            chain.append(praw)
            pv = praw["parent"]
        for d in reversed(chain):
            for f in d["remove"]:
                files.discard(f)
                stats.pop(f, None)
            files.update(d["add"])
            stats.update(d["stats_add"])
        return sorted(files), stats

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"{self.root}: no committed snapshot")
        raw = self._raw_manifest(v)
        if "files" in raw:  # inline: v0, legacy, or hand-written
            files, stats = list(raw["files"]), raw.get("stats", {})
        else:
            files, stats = self._materialize(v, raw)
        return _make_snapshot(raw, files, stats)

    def _versions(self) -> list[int]:
        """Every published version in the log, ascending."""
        return sorted(
            int(p.stem[1:]) for p in self.manifest_dir.glob("v*.json")
        )

    def history(self) -> list[Snapshot]:
        """All resolvable snapshots, oldest first. Materializes delta
        manifests INCREMENTALLY along the walk (one pass over the log,
        O(total changes)) instead of resolving each version's chain
        independently (O(versions x chain_length) JSON reads — the
        quadratic-ish path vacuum would otherwise pay on long logs)."""
        out: list[Snapshot] = []
        files: set | None = None
        stats: dict = {}
        for v in self._versions():
            raw = self._raw_manifest(v)
            if "files" in raw:
                files = set(raw["files"])
                stats = dict(raw.get("stats", {}))
            elif files is None:
                # first kept version after a vacuum: its ancestors are
                # gone, but vacuum checkpointed it (or it never needed
                # one) — resolve once, then continue incrementally
                fl, st = self._materialize(v, raw)
                files, stats = set(fl), dict(st)
            else:
                for f in raw["remove"]:
                    files.discard(f)
                    stats.pop(f, None)
                files.update(raw["add"])
                stats.update(raw["stats_add"])
            out.append(_make_snapshot(raw, sorted(files), dict(stats)))
        return out

    _UNSET = object()

    def _commit(
        self,
        files: list[str],
        op: str,
        batch_id: int | None = None,
        stats: dict | None = None,
        constraints: dict | None = None,
        properties: dict | None = None,
        batch_ids_override: list | None = None,
        expected_parent: int | None | object = _UNSET,
        extra: dict | None = None,
        schema: object = _UNSET,
        dv: dict | None = None,
        soft_deleted: int | None = None,
        column_mapping: dict | None = None,
        dropped_physical: list | None = None,
        partition_by: list | None = None,
    ) -> Snapshot:
        """Write manifest ``expected_parent + 1``. ``expected_parent``
        MUST be the version the caller's file list was derived from
        (review r8: deriving the parent from a fresh ``current_version``
        read here instead let a commit that landed between the caller's
        read and this write be silently ERASED — our delta would record
        the racer's files as removed, with no conflict raised). With the
        version pinned to the caller's basis, the publish is the single
        source of conflict truth: the complete manifest is written to a
        temp name and hard-linked to ``v{N}.json`` (atomic put-if-absent),
        so an intervening commit owns our target version and we raise
        :class:`CommitConflict`. Once published, the version is committed:
        the checkpoint and ``_current`` hint written after it are derived
        data, so their failures are logged, never raised (callers' failure
        cleanup would delete files the live version references).
        ``extra`` merges op-specific payload fields into the manifest
        (e.g. ``delete``'s predicate, which the CDF reader replays).
        ``schema`` records the table schema in the manifest: the
        ``_UNSET`` default inherits the parent's record (rows-preserving
        commits — compact, delete, constraints); writers that change the
        row set pass an explicit (name, type)-pair list, or None when
        the union is driver-unknowable (type promotion)."""
        self.manifest_dir.mkdir(parents=True, exist_ok=True)
        parent = (
            self.current_version()
            if expected_parent is SnapshotTable._UNSET
            else expected_parent
        )
        version = 0 if parent is None else parent + 1
        psnap = self.snapshot(parent) if parent is not None else None
        # constraints, properties, and deletion vectors ride every
        # manifest (like batch_ids): None means "inherit the parent's",
        # a dict is an explicit replacement
        if constraints is None:
            constraints = dict(psnap.constraints or {}) if psnap else {}
        if properties is None:
            properties = dict(psnap.properties or {}) if psnap else {}
        if dv is None:
            dv = dict(psnap.dv or {}) if psnap else {}
        if column_mapping is None:
            column_mapping = (
                dict(psnap.column_mapping or {}) if psnap else {}
            )
        if dropped_physical is None:
            dropped_physical = (
                list(psnap.dropped_physical or ()) if psnap else []
            )
        if partition_by is None:
            # immutable declaration: inherit the parent's record; the
            # creating commit (v0) takes the handle's declaration
            partition_by = (
                list(psnap.partition_by or ())
                if psnap
                else list(self._declared_partition_by or ())
            )
        # a dv entry must reference a live file — rewrites pass the
        # recomputed map, but a caller slip here would leave phantom
        # deletes pointing at nothing
        dv = {f: e for f, e in dv.items() if f in set(files)}
        # every commit carries the cumulative batch-id set forward, so a
        # replayed foreachBatch is detected from the current manifest alone;
        # a legacy parent (no recorded set) is reconstructed from history once
        seen: list = []
        if batch_ids_override is not None:
            seen = list(batch_ids_override)
        elif psnap is not None:
            if psnap.batch_ids is None:
                seen = [
                    s.batch_id for s in self.history() if s.batch_id is not None
                ]
            else:
                seen = list(psnap.batch_ids)
        if batch_id is not None and batch_id not in seen:
            seen.append(batch_id)
        if parent is not None:
            # writer feature gate (Delta minWriterVersion): a parent
            # manifest demanding invariants this build doesn't know how
            # to enforce must not be extended — committing anyway could
            # silently break what a newer writer guarantees
            unknown_wf = (
                set(self._raw_manifest(parent).get("writer_features", []))
                - SUPPORTED_WRITER_FEATURES
            )
            if unknown_wf:
                raise UnsupportedTableFeature(
                    f"{self.root}: manifest v{parent} requires writer "
                    f"feature(s) {sorted(unknown_wf)} this library does "
                    f"not implement; upgrade to write this table"
                )
        files_sorted = sorted(files)
        stats = stats or {}
        manifest = self._manifest_path(version)
        payload = {
            "version": version,
            "op": op,
            "parent": parent,
            "batch_id": batch_id,
            "ts": time.time(),
            "batch_ids": seen,
            "constraints": constraints,
            "properties": properties,
            "dv": dv,
        }
        # every commit self-describes its required table features from
        # the FULL state it carries (dv/constraints/properties ride
        # every manifest; the file list is in hand) — so the guards
        # need no chain walk
        rf = []
        if dv:
            rf.append("deletion-vectors")
        if any(f.startswith("/") for f in files_sorted):
            rf.append("absolute-paths")  # shallow-clone source refs
        if column_mapping or dropped_physical:
            rf.append("column-mapping")
        wf = []
        if constraints:
            wf.append("check-constraints")
        if column_mapping or dropped_physical:
            wf.append("column-mapping")
        if partition_by:
            wf.append("partition-columns")
            payload["partition_by"] = list(partition_by)
        if (
            str(properties.get("delta.enableChangeDataFeed", "")).lower()
            == "true"
        ):
            wf.append("change-data-feed")
        if rf:
            payload["reader_features"] = rf
        if wf:
            payload["writer_features"] = wf
        if schema is SnapshotTable._UNSET:
            rec = (
                list(psnap.schema)
                if psnap is not None and psnap.schema is not None
                else None
            )
        else:
            rec = schema
        if rec is not None:
            payload["schema"] = [[n, t] for n, t in rec]
        if column_mapping or dropped_physical:
            payload["column_mapping"] = dict(column_mapping)
            payload["dropped_physical"] = sorted(dropped_physical)
            if rec is not None:
                # a logical column without a mapping entry writes/reads
                # its own name physically — that name must not collide
                # with a physical slot another (renamed or dropped)
                # column occupies in existing files, or old data would
                # surface under the new column
                occupied = {
                    p
                    for l, p in column_mapping.items()
                    if p != l
                } | set(dropped_physical)
                for n, _t in rec:
                    if n not in column_mapping and n in occupied:
                        raise ValueError(
                            f"{self.root}: column {n!r} would occupy "
                            f"physical name {n!r} already used by a "
                            "renamed or dropped column's data; pick a "
                            "different name"
                        )
        if extra:
            payload.update(extra)
        if psnap is None:
            # v0 is always inline — the chain's base case
            payload["files"] = files_sorted
            payload["stats"] = stats
            payload["metrics"] = {
                "num_added_files": len(files_sorted),
                "num_removed_files": 0,
                "rows_added": _rows_of(files_sorted, stats),
                "rows_removed": 0,
            }
        else:
            # Delta manifest (the Delta-log move): a commit writes
            # O(changed files) metadata, not O(table). An append to a
            # million-file table records its handful of new files; the
            # periodic checkpoint below amortizes full-list writes to
            # O(table / checkpoint_every) per commit.
            pset = set(psnap.files)
            nset = set(files_sorted)
            add = sorted(nset - pset)
            pstats = psnap.stats or {}
            stats_add = {f: stats[f] for f in add if f in stats}
            # a carried file whose stats were re-recorded with a new
            # value must not silently keep the ancestor's entry
            for f in nset & pset:
                if f in stats and stats[f] != pstats.get(f):
                    stats_add[f] = stats[f]
            payload["add"] = add
            payload["remove"] = sorted(pset - nset)
            payload["stats_add"] = stats_add
            # Delta operationMetrics: audit counts from metadata the
            # commit already holds — no extra I/O (row counts from the
            # per-file __num_rows__ stats; None when any file's count
            # predates row recording)
            payload["metrics"] = {
                "num_added_files": len(add),
                "num_removed_files": len(payload["remove"]),
                "rows_added": _rows_of(add, stats),
                "rows_removed": _rows_of(payload["remove"], pstats),
            }
            if soft_deleted is not None:
                # Delta's numDeletedRows for merge-on-read commits: the
                # CALLER's exact newly-dead count from the frozen
                # sidecar (review r10: a map-total delta here
                # undercounted to 0 whenever a fully-dead file left the
                # map in the same commit that soft-deleted other rows)
                payload["metrics"]["rows_soft_deleted"] = soft_deleted
        tmp = self.manifest_dir / f"._v{version:08d}.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        try:
            # the optimistic-concurrency gate: two racing writers both
            # target version N+1; exactly one link wins
            os.link(tmp, manifest)
        except FileExistsError as exc:
            raise CommitConflict(
                f"{self.root}: snapshot v{version} already committed; "
                "re-read the table and retry"
            ) from exc
        finally:
            tmp.unlink(missing_ok=True)
        if psnap is not None and version % self.checkpoint_every == 0:
            self._after_publish(
                version,
                "checkpoint",
                lambda: self._write_checkpoint(version, files_sorted, stats),
            )
        self._after_publish(version, "hint", lambda: self._write_hint(version))
        for attempt in range(3):
            try:
                return self.snapshot(version)
            except FileNotFoundError:
                # the commit LANDED — the resolution walk raced a
                # concurrent vacuum re-homing ancestors onto a fresh
                # checkpoint (checkpoint lands BEFORE old manifests
                # unlink, so a retry resolves). Never report a landed
                # commit as failed: rewrite callers' failure cleanup
                # would delete data files the live snapshot references
                # (review r10, data-loss class).
                if attempt == 2:
                    raise
                time.sleep(0.05)

    def _after_publish(self, version: int, what: str, write) -> None:
        """Run a derived write after ``version`` is published; a failure
        is logged, never raised (see :meth:`_commit`)."""
        try:
            write()
        except Exception:
            _log.warning(
                "%s: v%d committed, but its %s write failed",
                self.root, version, what, exc_info=True,
            )

    def _write_hint(self, version: int) -> None:
        """Best-effort ``_current`` hint (tmp + rename). Untrusted, so it
        needs no forward-only check: resolution probes past it."""
        tmp = self.manifest_dir / f"._current.{uuid.uuid4().hex}"
        tmp.write_text(str(version))
        os.replace(tmp, self._hint())

    # ---------------- write path ----------------
    @staticmethod
    def _logical_view(fstats: dict, mapping: dict) -> dict:
        """A per-file stats dict keyed by LOGICAL column names: manifest
        stats are recorded under the footer's PHYSICAL names (the one
        truth old and new files share), so predicate/constraint provers
        — which speak logical — translate at consultation time. The
        inverse is unambiguous: ``_commit`` refuses a logical column
        whose physical name another column's data occupies. The
        ``__partition__`` record translates its INNER keys (they name
        columns too)."""
        if not mapping:
            return fstats
        inv = {p: l for l, p in mapping.items()}
        out = {inv.get(k, k): v for k, v in fstats.items()}
        part = out.get("__partition__")
        if isinstance(part, dict):
            out["__partition__"] = {
                inv.get(k, k): v for k, v in part.items()
            }
        return out

    def _resolve(self, spark: SparkSession, snap: Snapshot, predicate):
        """Stats-prover IR of ``predicate`` (SQL text or Column) over
        ``snap``'s LOGICAL schema: the manifest record, else the footer
        union. Files are judged against :meth:`_logical_view`."""
        if snap.schema:
            schema = ", ".join(f"`{n}` {t}" for n, t in snap.schema)
        elif snap.files:
            schema = self._read_files(
                spark, snap.files, mapping=snap.column_mapping
            ).schema
        else:
            return _prover.UNKNOWN  # no schema and no file to prune
        return _prover.resolve(spark, predicate, schema)

    def _unproven(
        self, files, stats: dict, irs: list, mapping: dict | None
    ) -> list[str]:
        """The ``files`` whose stats envelopes (judged under their
        :meth:`_logical_view`) cannot prove every constraint IR in
        ``irs`` — the only files a CHECK needs to row-scan. In-bounds
        data verifies from manifest metadata alone, no Spark job."""
        return [
            f
            for f in files
            if not all(
                _prover.proven(
                    ir, self._logical_view(stats.get(f, {}), mapping or {})
                )
                for ir in irs
            )
        ]

    def _violation(
        self,
        spark: SparkSession,
        files: list[str],
        constraints: dict,
        schema,
        mapping: dict | None,
        dv: dict | None = None,
    ):
        """The first live row of ``files`` that violates a CHECK in
        ``constraints``, or None: a row violates when any expression IS
        FALSE (SQL semantics — NULL passes, as in Delta/ANSI CHECK).
        The files are read through :meth:`_read_files` under ``schema``
        (a (name, type) record: columns a file lacks read as NULL and
        pass; the plan needs no footer) and ``mapping``, so the logical
        expressions resolve on a renamed table; soft-deleted rows
        (``dv``) are masked first — a dead row is not a table row."""
        predicate = " OR ".join(
            f"(({expr}) IS FALSE)" for expr in constraints.values()
        )
        df = self._read_files(spark, files, schema=schema, mapping=mapping)
        bad = _constraint_scan(
            self._apply_dv(spark, df, files, dv), predicate
        )
        return bad[0] if bad else None

    def _reject_write(self, uuid_dir: Path, constraints: dict, row) -> None:
        """Delete an uncommitted write's ``uuid_dir`` (readers never saw
        it: visibility starts at commit) and raise the write's
        :class:`ConstraintViolation`, quoting the offending ``row``."""
        shutil.rmtree(uuid_dir, ignore_errors=True)
        raise ConstraintViolation(
            f"{self.root}: write violates CHECK constraint(s) "
            f"{sorted(constraints)}; offending row: {row.asDict()}"
        )

    def _record_partition_values(
        self, written: list[str], stats: dict, pcols: list[str]
    ) -> None:
        """Record each just-written file's partition tuple in its stats
        entry (``__partition__``: {physical_col: value}) — EXACT values,
        the manifest record Delta keeps in AddFile.partitionValues.
        Values come from the file's own [min, max] envelope (typed;
        lo == hi by the one-tuple-per-file layout); an all-NULL
        partition is recognized by its ``__HIVE_DEFAULT_PARTITION__``
        path segment and recorded as None. A column whose value is
        unknowable (unusable stats type, e.g. NaN) is omitted, which
        makes the whole record absent — dynamic overwrite then refuses
        rather than guesses."""
        for f in written:
            fst = stats.get(f)
            if fst is None:
                continue
            pv = {}
            for c in pcols:
                env = fst.get(c)
                if (
                    isinstance(env, (list, tuple))
                    and len(env) == 2
                    and env[0] == env[1]
                    and not (
                        isinstance(env[0], float) and env[0] != env[0]
                    )
                ):
                    pv[c] = env[0]
                else:
                    seg = f"__part__{c}="
                    val = next(
                        (
                            s[len(seg):]
                            for s in Path(f).parts
                            if s.startswith(seg)
                        ),
                        None,
                    )
                    if val == "__HIVE_DEFAULT_PARTITION__":
                        pv[c] = None
            if len(pv) == len(pcols):
                fst["__partition__"] = pv

    def _write_data(
        self,
        df: DataFrame,
        enforce: bool = True,
        enforced_out: dict | None = None,
        mapping: dict | None = None,
        cluster: bool = True,
        partition_spec: tuple | None = None,
    ) -> tuple[list[str], dict]:
        """Land ``df`` as immutable parquet under a fresh uuid dir and
        return ``(written_files, their_stats)``, files relative to the
        table root. The write itself is a normal distributed parquet
        write — only the manifest bookkeeping is driver-side, and it is
        O(files), not O(rows).

        Stats are collected HERE, immediately after the write, so the
        footers are read exactly once per commit (callers hand the dict
        straight to ``_commit``) and so CHECK enforcement below can be
        stats-first: a just-written file whose [min, max] envelope
        proves every constraint is never row-scanned — an append of
        in-bounds data verifies from footer metadata alone, no Spark
        job (:meth:`_unproven`, the check ``restore()`` uses too).

        CHECK constraints are enforced write-then-verify: scanning the
        just-written columnar files once is cheaper than recomputing an
        arbitrary upstream plan a second time. The unproven files are
        scanned by :meth:`_violation` under the written frame's own
        fields, so the scan plans without a footer-inference job. On
        violation the uncommitted files are deleted so nothing leaks
        (readers never saw them — visibility starts at commit).
        ``enforce=False`` is for compact/optimize, whose rows already
        passed at their original write. ``enforced_out`` (append's
        retry loop) receives the constraint set that was actually
        enforced, so the committer can detect and re-enforce
        constraints added between this write and its commit.

        ``mapping`` (the table's ``column_mapping``): ``df`` arrives
        LOGICAL and is renamed to its PHYSICAL column names for the
        write — the one translation point, mirroring ``_read_files``'s
        read-side one. ``None`` derives it from the current snapshot
        when enforcing (the same snapshot read the constraint set
        needs); ``enforce=False`` callers pass it explicitly.

        Spark's writer lands a 0-row file for an empty output and for
        some empty write tasks; such files are deleted here and left out
        of the result, so no commit (an empty append, a rewrite that
        removes every row of its files) records a file that every later
        read and rewrite would open for nothing."""
        cons: dict = {}
        if enforce:
            cur = self.current_version()
            snap = self.snapshot(cur) if cur is not None else None
            cons = dict(snap.constraints or {}) if snap else {}
            if mapping is None:
                mapping = (
                    dict(snap.column_mapping or {}) if snap else {}
                )
            if partition_spec is None:
                # reuse the snapshot already resolved for constraints
                # (review r13: a second _partition_spec() here re-walked
                # the manifest chain on every write)
                partition_spec = self._partition_spec(snap)
        if partition_spec is None:
            # enforce=False callers (compact/optimize/rewrite
            # remainders) pass their basis snapshot's spec explicitly;
            # this fallback only pays the resolution for legacy callers
            partition_spec = self._partition_spec()
        logical_schema = df.schema
        logical_fields = self._df_fields(df)
        if mapping:
            df = df.select(
                *[
                    F_col(f"`{c}`").alias(mapping.get(c, c))
                    for c in df.columns
                ]
            )
        # declared partition columns (VERDICT r12 task #3): route each
        # partition tuple to its own file(s) via a SHADOW partitionBy —
        # the shadow duplicates are stripped into directory names by the
        # writer while the REAL columns stay in the parquet, so every
        # read path (plain, Arrow datasource, dv, CDF) is untouched and
        # a constant column costs ~nothing (RLE dictionary). All data
        # writes funnel here, so one-tuple-per-file is an invariant —
        # compact/optimize re-split along partition bounds for free.
        pcols = [(mapping or {}).get(c, c) for c in partition_spec]
        if pcols:
            missing = [c for c in pcols if c not in df.columns]
            if missing:
                raise ValueError(
                    f"{self.root}: write is missing declared partition "
                    f"column(s) {missing}"
                )
            shadows = [f"__part__{c}" for c in pcols]
            for c, s in zip(pcols, shadows):
                df = df.withColumn(s, F_col(f"`{c}`"))
            # optimized write (Delta's optimizeWrite): REBALANCE by the
            # partition tuple so each tuple's rows cluster into few
            # writer tasks instead of task x partition small files —
            # while AQE's skew handling still SPLITS a huge single
            # partition across tasks (a plain repartition would funnel
            # a 100 GB one-partition append through one writer). Falls
            # back to the plain write on a runtime without the hint.
            # ``cluster=False`` (optimize) keeps an already
            # layout-shaped frame's task structure — rebalancing would
            # widen its zorder envelopes (review r13).
            if cluster:
                try:
                    df = df.hint(
                        "rebalance", *[F_col(s) for s in shadows]
                    )
                except Exception:
                    pass
        sub = self.data_dir / uuid.uuid4().hex
        if pcols:
            df.write.mode("error").partitionBy(*shadows).parquet(str(sub))
        else:
            df.write.mode("error").parquet(str(sub))
        written = [
            str(p.relative_to(self.root))
            for p in sub.rglob("*.parquet")
            if not p.name.startswith((".", "_"))
        ]
        stats = self._collect_stats(written, df.sparkSession)
        empty = {f for f in written if stats.get(f, {}).get("__num_rows__") == 0}
        for f in empty:
            (self.root / f).unlink()
            del stats[f]
        written = [f for f in written if f not in empty]
        if not written:
            shutil.rmtree(sub, ignore_errors=True)
        if pcols:
            self._record_partition_values(written, stats, pcols)
        if enforce and written:
            if enforced_out is not None:
                enforced_out.update(cons)
            irs = [
                _prover.resolve(df.sparkSession, e, logical_schema)
                for e in cons.values()
            ]
            need = self._unproven(written, stats, irs, mapping)
            # read under the written frame's own fields: no footer job
            bad = need and self._violation(
                df.sparkSession, need, cons, logical_fields, mapping
            )
            if bad:
                self._reject_write(sub, cons, bad)
        return written, stats

    def _write_dv(self, df: DataFrame, single: bool = True) -> list[str]:
        """Land a (file, pos) dead-row set under
        ``_deletion_vectors/<uuid>/`` — outside the data file set,
        referenced only by manifests' ``dv`` entries.

        ``single=True`` (merge-on-read): coalesced to one file — a MoR
        dv is small by contract (it is the alternative to rewriting
        files; a dv large enough to strain one writer is the signal to
        ``compact()``), and per-file ``dv`` map entries reference
        exactly one sidecar file.

        ``single=False`` (copy-on-write freeze — VERDICT r10 #1): a COW
        delete/update freezes its ENTIRE matched position set, which on
        a 100 TB table can be billions of rows; funneling that through
        ``coalesce(1)`` is a single-task write bottleneck and a single
        giant object. Instead shuffle by ``file`` (writer parallelism
        scales with touched files; AQE coalesces a small set back to
        one partition, so small freezes still land one file) and sort
        within partitions so each output file carries clustered
        ``file`` runs — consumers filter by file key and prune on the
        footer min/max."""
        sub = self.root / "_deletion_vectors" / uuid.uuid4().hex
        out = (
            df.coalesce(1)
            if single
            else df.repartition("file").sortWithinPartitions("file", "pos")
        )
        out.write.mode("error").parquet(str(sub))
        return [
            str(p.relative_to(self.root))
            for p in sub.rglob("*.parquet")
            if not p.name.startswith((".", "_"))
        ]

    def _write_change_data(self, df: DataFrame) -> list[str]:
        """Land CDF change rows (with their ``_change_type`` column)
        under ``_change_data/<uuid>/`` — OUTSIDE the table's data file
        set, referenced only by the committing manifest's ``cdc_files``
        (Delta's cdc-action layout). No stats, no CHECK enforcement:
        change files are an audit stream, not table rows. A failed
        write removes its own directory: no file list reaches the
        caller's cleanup then."""
        sub = self.root / "_change_data" / uuid.uuid4().hex
        try:
            df.write.mode("error").parquet(str(sub))
        except BaseException:
            shutil.rmtree(sub, ignore_errors=True)
            raise
        return [
            str(p.relative_to(self.root))
            for p in sub.rglob("*.parquet")
            if not p.name.startswith((".", "_"))
        ]

    def _write_data_and_changes(
        self,
        data: DataFrame | None,
        changes: DataFrame | None,
        warm: DataFrame | None,
        enforced: dict,
    ) -> tuple[list[str], dict, list[str]]:
        """Write a rewrite's data rows (``data``, CHECK-enforced into
        ``enforced``) and its change-data rows (``changes``, when given)
        as two overlapping writer jobs: the change-data write runs on an
        ``InheritableThread`` (its jobs keep the caller's job group), the
        data write on the caller. The persisted frame both writes read
        (``warm``) is materialized first — r13's parallel-CDC revert
        traced its loss to the two jobs racing first evaluation of a
        shared cache (cache-lock serialization), which a materialized
        cache cannot exhibit.

        Returns ``(data_files, data_stats, change_files)``. When either
        write fails, both writes' directories are dropped and the first
        error (the data write's) is re-raised; once this returns, the
        caller's commit cleanup owns the files."""
        fresh: list[str] = []
        fresh_stats: dict = {}
        if changes is None:
            if data is not None:
                fresh, fresh_stats = self._write_data(data, enforced_out=enforced)
            return fresh, fresh_stats, []
        if warm is not None:
            warm.count()
        box: dict = {}

        def _cdc_write() -> None:
            try:
                box["files"] = self._write_change_data(changes)
            except BaseException as exc:
                box["err"] = exc

        thread = InheritableThread(target=_cdc_write, daemon=True)
        thread.start()
        try:
            try:
                if data is not None:
                    fresh, fresh_stats = self._write_data(
                        data, enforced_out=enforced
                    )
            finally:
                thread.join()
            if "err" in box:
                raise box["err"]
        except BaseException:
            self._drop_uuid_dirs(fresh + box.get("files", []))
            raise
        return fresh, fresh_stats, box["files"]

    # Driver-side footer reads are fine for a normal append (a handful of
    # new files); past this count — compact/optimize/replace rewrites, or
    # a huge initial load — the collection moves to a distributed pyarrow
    # pass so commit time is O(files / cluster), not O(files) on one
    # thread (VERDICT r7 task #1: the engine's last serial-driver loop).
    stats_driver_max = 16

    def _collect_stats(
        self, rel_files: list[str], spark: SparkSession | None = None
    ) -> dict:
        """Per-file column min/max for just-written files — the Iceberg
        move: pay O(files) footer reads once at COMMIT time, so every
        later read can prune files from manifest metadata alone. Only
        JSON-portable primitive stats are kept.

        With a session and more than ``stats_driver_max`` files, the
        footer reads run as ONE Spark job over the file list (the way
        Delta/Iceberg fold stats collection into the write tasks) — each
        task reads only parquet footers, never data pages, and ships
        back O(columns) scalars per file. Both paths emit keys in
        sorted(rel_files) order — deterministic for any input order, so
        the distributed manifest JSON is byte-identical to the serial
        collector's (pinned by
        ``tests/test_snapshots.py::test_distributed_stats_parity``)."""
        pairs = [(rel, str(self.root / rel)) for rel in sorted(rel_files)]
        if spark is None or len(pairs) <= self.stats_driver_max:
            out: dict = {}
            for rel, abspath in pairs:
                cols = _file_stats(abspath)
                if cols:
                    out[rel] = cols
            return out
        sc = spark.sparkContext
        n_slices = min(len(pairs), sc.defaultParallelism)
        collected = dict(
            sc.parallelize(pairs, n_slices)
            .mapPartitions(_stats_partition)
            .collect()
        )
        # manifest-stable ordering: same key order as the serial path
        return {rel: collected[rel] for rel, _ in pairs if rel in collected}

    @staticmethod
    def _df_fields(df: DataFrame) -> list:
        """``df``'s schema as the sorted (name, simpleString) pair list
        the manifest records."""
        return sorted(
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        )

    @staticmethod
    def _evolve_schema(parent_schema, df: DataFrame) -> list | None:
        """Union the recorded table schema with a written batch's fields
        — the O(columns) driver-side bookkeeping that keeps the manifest
        schema current without any file I/O (ADVICE r8). Name-only
        evolution (added columns) stays recordable; a TYPE change on an
        existing name needs the footer union's type-promotion rules to
        resolve, so the record conservatively becomes None (unknown) and
        readers fall back to the footer union — paying the O(files) cost
        only on type-evolved tables. An unknown parent stays unknown (a
        merge-mode append cannot reconstruct the union cheaply; a strict
        append re-records it, see ``append``)."""
        if parent_schema is None:
            return None
        out = dict(parent_schema)
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            if f.name not in out:
                out[f.name] = t
            elif out[f.name] != t:
                return None
        return sorted(out.items())

    def _recheck_fresh_constraints(
        self,
        spark: SparkSession,
        snap: Snapshot,
        files: list[str],
        stats: dict,
        enforced: dict,
    ) -> None:
        """Re-enforce, on already-written ``files``, any constraint the
        commit parent ``snap`` carries that was NOT in force when they
        were written (added or changed since — the one write/metadata
        race that does not commute). Stats-pruned first
        (:meth:`_unproven`), so in-bounds data re-verifies from manifest
        metadata alone; the rest are scanned by :meth:`_violation` under
        ``snap``'s recorded schema, which null-pads columns the batch
        lacks, so a fresh constraint on an evolution-added column passes
        as NULL. ``enforced`` is updated in place. Shared by
        ``append``'s retry loop and ``_commit_rewrite``. ``files`` must
        share one writer uuid dir (true for every caller: each hands the
        output of a single ``_write_data``) — on violation that dir is
        removed and :class:`ConstraintViolation` raised; callers'
        failure handlers drop any sibling dirs."""
        fresh = {
            k: e
            for k, e in (snap.constraints or {}).items()
            if enforced.get(k) != e
        }
        if fresh and files:
            # constraint expressions speak LOGICAL names; stats and the
            # files are physical-keyed on a column-mapped table
            cmap = dict(snap.column_mapping or {})
            irs = [self._resolve(spark, snap, e) for e in fresh.values()]
            need = self._unproven(files, stats, irs, cmap)
            bad = need and self._violation(
                spark, need, fresh, snap.schema, cmap
            )
            if bad:
                uuid_dir = Path(files[0]).parts[:2]
                self._reject_write(self.root.joinpath(*uuid_dir), fresh, bad)
        enforced.update(fresh)

    def append(
        self,
        df: DataFrame,
        batch_id: int | None = None,
        retries: int = 3,
        schema_mode: str = "merge",
    ) -> Snapshot:
        """Append with automatic conflict retry (Delta's blind-append
        reconciliation): appends commute, so when another writer takes
        our version first, the already-landed data files are re-based
        onto the NEW current snapshot and the commit is retried — no
        data rewrite, no caller-side redo. ``retries=0`` restores
        strict first-writer-wins. A retry re-reads the parent manifest,
        so a concurrently-added CHECK constraint is re-enforced before
        the re-commit (the one append/metadata race that is not
        commutative); ``commit_batch`` replay detection also re-reads,
        keeping exactly-once intact across retries."""
        if schema_mode not in ("merge", "strict"):
            raise ValueError(
                f"schema_mode must be merge|strict, got {schema_mode!r}"
            )
        checked_version: int | None = None
        if schema_mode == "strict":
            # Delta's default posture, opt-in here (this table format
            # shipped evolution-friendly): FAIL FAST — before any data
            # lands — when the incoming schema is not exactly the
            # table's. Footer-only read, no data pages.
            cur0 = self.current_version()
            if cur0 is not None:
                self._strict_schema_check(df, self.snapshot(cur0))
            checked_version = cur0
        enforced: dict = {}
        new, new_stats = self._write_data(df, enforced_out=enforced)
        attempt = 0
        while True:
            cur = self.current_version()
            base: list[str] = []
            base_stats: dict = {}
            if cur is not None:
                snap = self.snapshot(cur)
                base = list(snap.files)
                base_stats = dict(snap.stats or {})
                # constraints added/changed between our write and this
                # attempt: re-enforce on OUR files before re-basing
                self._recheck_fresh_constraints(
                    df.sparkSession, snap, new, new_stats, enforced
                )
                if schema_mode == "strict" and cur != checked_version:
                    # a concurrent schema-evolving append may have moved
                    # the table between our check and this (re-based)
                    # attempt — the second non-commutative append/
                    # metadata race, same treatment as fresh constraints
                    try:
                        self._strict_schema_check(df, snap)
                    except SchemaMismatch:
                        self._drop_uuid_dirs(new)
                        raise
                    checked_version = cur
                if batch_id is not None and (
                    snap.batch_ids is not None
                    and batch_id in snap.batch_ids
                ):
                    # a racing writer landed this very batch first:
                    # exactly-once wins over our attempt — drop our
                    # uncommitted files eagerly instead of waiting for
                    # vacuum, and report the already-committed snapshot
                    self._drop_uuid_dirs(new)
                    return snap
            base_stats.update(new_stats)
            if cur is None:
                sch: list | None = self._df_fields(df)
            else:
                sch = self._evolve_schema(snap.schema, df)
                if (
                    sch is None
                    and schema_mode == "strict"
                    and checked_version == cur
                ):
                    # a passed strict check against THIS parent proved
                    # the table schema equals the batch's — bootstrap
                    # the record on legacy tables so the NEXT strict
                    # append is O(1)
                    sch = self._df_fields(df)
            try:
                return self._commit(
                    base + new,
                    "append",
                    batch_id=batch_id,
                    stats=base_stats,
                    expected_parent=cur,
                    schema=sch,
                )
            except CommitConflict:
                attempt += 1
                if attempt > retries:
                    # terminal failure must not strand the already-
                    # written uuid dir until vacuum (ADVICE r8 — every
                    # other commit path cleans up eagerly on failure)
                    self._drop_uuid_dirs(new)
                    raise

    def _strict_schema_check(self, df: DataFrame, snap: Snapshot) -> None:
        """Raise :class:`SchemaMismatch` unless ``df``'s (name, type)
        field set equals snapshot ``snap``'s table schema. The schema
        the MANIFEST recorded at commit time is authoritative when
        present — an O(1) driver comparison, no file I/O, the Delta
        posture (ADVICE r8: re-deriving it from every live file's
        footer made each strict append O(live files)). Only a legacy or
        type-evolved snapshot (no record) falls back to the footer UNION
        over its files (a single-footer sniff on an evolved table
        would pick an arbitrary file's schema, flip-flopping the
        verdict); the passing strict append then re-records the
        schema, so the fallback is paid once per legacy table."""
        if snap.schema is not None:
            have = set(snap.schema)
        elif not snap.files:
            return
        else:
            have = self._union_schema_from_footers(df.sparkSession, snap)
        want = {
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        }
        if have != want:
            raise SchemaMismatch(
                f"{self.root}: strict append schema mismatch; table has "
                f"{sorted(have)}, batch has {sorted(want)} (use "
                "schema_mode='merge' to evolve)"
            )

    def _union_schema_from_footers(
        self, spark: SparkSession, snap: Snapshot
    ) -> set:
        """The O(files) footer-union fallback for snapshots without a
        recorded schema — a separate method so the O(1)-when-recorded
        contract is testable (monkeypatch this to raise)."""
        return {
            (f.name, f.dataType.simpleString())
            for f in self._read_files(spark, snap.files).schema.fields
        }

    def _commit_rewrite(
        self,
        op: str,
        basis: int | None,
        removed,
        new_files: list[str],
        new_stats: dict,
        spark: SparkSession | None = None,
        retries: int = 3,
        added_guard=None,
        recheck: tuple | None = None,
        extra: dict | None = None,
        evolve_with: DataFrame | None = None,
        metadata_guard=None,
        dv_set: dict | None = None,
        read_dv: dict | None = None,
        soft_deleted: int | None = None,
    ) -> Snapshot:
        """Commit a REWRITE (compact / optimize / replace_where / merge /
        delete) with Delta-style logical conflict reconciliation
        (VERDICT r8 task #3: first-writer-wins alone starves maintenance
        jobs under a steady append stream). The op read basis version
        ``basis``, is replacing file set ``removed`` with ``new_files``,
        and on a lost commit race REBASES onto the new current snapshot
        when the race is provably logically disjoint:

        - every file in ``removed`` is still live (no concurrent commit
          rewrote or dropped rows this op read — else our rewrite would
          resurrect or double them: TRUE conflict, abort);
        - every concurrently-added file passes ``added_guard(rel,
          fstats)`` when a guard is given (replace_where / merge /
          delete read a predicate — a concurrent append whose stats
          cannot prove disjointness from it may hold rows this op
          should have rewritten: abort, as Delta's conflict checker
          does for predicate reads). ``None`` = concurrent adds never
          conflict (compact/optimize carry rows verbatim).

        ``recheck`` = ``(files, stats, enforced)``: new files holding
        genuinely NEW rows (replace_where's replacement, merge's
        incoming) plus the constraint set enforced when they were
        written — a constraint added between that write and a re-based
        commit is re-enforced here, stats-pruned first (same contract as
        ``append``'s retry loop). Carried/rewritten rows are committed
        copies and need no re-check.

        ``evolve_with``: a DataFrame whose fields this op ADDED to the
        table (replace_where's replacement, merge's source) — its
        (name, type) union with the parent's recorded schema is
        re-derived against each rebase parent; None (compact /
        optimize / delete preserve the row shape) inherits the parent's
        record untouched.

        ``metadata_guard(newsnap) -> bool``: called on each rebase
        parent; False means the concurrent commit changed table
        METADATA this already-planned op cannot honor (e.g. a merge
        planned without change-data racing a
        ``delta.enableChangeDataFeed`` enable) — abort, Delta's
        MetadataChangedException posture, rather than silently commit a
        hole in the guarantee the metadata promises.

        Deletion-vector handling: the committed ``dv`` map is the
        (rebase) parent's entries for surviving files, overlaid with
        ``dv_set`` (a merge-on-read delete's new/consolidated entries);
        entries of ``removed`` files drop (rewrites materialize soft
        deletes away), and any dropped-or-rewritten entry is recorded in
        the manifest as ``dv_removed`` so the CDF can replay the
        removed files' LIVE rows without walking to the parent manifest
        (which vacuum may prune). ``read_dv`` = the dv entries (or
        None) of every file this op READ at its basis: a rebase onto a
        parent where any of those entries changed ABORTS — the op's
        row-view is stale (a concurrent soft delete removed rows this
        rewrite would resurrect). ``dv_set`` keys must also survive in
        the rebase parent, else the soft delete would silently attach
        to dead files.

        Uuid-dir cleanup on terminal failure stays with the CALLER
        (its try/except wraps this call)."""
        removed = set(removed)
        vetted: set[str] = set()
        cur = basis
        enforced = dict(recheck[2]) if recheck else {}
        attempt = 0
        basis_cm = None
        while True:
            snap = self.snapshot(cur) if cur is not None else None
            if snap is not None:
                # a rebase must not cross a column-mapping change: this
                # op's frames (and any files it already wrote) were
                # planned under the basis mapping — committing them
                # under a concurrently renamed/dropped layout could
                # record the wrong physical names (Delta's
                # MetadataChangedException posture)
                cmpair = (
                    dict(snap.column_mapping or {}),
                    tuple(snap.dropped_physical or ()),
                )
                if basis_cm is None:
                    basis_cm = cmpair
                elif cmpair != basis_cm:
                    raise CommitConflict(
                        f"{self.root}: column mapping changed "
                        f"concurrently; re-plan the {op} against the "
                        "new schema"
                    )
                vetted |= set(snap.files)
                stats = dict(snap.stats or {})
                out = sorted(
                    (set(snap.files) - removed) | set(new_files)
                )
                if recheck is not None:
                    ck_files, ck_stats, _ = recheck
                    self._recheck_fresh_constraints(
                        spark, snap, ck_files, ck_stats, enforced
                    )
            else:
                stats = {}
                out = sorted(new_files)
            out_stats = {f: stats[f] for f in out if f in stats}
            out_stats.update(new_stats)
            pdv = dict(snap.dv or {}) if snap is not None else {}
            out_set = set(out)
            out_dv = {f: e for f, e in pdv.items() if f in out_set}
            for f, e in (dv_set or {}).items():
                if f in out_set:
                    out_dv[f] = e
            # entries this commit dropped or replaced: the CDF replay
            # record for the removed/rewritten files' live-row sets.
            # compact/optimize are row-neutral (the CDF skips them), so
            # recording would only pin their dv files past their useful
            # life in vacuum's retention sweep.
            dv_gone = {
                f: e
                for f, e in pdv.items()
                if f not in out_set or out_dv.get(f) != e
            }
            xtra = dict(extra or {})
            if dv_gone and op not in ("compact", "optimize"):
                xtra["dv_removed"] = dv_gone
            if evolve_with is None:
                sch: object = SnapshotTable._UNSET
            elif snap is None:
                sch = self._df_fields(evolve_with)
            else:
                sch = self._evolve_schema(snap.schema, evolve_with)
            try:
                return self._commit(
                    out,
                    op,
                    stats=out_stats,
                    expected_parent=cur,
                    extra=xtra or None,
                    schema=sch,
                    dv=out_dv,
                    soft_deleted=soft_deleted,
                )
            except CommitConflict:
                attempt += 1
                if attempt > retries:
                    raise
                newcur = self.current_version()
                if newcur is None or newcur == cur:
                    # no version movement seen (the winner's manifest
                    # is published, so only a stale read gets here):
                    # the retry burns an attempt, bounded by ``retries``
                    continue
                newsnap = self.snapshot(newcur)
                nf = set(newsnap.files)
                if not removed <= nf:
                    raise CommitConflict(
                        f"{self.root}: concurrent commit rewrote or "
                        f"removed files this {op} read; cannot rebase "
                        "— re-run against the current snapshot"
                    )
                if added_guard is not None:
                    nstats = newsnap.stats or {}
                    bad = [
                        f
                        for f in sorted(nf - vetted)
                        if not added_guard(f, nstats.get(f, {}))
                    ]
                    if bad:
                        raise CommitConflict(
                            f"{self.root}: concurrently-added files may "
                            f"hold rows matching this {op}'s predicate "
                            f"(e.g. {bad[0]}); cannot rebase — re-run "
                            "against the current snapshot"
                        )
                if metadata_guard is not None and not metadata_guard(
                    newsnap
                ):
                    raise CommitConflict(
                        f"{self.root}: table metadata changed under "
                        f"this {op} in a way it cannot honor; cannot "
                        "rebase — re-run against the current snapshot"
                    )
                ndv = newsnap.dv or {}
                if read_dv is not None:
                    stale = sorted(
                        f
                        for f, e in read_dv.items()
                        if ndv.get(f) != e
                    )
                    if stale:
                        raise CommitConflict(
                            f"{self.root}: a concurrent commit changed "
                            f"the deletion vector of files this {op} "
                            f"read (e.g. {stale[0]}); cannot rebase — "
                            "re-run against the current snapshot"
                        )
                if dv_set:
                    gone = sorted(set(dv_set) - nf)
                    if gone:
                        raise CommitConflict(
                            f"{self.root}: a concurrent commit rewrote "
                            f"files this {op} soft-deleted rows from "
                            f"(e.g. {gone[0]}); cannot rebase — re-run "
                            "against the current snapshot"
                        )
                cur = newcur

    def overwrite(self, df: DataFrame) -> Snapshot:
        cur = self.current_version()
        new, new_stats = self._write_data(df)
        try:
            return self._commit(
                new,
                "overwrite",
                stats=new_stats,
                expected_parent=cur,
                schema=self._df_fields(df),  # replaces the table outright
            )
        except BaseException:
            # a lost commit race (or any commit failure) must not strand
            # the freshly rewritten dataset until vacuum (review r8 —
            # same contract as replace_where's cleanup)
            self._drop_uuid_dirs(new)
            raise

    def overwrite_partitions(
        self, spark: SparkSession, df: DataFrame
    ) -> Snapshot:
        """DYNAMIC partition overwrite (VERDICT r12 task #3 — the
        reference's Delta consumer write,
        ``/root/reference/src/process_data_glue.py:186-190`` with
        ``spark.sql.sources.partitionOverwriteMode=dynamic``): replace
        exactly the partition tuples PRESENT in ``df``, one atomic
        snapshot commit; partitions ``df`` does not touch are carried
        verbatim. The replaced file set comes from the manifest's
        per-file ``__partition__`` records — EXACT membership, no
        envelope reasoning, zero reads of carried files: at 100 TB a
        one-(fleet, month) re-run touches that month's files only. The
        replaced-tuple set is read off the WRITTEN files' own partition
        records (O(#files) driver dict lookups) — the batch's lineage
        is evaluated exactly once, so a nondeterministic source cannot
        write tuples the discovery never saw (review r13).

        Every incoming row lands in a file of its own partition tuple
        by the ``_write_data`` layout, so — unlike ``replace_where`` —
        no constraint pre-scan is needed: replacement rows cannot
        escape the replaced scope by construction. A concurrent append
        into a replaced partition aborts the commit rebase (its rows
        were semantically replaced); appends into untouched partitions
        rebase fine. The manifest records the replaced tuple list and
        the replacement files, so :meth:`read_changes_cdf` replays
        deletes (the removed files' live rows — whole files, by
        exactness) and inserts with no extra write."""
        # resolve the basis once up front and reuse it for the spec and
        # the removed-set scan (review r13 pass 2 cut the op from three
        # chain resolutions to two — _write_data still resolves its own
        # snapshot for constraint enforcement); declared-vs-committed
        # validation rides _partition_spec(snap)
        cur = self.current_version()
        snap = self.snapshot(cur) if cur is not None else None
        pcols = list(self._partition_spec(snap))
        if not pcols:
            raise ValueError(
                f"{self.root}: overwrite_partitions needs a table "
                "created with partition_by"
            )
        missing = [c for c in pcols if c not in df.columns]
        if missing:
            raise ValueError(
                f"{self.root}: batch is missing partition column(s) "
                f"{missing}"
            )
        new: list[str] = []
        try:
            enforced: dict = {}
            new, new_stats = self._write_data(
                df, enforced_out=enforced, partition_spec=tuple(pcols)
            )
            if cur is None:
                # bootstrap commit: exact membership is never consulted
                # (nothing to replace), so files whose partition value
                # has no sound record (NaN, or a pre-TIMESTAMP_MICROS
                # session's statless timestamps) commit fine — like any
                # append of such rows, they make LATER dynamic
                # overwrites refuse until recovered (see the _replaced
                # error below for the recovery paths)
                return self._commit(
                    new,
                    "overwrite_partitions",
                    stats=new_stats,
                    expected_parent=None,
                    schema=self._df_fields(df),
                    extra={"replace_added": sorted(new)},
                )
            # the replaced tuple set comes from the WRITTEN files' own
            # __partition__ records (review r13: a separate
            # distinct().collect() evaluated df's lineage a SECOND time
            # — a nondeterministic batch could write tuples the
            # discovery never saw, appending alongside the partitions
            # it should have replaced; the written manifest record is
            # the single evaluation and is already key-normalized).
            # Partition columns are never renamable, so the logical
            # ``pcols`` index the physical-keyed record safely.
            tuples = set()
            for f in new:
                pv = (new_stats.get(f) or {}).get("__partition__")
                if not isinstance(pv, dict) or any(
                    c not in pv for c in pcols
                ):
                    raise ValueError(
                        f"{self.root}: written file {f} has no sound "
                        "partition record (NaN / unusable partition "
                        "value?); dynamic overwrite needs exact "
                        "membership"
                    )
                tuples.add(tuple(pv[c] for c in pcols))
            cmap = dict(snap.column_mapping or {})
            stats = dict(snap.stats or {})

            def _replaced(fstats: dict) -> bool | None:
                """True = file's partition tuple is replaced; False =
                provably kept; None = unknowable (no record)."""
                view = self._logical_view(fstats, cmap)
                pv = view.get("__partition__")
                if not isinstance(pv, dict) or any(
                    c not in pv for c in pcols
                ):
                    return None
                return tuple(pv[c] for c in pcols) in tuples

            removed: list[str] = []
            for f in snap.files:
                r = _replaced(stats.get(f, {}))
                if r is None:
                    raise ValueError(
                        f"{self.root}: live file {f} has no recorded "
                        "partition values, so dynamic overwrite cannot "
                        "prove which partitions it holds. Recover with "
                        "compact()/optimize() (re-records values for "
                        "recordable types, e.g. timestamps written "
                        "before the TIMESTAMP_MICROS session pin) or "
                        "delete() the rows whose partition value is "
                        "unrecordable (NaN)."
                    )
                if r:
                    removed.append(f)
            # audit record (DESCRIBE HISTORY-style): which tuples this
            # commit replaced. Informational only — the CDF replay
            # needs just remove + replace_added (whole-file deletes by
            # exactness). None-safe sort: None orders before values.
            extra = {
                "replace_partitions": {
                    "columns": pcols,
                    "tuples": sorted(
                        (list(t) for t in tuples),
                        key=lambda t: [(v is not None, str(v)) for v in t],
                    ),
                },
                "replace_added": sorted(new),
            }
            return self._commit_rewrite(
                "overwrite_partitions",
                cur,
                removed=removed,
                new_files=new,
                new_stats=new_stats,
                spark=spark,
                # concurrent adds are safe only when provably in an
                # UNtouched partition — unknown records abort (sound)
                added_guard=lambda rel, fstats: _replaced(fstats) is False,
                # a CHECK constraint added between this write and a
                # re-based commit is re-enforced on the replacement
                # rows (review r13: every other new-row rewrite passes
                # this; omitting it here let a racing add_constraint
                # commit unvalidated rows)
                recheck=(list(new), new_stats, enforced),
                extra=extra,
                evolve_with=df,
                read_dv={f: (snap.dv or {}).get(f) for f in removed},
            )
        except BaseException:
            self._drop_uuid_dirs(new)
            raise

    def replace_where(
        self,
        spark: SparkSession,
        df: DataFrame,
        predicate: dict[str, list] | None = None,
        column: str | None = None,
        values: list | None = None,
    ) -> Snapshot:
        """Predicate-scoped overwrite (Delta ``replaceWhere``): atomically
        replace all rows matching ``predicate`` — a conjunction of
        ``{column: accepted values}`` — by ``df``; the partition-scoped
        incremental re-run the reference leans on Delta for, as one
        snapshot commit instead of a directory overwrite. (``column`` /
        ``values`` is single-conjunct shorthand.)

        Copy-on-write driven by the manifest stats: a file is carried
        over VERBATIM (no read, no rewrite) when ANY conjunct's recorded
        [min, max] envelope excludes every accepted value; intersecting
        files are read back, scrubbed of matching rows, and rewritten.
        At scale this is why commit-time stats pay for themselves — a
        one-(fleet, month) replace touches that slice's files only.
        Files without recorded stats are conservatively rewritten.

        The manifest records the predicate and which added files are
        the REPLACEMENT (vs the rewritten remainder), so
        :meth:`read_changes_cdf` can derive this commit's change rows
        with no extra write: deletes = the removed files' matching
        rows, inserts = the replacement files — the remainder rows are
        carried copies, not changes. (JSON-unserializable predicate
        values skip the recording; the CDF then refuses that commit.)
        """
        if predicate is None:
            predicate = {column: values}
        # replaceWhere constraint (as in Delta): every replacement row must
        # match the predicate — otherwise its old version survives alongside
        # it. One cheap action over the (small) replacement batch only.
        constraint = None
        for c, vals in predicate.items():
            cond = F_col(c).isin(*vals)
            constraint = cond if constraint is None else (constraint & cond)
        # Null-safe: ``~constraint`` is NULL (not True) for rows whose
        # predicate column is NULL, which would let them slip past the
        # check while never matching the predicate below — reject them.
        n_violating = (
            df.filter(~F_coalesce(constraint, F_lit(False))).limit(1).count()
        )
        if n_violating:
            raise ValueError(
                f"{self.root}: replace_where replacement data contains rows "
                f"not matching {predicate!r}"
            )
        cur = self.current_version()
        snap = self.snapshot(cur) if cur is not None else None
        cmap = dict(snap.column_mapping or {}) if snap else {}

        # The scrub's own isin Column decides which files provably hold
        # no matching row: carried verbatim, and the rebase guard (a
        # concurrent append whose rows match must abort — they would
        # survive a replace that covers them).
        ir = (
            self._resolve(spark, snap, constraint)
            if snap
            else _prover.resolve(spark, constraint, df.schema)
        )

        def _pred_excludes(fstats: dict) -> bool:
            return _prover.disjoint(ir, self._logical_view(fstats, cmap))

        keep_files: list[str] = []
        touched: list[str] = []
        stats = dict(snap.stats or {}) if snap else {}
        for f in snap.files if snap else []:
            (keep_files if _pred_excludes(stats.get(f, {})) else touched).append(f)
        # the REPLACEMENT lands first, CHECK-enforced: if it violates,
        # nothing else has been written yet (no orphaned remainder dir)
        enforced: dict = {}
        new, repl_stats = self._write_data(df, enforced_out=enforced)
        # ADVICE r7: any failure AFTER this point (remainder read/write
        # error, commit conflict, malformed CHECK inside a later write)
        # would orphan the already-written uuid dirs until vacuum — clean
        # them up eagerly, matching the ConstraintViolation path.
        fresh_files = list(new)
        try:
            written_stats = dict(repl_stats)
            if touched:
                # Null-safe keep: rows with a NULL predicate column inside
                # a rewritten file can never match the predicate, so they
                # must be carried into the remainder (Delta keeps them
                # too); ``~constraint`` alone evaluates NULL for them and
                # drops them.
                remainder = self._apply_dv(
                    spark,
                    self._read_files(
                        spark, touched, schema=snap.schema, mapping=cmap
                    ),
                    touched,
                    snap.dv,
                ).filter(~F_coalesce(constraint, F_lit(False)))
                # remainder rows are verbatim copies of already-committed
                # rows: they passed their CHECK at the original write, so
                # re-verifying would double the rewrite's read I/O for
                # nothing (same contract as compact/optimize)
                rem_files, rem_stats = self._write_data(
                    remainder,
                    enforce=False,
                    mapping=cmap,
                    partition_spec=self._partition_spec(snap),
                )
                fresh_files += rem_files
                written_stats.update(rem_stats)
            try:  # record only if the CDF replay can re-parse it
                json.dumps(predicate)
                extra = {
                    "replace_predicate": predicate,
                    "replace_added": sorted(new),
                }
            except TypeError:
                extra = None
            return self._commit_rewrite(
                "replace",
                cur,
                removed=touched,
                new_files=fresh_files,
                new_stats=written_stats,
                spark=spark,
                added_guard=lambda rel, fstats: _pred_excludes(fstats),
                recheck=(list(new), repl_stats, enforced),
                extra=extra,
                evolve_with=df,
                read_dv={
                    f: (snap.dv or {}).get(f) if snap else None
                    for f in touched
                },
            )
        except BaseException:
            self._drop_uuid_dirs(fresh_files)
            raise

    def _require_deterministic(
        self, scope: DataFrame, expr: str, what: str, remedy: str = ""
    ) -> None:
        """Refuse ``expr`` (``what``, e.g. "merge when_matched
        condition") unless it is deterministic across queries. Delta
        parity (review r12): MERGE clause conditions, and a
        copy-on-write update's predicate and SET expressions, are
        evaluated by more than one query per commit (the data write and
        the change-data write each evaluate them, and a persisted
        relation evicted under memory pressure is recomputed; the CDF
        re-derives an update without change data), so a
        non-deterministic expression could commit a table that
        disagrees with itself and its change feed. ``remedy``
        is appended to the error.

        Checked on the analyzed EXPRESSION only — the root Project's
        expression list over ``scope``, not the whole plan (review r12
        pass 2: plan-level ``deterministic`` recurses into the source's
        children, so a uuid()/rand()-derived SOURCE batch falsely
        refused a plain deterministic condition). Time-valued functions
        (current_timestamp & co) are deterministic per query but this
        engine's queries run at different instants — refused too (pass
        2 finding #5; Delta dodges this by evaluating merge as one
        job). A runtime that can't introspect (no _jdf) accepts."""
        wallclock = {
            # Catalyst node classes, not rendered strings (review
            # r12 pass 3: toString() emits string literals
            # UNQUOTED, so a condition comparing against the text
            # 'shutdown_now()' substring-matched "now()")
            "CurrentTimestamp",
            "CurrentDate",
            "CurrentTime",  # review r12 pass 4: 4.1's TIME type
            "Now",
            "LocalTimestamp",
            "CurrentTimeZone",
            "CurrentBatchTimestamp",
        }

        def _finds_wallclock(jex) -> bool:
            # iterative: a machine-generated 1000-term condition is
            # a left-deep tree; Python recursion would raise
            # RecursionError into the except below and silently
            # ACCEPT the wall-clock condition (review r12 pass 4)
            stack = [jex]
            while stack:
                ex = stack.pop()
                if ex.getClass().getSimpleName() in wallclock:
                    return True
                ch = ex.children()
                stack.extend(ch.apply(i) for i in range(ch.size()))
            return False

        from pyspark.errors import AnalysisException

        try:
            from py4j.protocol import Py4JError
        except ImportError:  # Spark Connect runtime: no py4j at all
            Py4JError = ()  # type: ignore[assignment]
        try:
            plan = (
                scope.select(F_expr(expr))
                ._jdf.queryExecution()
                .analyzed()
            )
            exprs = plan.expressions()
            bad = None
            for i in range(exprs.size()):
                ex = exprs.apply(i)
                if not ex.deterministic():
                    bad = "non-deterministic"
                    break
                if _finds_wallclock(ex):
                    bad = "wall-clock-dependent"
                    break
        except AnalysisException:
            # unknown column / bad syntax: surfaces with full
            # context when the real plan builds — proceed, don't
            # mask the better error
            return
        except (AttributeError, Py4JError) as ex:
            # a runtime without _jdf introspection (Connect) or a
            # py4j transport hiccup can't answer the determinism
            # question — accept, but say the guard was skipped
            # (ADVICE r12: the bare except silently disabled the
            # commit/CDF consistency guard on ANY failure)
            _log.warning(
                "%s: determinism guard skipped for %s (%s)",
                self.root,
                what,
                type(ex).__name__,
            )
            return
        if bad is not None:
            raise ValueError(
                f"{self.root}: {what} must be deterministic across "
                f"queries (it is evaluated more than once per commit), "
                f"got {bad} expression {expr!r}{remedy}"
            )

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        when_matched: str | tuple | None = "update",
        when_not_matched: str | tuple | None = "insert",
        when_not_matched_by_source: str | tuple | None = None,
        change_data: bool = False,
    ) -> Snapshot:
        """MERGE INTO at the table-format layer: apply ``source`` rows to
        the table by ``key_cols`` as ONE atomic snapshot commit —
        ``when_matched`` = ``update`` (source row replaces the target
        row), ``delete``, or None (no matched clause); ``when_not_matched``
        = ``insert`` or None (update/delete-only). The Delta MERGE the
        reference's stack would lean on for CDC application, built on
        this format's primitives.

        **Per-clause conditions** (Delta's ``whenMatched(condition)`` —
        VERDICT r11 task #3): ``when_matched`` / ``when_not_matched``
        also accept ``(action, condition_sql)``. A matched-clause
        condition sees BOTH rows via the qualified names ``target.<col>``
        / ``source.<col>`` (the CDC idiom ``source.ts > target.ts``:
        apply only newer source rows); matched rows where it is
        FALSE/NULL are left in place, and — MERGE clause semantics — a
        key-matched source row whose condition fails never falls through
        to the not-matched clause. A not-matched-clause condition sees
        only the source row (unqualified names); unmatched source rows
        failing it are simply not inserted.

        **``when_not_matched_by_source``** (Delta's
        ``whenNotMatchedBySource`` — the full-sync mirror shape: target
        rows ABSENT from the source batch get updated or deleted):
        ``"delete"`` / ``("delete", condition_sql)`` /
        ``("update", set_map)`` / ``("update", set_map, condition_sql)``
        where ``set_map`` is ``{col: sql_expr}``. There is no source row
        in scope, so conditions and set expressions reference target
        columns UNQUALIFIED — which is also what lets the manifest-stats
        prover prune on them (below). Rows failing the condition are
        kept unchanged.

        Copy-on-write driven by manifest stats, like ``replace_where``: a
        file whose recorded [min, max] envelope on ANY key column is
        disjoint from the source's key range cannot contain a matching
        key and is carried over VERBATIM (no read, no rewrite). At scale
        a CDC batch touching one day's keys rewrites that day's files
        only. The source-side key range is one tiny aggregate over the
        (small, by CDC construction) batch — O(#key_cols) driver scalars;
        matching is one distributed left-outer join of the touched files
        with the source, which is complete because pruned files provably
        hold no matching key. Rows with NULL keys never equal any source
        key and stay unmatched (SQL MERGE semantics).

        Every clause combination runs the same plan; the clauses only
        change its expressions. The join marks each target row matched
        (and passing the matched condition); one CASE projection gives
        it its fate (kept, updated, deleted, or updated/deleted by
        source); the source rows, joined with the per-key summary of
        the matches, give the inserts and exactly one post-image per
        updated key. The change feed is read off the same relations.

        ``when_not_matched_by_source`` INVERTS what pruning may assume:
        a file disjoint from the source's key range holds ONLY
        by-source rows, so it can no longer be carried on key stats
        alone — it is carried only when the by-source clause has a
        condition the file's [min, max] envelope PROVES unsatisfiable
        (:func:`stats_prover.disjoint`); an UNconditional by-source
        clause touches every file, which is the true cost of a full
        mirror sync. The concurrent-append rebase guard inverts the
        same way: a concurrently-added file must be both key-disjoint
        and by-source-condition-disjoint to survive a rebase.

        Like Delta, raises when several source rows share a key (the
        "multiple source rows matched" ambiguity) — one cheap action on
        the batch.

        ``change_data=True`` is Delta's ``enableChangeDataFeed`` for
        MERGE: unlike delete/replace, a merge's row changes cannot be
        re-derived from the manifest (they depend on the source batch,
        which is not retained), so the change rows — ``update_preimage``
        / ``update_postimage`` (or ``delete`` preimages) for matched
        keys, ``insert`` for unmatched — are materialized under
        ``_change_data/`` at commit time and referenced by the manifest;
        :meth:`read_changes_cdf` serves them directly. Off by default
        (one more write over the same joined relation, plus a join of
        its changed rows with the per-key summary — the cost Delta
        charges); a merge committed without it still RAISES
        in the CDF, as before. Change files follow manifest retention:
        vacuum reclaims them with their manifest.
        """
        m_action, m_cond = _merge_clause(
            when_matched, "when_matched", ("update", "delete")
        )
        nm_action, nm_cond = _merge_clause(
            when_not_matched, "when_not_matched", ("insert",)
        )
        bs = _merge_by_source_clause(when_not_matched_by_source)
        if m_action is None and nm_action is None and bs is None:
            raise ValueError(
                f"{self.root}: merge needs at least one clause "
                "(when_matched / when_not_matched / "
                "when_not_matched_by_source are all None)"
            )

        if m_cond is not None:
            # analysis-only scope with the clause's qualified names
            # (source keys stand in for target's — same column set)
            self._require_deterministic(
                source.alias("target").join(
                    source.alias("source"),
                    [
                        F_col(f"target.{k}") == F_col(f"source.{k}")
                        for k in key_cols
                    ],
                ),
                m_cond,
                "merge when_matched condition",
            )
        if nm_cond is not None:
            self._require_deterministic(
                source, nm_cond, "merge when_not_matched condition"
            )
        if bs is not None and bs[2] is not None:
            self._require_deterministic(
                source, bs[2], "merge when_not_matched_by_source condition"
            )
        # ONE probe job over the grouped batch serves both the ambiguity
        # check (max group size > 1 — identical semantics to the former
        # count-filter-limit job, NULL-keyed groups included) and the
        # per-key min/max range the stats pruner needs: min/max over the
        # distinct keys equal min/max over the batch, so fusing them
        # halves the driver round-trips per merge (r13 optimization —
        # guide §1.2: remove unnecessary passes)
        probe = (
            source.groupBy(*key_cols)
            .count()
            .agg(
                F_max("count").alias("__dup__"),
                *[
                    agg(c).alias(f"{side}_{c}")
                    for c in key_cols
                    for side, agg in (("lo", F_min), ("hi", F_max))
                ],
            )
            .first()
        )
        if (probe["__dup__"] or 0) > 1:
            raise ValueError(
                f"{self.root}: merge source has multiple rows for the same "
                f"{key_cols} key — deduplicate the batch first"
            )
        cur = self.current_version()
        if cur is None:
            if nm_action == "insert":
                # no target exists: every source row is not-matched; a
                # not-matched condition (source scope) still gates entry
                if nm_cond is not None:
                    source = source.filter(
                        F_coalesce(F_expr(nm_cond), F_lit(False))
                    )
                cdc0 = (
                    self._write_change_data(
                        source.withColumn("_change_type", F_lit("insert"))
                    )
                    if change_data
                    else []
                )
                new: list[str] = []
                try:
                    new, new_stats_ = self._write_data(source)
                    return self._commit(
                        new,
                        "merge",
                        stats=new_stats_,
                        expected_parent=cur,
                        schema=self._df_fields(source),
                        extra={"cdc_files": cdc0} if change_data else None,
                    )
                except BaseException:
                    # the data write's own failure must also drop the
                    # already-landed change-data dir (review r9)
                    self._drop_uuid_dirs(new + cdc0)
                    raise
            return self._commit(
                [],
                "merge",
                stats={},
                expected_parent=cur,
                extra={"cdc_files": []} if change_data else None,
            )
        snap = self.snapshot(cur)
        if not change_data:
            # table property (Delta enableChangeDataFeed): change-data
            # files on every merge without the per-call flag
            change_data = _cdf_enabled(snap)
        if change_data and bs is not None and bs[0] == "update":
            # the CDF postimage re-derives the set expressions over the
            # affected rows (review r12): with change data on they too
            # must be deterministic or feed and table could disagree
            for c, e in bs[1].items():
                self._require_deterministic(
                    source,
                    e,
                    f"merge when_not_matched_by_source set expression {c!r} "
                    "(change data enabled)",
                )

        # key ranges come from the fused probe job above (one batch scan
        # for ambiguity + range instead of two)
        key_range = probe

        cmap = dict(snap.column_mapping or {})

        # the source's key range, typed by the source column; a table
        # column of another type is unknown (the join casts one side)
        table_types = dict(snap.schema or ())
        src_types = {
            f.name: f.dataType.simpleString() for f in source.schema.fields
        }

        def _key_type(c: str) -> str | None:
            t = src_types[c]
            return t if table_types.get(c, t) == t else None

        key_ir = _prover.probe_ir(
            (c, op, key_range[f"{end}_{c}"], _key_type(c))
            for c in key_cols
            for op, end in ((">=", "lo"), ("<=", "hi"))
        )
        cond_ir = (
            self._resolve(spark, snap, bs[2])
            if bs is not None and bs[2] is not None
            else None
        )

        def _file_carried(fstats: dict) -> bool:
            """True when the file provably needs no rewrite: key-disjoint
            (holds no matched row — also the rebase guard for
            concurrently-appended files, whose matching keys escaped this
            merge's join), AND — pruning inversion under a
            by-source clause, whose scope is exactly the key-disjoint
            rows — the clause has a condition the file's stats prove
            unsatisfiable."""
            view = self._logical_view(fstats, cmap)
            if not _prover.disjoint(key_ir, view):
                return False
            if bs is None:
                return True
            return cond_ir is not None and _prover.disjoint(cond_ir, view)

        stats = dict(snap.stats or {})
        carried: list[str] = []
        touched: list[str] = []
        for f in snap.files:
            (carried if _file_carried(stats.get(f, {})) else touched).append(f)

        # The source and the joined relation (below) each feed both the
        # data write and the change-data write, and the joined relation
        # also feeds its own per-key summary: persisted for the duration
        # of this one commit, so each is computed once (Delta's merge
        # materializes the same joined relation for its single pass).
        # Unpersisted in the finally — never outlives the commit, so it
        # is not cross-run caching.
        source = source.persist()
        joined = None
        try:
            # soft-deleted rows are filtered first — a merge must neither
            # match nor carry them
            target = (
                self._apply_dv(
                    spark,
                    self._read_files(
                        spark, touched, schema=snap.schema, mapping=cmap
                    ),
                    touched,
                    snap.dv,
                )
                if touched
                else None
            )
            if target is not None and set(source.columns) != set(target.columns):
                raise ValueError(
                    f"{self.root}: merge source columns {sorted(source.columns)} "
                    f"!= table columns {sorted(target.columns)}"
                )
            set_map: dict = {}
            if bs is not None and bs[0] == "update":
                set_map = bs[1]
                # validate the STATIC spec against the logical schema, not
                # target.columns — review r12: gating on `target is not
                # None` made a typo'd column silently no-op whenever the
                # stats pruner happened to carry every file
                known = (
                    {n for n, _ in snap.schema}
                    if snap.schema is not None
                    else set(source.columns)
                )
                unknown = sorted(set(set_map) - known)
                if unknown:
                    raise ValueError(
                        f"{self.root}: when_not_matched_by_source set_map "
                        f"assigns unknown columns {unknown}"
                    )
            # the not-matched condition, in the source row's own scope
            nm_ok = F_lit(nm_action == "insert")
            if nm_cond is not None:
                nm_ok = F_coalesce(F_expr(nm_cond), F_lit(False))
            changes = None
            if target is None:
                # every file carried: no target row can match, so every
                # source row is unmatched
                data = source.filter(nm_ok) if nm_action == "insert" else None
                if change_data and data is not None:
                    changes = data.withColumn("_change_type", F_lit("insert"))
            else:
                cols = target.columns
                # 1. ONE left-outer join: each touched target row with its
                #    source row, if any (source keys are unique, checked
                #    above), under the matched condition's qualified names.
                #    Planned by size like any join: a small source is
                #    broadcast, so the target keeps its file partitioning
                #    and the rewritten files keep their key ranges. NULL
                #    keys never match.
                hit = F_col("source.__merge_source__").isNotNull()
                passes = hit
                if m_cond is not None:
                    passes = F_when(
                        hit, F_coalesce(F_expr(m_cond), F_lit(False))
                    ).otherwise(F_lit(False))
                joined = (
                    target.alias("target")
                    .join(
                        source.withColumn(
                            "__merge_source__", F_lit(True)
                        ).alias("source"),
                        [
                            F_col(f"target.{k}") == F_col(f"source.{k}")
                            for k in key_cols
                        ],
                        "left",
                    )
                    .select(
                        "target.*",
                        hit.alias("__matched__"),
                        passes.alias("__passed__"),
                    )
                    .persist()
                )
                matched, passed = F_col("__matched__"), F_col("__passed__")
                # 2. ONE CASE projection: each target row's fate — NULL
                #    keeps it; the by-source condition and set map see
                #    the target row alone (unqualified names)
                bs_hit = ~matched
                if bs is not None and bs[2] is not None:
                    bs_hit = bs_hit & F_coalesce(F_expr(bs[2]), F_lit(False))
                bs_action = None if bs is None else f"by_source_{bs[0]}"
                fated = joined.withColumn(
                    "__fate__",
                    F_when(passed, F_lit(m_action)).when(
                        bs_hit, F_lit(bs_action)
                    ),
                )
                fate = F_col("__fate__")
                is_set = fate == "by_source_update"

                def _after(df: DataFrame) -> DataFrame:
                    return df.select(
                        *[
                            F_when(is_set, F_expr(set_map[c]))
                            .otherwise(F_col(c))
                            .alias(c)
                            if c in set_map
                            else F_col(c)
                            for c in cols
                        ]
                    )

                # 3. the source rows against the joined relation's per-key
                #    summary (condition-passing matches per matched key):
                #    an unmatched key enters under the not-matched clause
                #    (its condition sees the source row alone); a key with
                #    passing matches enters as ONE post-image — a true
                #    update when it replaces one row, an insert beside N
                #    deletes when it collapses N. Without a matched
                #    condition every match passes, so the entry test
                #    needs no count and the summary folds away.
                summary = (
                    joined.filter(matched)
                    .groupBy(*key_cols)
                    .agg(F_sum(passed.cast("int")).alias("__passing__"))
                )
                passing = F_col("__passing__")
                post_ok = F_lit(m_action == "update")
                if m_cond is not None:
                    post_ok = post_ok & (passing > 0)
                enters = F_when(passing.isNull(), nm_ok).otherwise(post_ok)
                data = _after(fated.filter(fate.isNull() | is_set)).unionByName(
                    source.join(summary, key_cols, "left")
                    .filter(enters)
                    .select(*cols)
                )
                if change_data:
                    # the changed target rows and the source rows (fate
                    # NULL) against ONE join with the summary
                    rows = (
                        fated.filter(fate.isNotNull())
                        .select(*cols, fate)
                        .unionByName(
                            source.select(
                                *cols, F_lit(None).cast("string").alias("__fate__")
                            )
                        )
                        .join(summary, key_cols, "left")
                        .filter(fate.isNotNull() | enters)
                    )
                    change_type = (
                        F_when(
                            fate.isNull(),
                            F_when(passing == 1, F_lit("update_postimage"))
                            .otherwise(F_lit("insert")),
                        )
                        .when(
                            (fate == "update") & (passing > 1), F_lit("delete")
                        )
                        .when(
                            (fate == "update") | is_set,
                            F_lit("update_preimage"),
                        )
                        .otherwise(F_lit("delete"))
                    )
                    changes = rows.select(
                        *cols, change_type.alias("_change_type")
                    ).unionByName(
                        _after(fated.filter(is_set)).withColumn(
                            "_change_type", F_lit("update_postimage")
                        )
                    )
            enforced: dict = {}
            fresh, fresh_stats, cdc_files = self._write_data_and_changes(
                data, changes, source if joined is None else joined, enforced
            )
            try:
                return self._commit_rewrite(
                    "merge",
                    cur,
                    removed=touched,
                    new_files=fresh,
                    new_stats=fresh_stats,
                    spark=spark,
                    added_guard=lambda rel, fstats: _file_carried(fstats),
                    recheck=(fresh, fresh_stats, enforced),
                    extra={"cdc_files": cdc_files} if change_data else None,
                    evolve_with=source,
                    # a merge PLANNED without change-data must not rebase
                    # onto a concurrent enableChangeDataFeed=true commit —
                    # it would commit a hole in the feed that property now
                    # promises (review r9; Delta raises MetadataChanged)
                    metadata_guard=lambda ns: change_data or not _cdf_enabled(ns),
                    read_dv={f: (snap.dv or {}).get(f) for f in touched},
                )
            except BaseException:
                # carried files stay (committed); fresh data + change files go
                self._drop_uuid_dirs(fresh + cdc_files)
                raise
        finally:
            source.unpersist(False)
            if joined is not None:
                joined.unpersist(False)

    def delete(
        self,
        spark: SparkSession,
        predicate: str,
        retries: int = 3,
        mode: str = "copy-on-write",
    ) -> Snapshot:
        """Row-level ``DELETE FROM ... WHERE predicate`` (Delta parity —
        VERDICT r8 gap #2: GDPR erasure / bad-batch surgery is the first
        mutation Delta users reach for; spelling it as ``replace_where``
        with the complement rewrites rows it shouldn't touch and is easy
        to get wrong). ``predicate`` is a SQL boolean expression; rows
        where it is TRUE are removed, FALSE/NULL rows are kept (SQL
        WHERE semantics).

        Copy-on-write, stats-pruned first: a file whose manifest
        [min, max] envelope PROVES no row matches
        (:func:`stats_prover.disjoint`) is carried verbatim — a
        provably-disjoint delete on a 100 TB table is METADATA-ONLY
        (zero read tasks, zero rewrites, one manifest write; pinned by
        ``test_delete_disjoint_predicate_is_metadata_only``). Only
        intersecting files are read, scrubbed of matching rows, and
        rewritten. Surviving rows are verbatim copies of committed rows,
        so CHECK constraints hold by construction (a per-row CHECK
        cannot start failing on a row subset) — no re-verification scan,
        same contract as ``replace_where``'s remainder.

        The manifest records ``delete_predicate`` and the rewritten
        file set, so :meth:`read_changes_cdf` can replay the REMOVED
        rows (``_change_type='delete'``) from the still-immutable parent
        files; the insert-only :meth:`read_changes` refuses to cross a
        row-removing delete (lineage is no longer append-only) but
        skips a no-op one. Losing a commit race re-bases like the other
        rewrites when the race is disjoint: every rewritten file still
        live, and every concurrently-added file provably predicate-
        disjoint (else its rows should have been deleted too: abort).

        A zero-touched-files delete still commits (auditable, like
        Delta's DELETE with no matches) — the commit is the no-op
        manifest, not a rewrite.

        ``mode='merge-on-read'`` (Delta's deletion vectors): instead of
        rewriting the touched files, record the MATCHING rows'
        file-absolute positions in a tiny (file, pos) sidecar and map
        each touched file to it in the manifest; every reader
        anti-joins the broadcast dead set. A GDPR-style delete of rows
        scattered across a 100 TB table then writes KILOBYTES instead
        of rewriting terabytes — read amplification moves to the read
        path until ``compact()``/``optimize()`` materializes the
        deletes away (rewrites drop dv entries by construction). A file
        whose rows become ALL dead is dropped from the file set
        entirely. Repeated soft deletes on a file consolidate into one
        entry; the stats pruner applies identically (a disjoint
        predicate commits metadata-only in both modes)."""
        return self._row_dml(spark, "delete", predicate, mode, retries)

    def update(
        self,
        spark: SparkSession,
        predicate: str,
        set_exprs: dict[str, str],
        retries: int = 3,
        change_data: bool = False,
        mode: str = "copy-on-write",
    ) -> Snapshot:
        """Row-level ``UPDATE ... SET col = expr WHERE predicate``
        (Delta parity — VERDICT r9 task #2: the last missing Delta
        row-level op next to :meth:`merge` and :meth:`delete`).
        ``predicate`` is a SQL boolean expression; rows where it is
        TRUE get every ``set_exprs`` assignment applied, FALSE/NULL
        rows are carried verbatim (SQL WHERE semantics). Assignments
        are SQL expressions evaluated against the PRE-image row — an
        expr referencing another updated column sees its OLD value,
        and each result is cast to the column's existing type (Delta's
        UPDATE cast; SET cannot add columns, the row shape is
        preserved).

        Copy-on-write, stats-pruned first, like :meth:`delete`: a file
        whose manifest [min, max] envelope PROVES no row matches
        (:func:`stats_prover.disjoint`) is carried verbatim — a
        provably-disjoint update on a 100 TB table is METADATA-ONLY
        (zero read tasks, zero rewrites, one manifest write). Only
        intersecting files are read (with the LOG schema, so an
        evolution-added predicate/SET column evaluates as NULL) and
        rewritten. Unlike delete, an update CAN manufacture rows that
        violate a CHECK constraint, so the rewrite is written with
        full enforcement (stats-first) and re-enforced on a rebase if
        a constraint landed concurrently — the append contract.

        CDF: the manifest records ``update_predicate`` + ``update_set``
        so :meth:`read_changes_cdf` can replay paired
        ``update_preimage`` / ``update_postimage`` rows from the
        still-immutable parent files with NO extra write.
        ``change_data=True`` (or the ``delta.enableChangeDataFeed``
        table property) materializes the pairs under ``_change_data/``
        at commit time instead — Delta's always-materialize posture, at
        merge's documented opt-in price. Either way copy-on-write
        evaluates the predicate and the SET expressions in more than
        one query (the rewrite, the change-data write, the replay), so
        a non-deterministic or wall-clock-dependent one is refused
        before anything is written; ``mode='merge-on-read'`` evaluates
        them once and accepts them.

        Losing a commit race re-bases exactly like delete: every
        rewritten file still live, every concurrently-added file
        provably predicate-disjoint (else its rows should have been
        updated too: abort).

        ``mode='merge-on-read'`` (Delta's deletion-vector UPDATE): the
        matched rows' positions are soft-deleted into a dv sidecar and
        ONLY the post-image rows land as new files — the untouched
        rows of the touched files are never rewritten. A scattered
        update of 0.1% of a 100 TB table writes 0.1%-of-table bytes
        instead of every touched file. CDF falls out for free and is
        exact even for NON-deterministic SET expressions: the
        pre-image derives from the frozen new-dead sidecar over the
        immutable parent files, the post-image IS the added files —
        nothing is re-evaluated at replay, and vacuum pins both while
        the manifest is retained. A ``change_data=True`` request (or
        the table property) is therefore SATISFIED by these recorded
        artifacts; no separate cdc files are written in this mode."""
        return self._row_dml(
            spark, "update", predicate, mode, retries, set_exprs, change_data
        )

    def _row_dml(
        self,
        spark: SparkSession,
        op: str,
        predicate: str,
        mode: str,
        retries: int,
        set_exprs: dict[str, str] | None = None,
        change_data: bool = False,
    ) -> Snapshot:
        """The one body of :meth:`delete` and :meth:`update` (``op``) in
        both modes.

        - Prologue: the snapshot, one Catalyst resolve of ``predicate``
          for the stats guard (which is also the rebase guard for
          concurrently-added files), the touched files, and the SET
          names checked against the recorded schema (or a legacy
          table's footer union) before anything is written — a typo'd
          column must fail loudly, not commit a bogus ``update_set``
          (review r10).
        - Nothing touched, or a freeze that matched no live row: the
          auditable no-op commit (Delta's DML with no matches).
        - Merge-on-read: the matched positions are frozen ONCE into one
          sidecar (:meth:`_freeze_matches`) and folded into the dv
          state (:meth:`_consolidated_dv`); an update lands only the
          frozen rows' post-images (``update_added``), so the table,
          the counts and the CDF agree even for non-deterministic
          expressions. Manifest: ``{op}_mode`` / ``dv_touched`` /
          ``dv_before`` / ``dv_new``.
        - Copy-on-write delete: the same freeze, sharded by file (the
          matched set is O(table) in the worst case — VERDICT r10 #1);
          the survivors are the anti-join against it and the sidecar is
          recorded as ``dv_new`` purely as a replay artifact (the
          rewrite removes the files; no reader masks by it).
        - Copy-on-write update: one guarded CASE projection over the
          touched files, plus the materialized change rows when
          requested. Predicate and SET run in more than one query here,
          so non-deterministic ones are refused."""
        from pyspark.sql.functions import broadcast as F_broadcast

        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(
                f"mode must be copy-on-write|merge-on-read, got {mode!r}"
            )
        if op == "update" and not set_exprs:
            raise ValueError(f"{self.root}: update needs at least one SET assignment")
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"{self.root}: no committed snapshot")
        snap = self.snapshot(cur)
        mor = mode == "merge-on-read"
        stats = dict(snap.stats or {})
        cmap = dict(snap.column_mapping or {})
        pdv = dict(snap.dv or {})
        ir = self._resolve(spark, snap, predicate)

        def guard(rel: str, fstats: dict) -> bool:
            return _prover.disjoint(ir, self._logical_view(fstats, cmap))

        touched = [f for f in snap.files if not guard(f, stats.get(f, {}))]
        read_dv = {f: pdv.get(f) for f in touched}
        extra: dict = {f"{op}_predicate": predicate}
        cow_update = op == "update" and not mor
        if op == "update":
            extra["update_set"] = dict(set_exprs)
            # O(1) from the recorded schema; a legacy table (no record)
            # pays the footer union once, exactly as a strict append
            if snap.schema is not None:
                known = {n for n, _ in snap.schema}
            elif snap.files:
                known = {
                    n for n, _ in self._union_schema_from_footers(spark, snap)
                }
            else:
                known = set(set_exprs)  # empty table: nothing to check
            bad = sorted(set(set_exprs) - known)
            if bad:
                raise ValueError(
                    f"{self.root}: update SET references column(s) "
                    f"{bad} not in the table schema"
                )
        if mor:
            extra[f"{op}_mode"] = mode
        change_data = cow_update and (change_data or _cdf_enabled(snap))
        if change_data:
            # authoritative (possibly empty) materialized feed: the CDF
            # must not fall back to re-deriving what the property
            # promised was materialized
            extra["cdc_files"] = []
        # a copy-on-write update planned without change data must not
        # rebase onto a concurrent enableChangeDataFeed (a feed hole)
        metadata_guard = (
            (lambda ns: change_data or not _cdf_enabled(ns))
            if cow_update
            else None
        )
        freezes = mor or op == "delete"
        frozen: list[str] = []
        if touched and freezes:
            tagged, frozen, counts = self._freeze_matches(
                spark, snap, predicate, touched, single=mor
            )
        if not (frozen if freezes else touched):
            return self._commit_rewrite(
                op,
                cur,
                removed=(),
                new_files=[],
                new_stats={},
                spark=spark,
                retries=retries,
                added_guard=guard,
                extra=extra,
                metadata_guard=metadata_guard,
                read_dv=read_dv,
            )
        # every file this op lands, dropped if the commit does not happen
        written = list(frozen)
        fresh: list[str] = []
        fresh_stats: dict = {}
        enforced: dict = {}
        removed = touched
        dv_set = soft_deleted = None
        try:
            if mor:
                dv_set, removed, fields, merged = self._consolidated_dv(
                    spark, frozen[0], counts, pdv, stats
                )
                written += merged
                extra.update(fields)
                soft_deleted = sum(counts.values())
                if op == "update":
                    # post-images of exactly the frozen rows (a
                    # semi-join, not a predicate re-evaluation)
                    frozen_pos = self._read_positions(
                        spark, frozen[:1]
                    ).selectExpr("file AS __dv_file__", "pos AS __dv_pos__")
                    matched = tagged.join(
                        F_broadcast(frozen_pos),
                        ["__dv_file__", "__dv_pos__"],
                        "left_semi",
                    )
                    fresh, fresh_stats = self._write_data(
                        matched.select(*_set_projection(matched, set_exprs)),
                        enforced_out=enforced,
                    )
                    written += fresh
                    extra["update_added"] = sorted(fresh)
            elif op == "delete":
                # no broadcast hint: a large COW delete freezes a large
                # position set, and AQE broadcasts only when it fits
                pos = self._read_positions(spark, frozen).selectExpr(
                    "file AS __dv_file__", "pos AS __dv_pos__"
                )
                survivors = tagged.join(
                    pos, ["__dv_file__", "__dv_pos__"], "left_anti"
                ).drop("__dv_file__", "__dv_pos__")
                # manifest-format compatibility: a single-file freeze
                # records the plain string every r10 manifest used; a
                # sharded freeze records the list (_dv_new_list)
                extra["dv_new"] = frozen[0] if len(frozen) == 1 else frozen
                # survivors are verbatim committed rows: CHECKs hold
                fresh, fresh_stats = self._write_data(
                    survivors,
                    enforce=False,
                    mapping=cmap,
                    partition_spec=self._partition_spec(snap),
                )
                written += fresh
            else:
                target = self._apply_dv(
                    spark,
                    self._read_files(
                        spark, touched, schema=snap.schema, mapping=cmap
                    ),
                    touched,
                    pdv,
                )
                for what, e in [
                    ("predicate", predicate),
                    *((f"SET {c!r}", e) for c, e in set_exprs.items()),
                ]:
                    self._require_deterministic(
                        target,
                        e,
                        f"copy-on-write update {what}",
                        "; use mode='merge-on-read', which evaluates it once",
                    )
                match = F_coalesce(F_expr(predicate), F_lit(False))
                rewritten = target.select(
                    *_set_projection(target, set_exprs, when=match)
                )
                matched = changes = None
                if change_data:
                    # one scan of the touched files feeds both change
                    # branches (review r10); the cached slice is only
                    # the matched rows, released after both writes
                    matched = target.filter(match).persist()
                    changes = matched.withColumn(
                        "_change_type", F_lit("update_preimage")
                    ).unionByName(
                        matched.select(
                            *_set_projection(matched, set_exprs)
                        ).withColumn("_change_type", F_lit("update_postimage"))
                    )
                try:
                    fresh, fresh_stats, cdc = self._write_data_and_changes(
                        rewritten,
                        changes,
                        matched,
                        enforced,
                    )
                finally:
                    if matched is not None:
                        matched.unpersist()
                written += fresh + cdc
                if change_data:
                    extra["cdc_files"] = cdc
            return self._commit_rewrite(
                op,
                cur,
                removed=removed,
                new_files=fresh,
                new_stats=fresh_stats,
                spark=spark,
                retries=retries,
                added_guard=guard,
                recheck=(
                    (fresh, fresh_stats, enforced) if op == "update" else None
                ),
                extra=extra,
                metadata_guard=metadata_guard,
                dv_set=dv_set,
                read_dv=read_dv,
                soft_deleted=soft_deleted,
            )
        except BaseException:
            self._drop_uuid_dirs(written)
            raise

    def commit_batch(
        self,
        df: DataFrame,
        batch_id: int,
        schema_mode: str = "merge",
    ) -> Snapshot | None:
        """Idempotent append for ``foreachBatch``: if ``batch_id`` was
        already committed on this table, do nothing (a retried batch
        re-runs after a partial failure; the data files it half-wrote on
        the failed attempt were never committed and vacuum reclaims
        them). Returns the new snapshot, or None on replay.

        Replay detection is O(1) manifest reads: the cumulative batch-id
        set rides in every manifest, so a table with thousands of commits
        never re-reads its history (legacy manifests without the set fall
        back to the per-version scan)."""
        cur = self.current_version()
        if cur is not None:
            snap = self.snapshot(cur)
            if snap.batch_ids is not None:
                if batch_id in snap.batch_ids:
                    return None
            elif any(s.batch_id == batch_id for s in self.history()):
                return None
        return self.append(df, batch_id=batch_id, schema_mode=schema_mode)

    def compact(self, spark: SparkSession, target_files: int = 8) -> Snapshot:
        """Rewrite the current snapshot into ``target_files`` files and
        commit — readers of any resolved snapshot are untouched (no
        directory swap, no visibility gap: what a rewrite-and-rename of
        a plain parquet directory cannot give).

        Losing a commit race to concurrent APPENDS re-bases instead of
        aborting (VERDICT r8 task #3): compaction rewrites exactly the
        files it read — appended files it never saw are carried into the
        re-based commit untouched, so a maintenance job no longer
        starves under a steady append stream. A concurrent commit that
        REMOVED any file this compaction read is a true conflict and
        still aborts (the compacted copy would resurrect its rows)."""
        cur = self.current_version()
        basis = self.snapshot(cur) if cur is not None else None
        df = self.read(spark, version=cur, merge_schema=True).repartition(
            target_files
        )
        new, new_stats = self._write_data(
            df,
            enforce=False,
            mapping=dict(basis.column_mapping or {}) if basis else {},
            partition_spec=self._partition_spec(basis),
        )
        try:
            return self._commit_rewrite(
                "compact",
                cur,
                removed=basis.files if basis else (),
                new_files=new,
                new_stats=new_stats,
                spark=spark,
                # the rewrite materialized the basis dv away; a racer
                # changing any read file's dv must abort the rebase
                read_dv=(
                    {f: (basis.dv or {}).get(f) for f in basis.files}
                    if basis
                    else None
                ),
            )
        except BaseException:
            self._drop_uuid_dirs(new)
            raise

    def optimize(
        self,
        spark: SparkSession,
        zorder_by: list[str],
        target_files: int = 8,
    ) -> Snapshot:
        """OPTIMIZE ZORDER BY (Delta's layout command; the reference's
        Delta tables at src/process_data_glue.py:186-190 get it from the
        lakehouse): rewrite the current snapshot into ``target_files``
        files clustered along the Z-curve over ``zorder_by``, so the
        per-file min/max envelopes `_collect_stats` records at commit
        time become tight in EVERY clustered dimension at once — which is
        what turns the manifest-stats file skipping the readers already
        do (the Data Source's pushed filters, ``replace_where``,
        ``merge``) from a no-op on scattered layouts into real
        multi-column pruning. Data-neutral like ``compact``: the change
        feed and the streaming source skip it; time travel to older
        snapshots is untouched.

        Plan shape: one tiny global min/max aggregate per clustered
        column (a 1-row collect — O(columns), never O(rows)), a pure
        bit-arithmetic key column (:func:`operators.indexing.zorder_key`,
        whole-stage codegen), then exactly ONE range exchange — the
        mandatory clustering shuffle — and a partition-local sort. Linear
        in the data at any scale; use ``compact`` when no clustered
        read pattern is worth that shuffle."""
        from nyc_taxi_data_pipeline_elt_spark.operators.indexing import (
            zorder_key,
        )

        if not zorder_by:
            raise ValueError(
                "optimize: zorder_by must name >=1 column; use compact() "
                "for a plain file-count rewrite"
            )
        cur = self.current_version()
        basis = self.snapshot(cur) if cur is not None else None
        df = self.read(spark, version=cur, merge_schema=True)
        # global per-column bounds: one aggregate row, driver-side O(cols)
        row = df.agg(
            *[F_min(c).alias(f"lo{i}") for i, c in enumerate(zorder_by)],
            *[F_max(c).alias(f"hi{i}") for i, c in enumerate(zorder_by)],
        ).first()
        bounds = [
            (
                0.0 if row[f"lo{i}"] is None else float(row[f"lo{i}"]),
                0.0 if row[f"hi{i}"] is None else float(row[f"hi{i}"]),
            )
            for i in range(len(zorder_by))
        ]
        # on a partitioned table the range key LEADS with the partition
        # tuple (review r13 pass 2: ranging on __zkey alone spread every
        # tuple across every range task, and the partitioned write then
        # split each task per tuple — target_files x n_tuples small
        # files); tuple-first ranging keeps ~target_files total while
        # each file's zkey envelope stays tight within its tuple
        pspec = self._partition_spec(basis)
        range_cols = [*pspec, "__zkey"]
        clustered = (
            df.withColumn("__zkey", zorder_key(zorder_by, bounds))
            .repartitionByRange(target_files, *range_cols)
            .sortWithinPartitions(*range_cols)
            .drop("__zkey")
        )
        new, new_stats = self._write_data(
            clustered,
            enforce=False,
            mapping=dict(basis.column_mapping or {}) if basis else {},
            partition_spec=pspec,
            # the frame is ALREADY layout-shaped (tuple + zkey range and
            # sort): the partitioned write's rebalance would re-shuffle
            # it and widen every output file's zorder envelopes back to
            # the tuple's full range, defeating the pruning this op
            # exists for (review r13)
            cluster=False,
        )
        try:
            # rebase-on-append like compact (concurrent adds survive
            # unclustered — the next OPTIMIZE sweeps them in)
            return self._commit_rewrite(
                "optimize",
                cur,
                removed=basis.files if basis else (),
                new_files=new,
                new_stats=new_stats,
                spark=spark,
                read_dv=(
                    {f: (basis.dv or {}).get(f) for f in basis.files}
                    if basis
                    else None
                ),
            )
        except BaseException:
            self._drop_uuid_dirs(new)
            raise

    def restore(
        self, version: int, spark: SparkSession | None = None
    ) -> Snapshot:
        """Delta ``RESTORE TABLE ... VERSION AS OF``: commit snapshot
        ``version``'s file list as the NEW current version — a
        history-preserving rollback (readers that time-travel still see
        every intermediate state; the bad commits stay auditable).
        Metadata-only: no data moves, O(files) manifest write. The
        restored files re-enter the live set, so a later ``vacuum``
        keeps them. Logical content changes, so the change feed treats a
        restore like an overwrite (raises; consumers re-read the full
        snapshot).

        Two invariants a naive file-list rollback would break:

        - The CURRENT constraint set is carried (rollback is for data,
          not governance) — and because the restored rows may PREDATE a
          constraint, they are re-validated against it: pass ``spark``
          whenever constraints are active (required — otherwise the
          table invariant "no committed file holds a violating row"
          would silently break, and the violation would later surface
          misattributed to an innocent rewrite).
        - The cumulative ``batch_ids`` replay set is RESET to the
          restored version's set, not the parent's: a ``foreachBatch``
          batch whose rows the rollback just removed must be re-landable
          — carrying the parent's set would make ``commit_batch``
          silently skip its replay (permanent data loss for that
          batch)."""
        snap = self.snapshot(version)
        cur = self.current_version()
        cons = (
            dict(self.snapshot(cur).constraints or {})
            if cur is not None
            else {}
        )
        if cons and snap.files:
            # Stats-first: a rollback should not cost a table scan. A
            # restored file whose manifest envelope PROVES every
            # constraint is skipped; only the inconclusive ones get the
            # one row-level scan, soft-deleted rows masked — zero scan
            # tasks on a provably-compliant table (pinned by
            # ``test_restore_metadata_proven_skips_scan``).
            rmap = dict(snap.column_mapping or {})
            # spark=None proves with the active session, if any (with
            # none, nothing is proven); only a row scan needs spark
            session = spark or SparkSession.getActiveSession()
            irs = (
                [self._resolve(session, snap, e) for e in cons.values()]
                if session is not None
                else [_prover.UNKNOWN]
            )
            need = self._unproven(snap.files, snap.stats or {}, irs, rmap)
            if need and spark is None:
                raise ValueError(
                    f"{self.root}: restore with active CHECK "
                    f"constraints {sorted(cons)} requires spark to "
                    "re-validate the restored rows (manifest stats "
                    f"prove only {len(snap.files) - len(need)}"
                    f"/{len(snap.files)} files compliant)"
                )
            bad = need and self._violation(
                spark, need, cons, snap.schema, rmap, snap.dv
            )
            if bad:
                raise ConstraintViolation(
                    f"{self.root}: restoring v{version} would violate "
                    f"CHECK constraint(s) {sorted(cons)}; offending "
                    f"row: {bad.asDict()}"
                )
        ids = snap.batch_ids
        if ids is None:  # legacy manifest: reconstruct from history
            ids = tuple(
                s.batch_id
                for s in self.history()
                if s.version <= version and s.batch_id is not None
            )
        return self._commit(
            list(snap.files),
            "restore",
            stats=dict(snap.stats or {}),
            batch_ids_override=list(ids),
            expected_parent=cur,
            # the restored FILE SET defines the schema — the restored
            # version's record, not the rolled-back parent's
            schema=list(snap.schema) if snap.schema is not None else None,
            # likewise its deletion vectors: inheriting the parent's
            # would resurrect rows a restored-version dv soft-deleted
            # (or re-kill rows deleted after it)
            dv=dict(snap.dv or {}),
            # and its column mapping/tombstones — the restored FILE SET
            # carries the restored version's physical-name layout
            column_mapping=dict(snap.column_mapping or {}),
            dropped_physical=list(snap.dropped_physical or ()),
        )

    def shallow_clone(
        self,
        path: str,
        version: int | None = None,
        timestamp: float | None = None,
    ) -> "SnapshotTable":
        """Delta ``CREATE TABLE ... SHALLOW CLONE``: a new table at
        ``path`` whose v0 manifest REFERENCES the source's current data
        files by absolute path — zero data copied, O(files) metadata,
        ready in one commit. Stats, schema, constraints, properties,
        deletion vectors, and the exactly-once batch-id set all carry
        over (dv joins key rows by the root-independent
        ``data/<uuid>/<name>`` tail, so the source's sidecars apply
        unchanged). The clone then lives its own life: appends land
        under ITS root, rewrites (compact/optimize/delete/update/
        merge/replace) materialize whatever they touch into local
        files, and the clone's vacuum only ever lists its own data
        directory — source files are structurally out of reach.

        The one shared-fate caveat is Delta's own: the source must not
        VACUUM away files the clone still references (its snapshot at
        clone time). Keep the source's retention at least as long as
        the clone's dependence, or ``compact()`` the clone to cut the
        cord (first compaction deep-copies the remaining referenced
        rows).

        ``version`` / ``timestamp`` clone a HISTORICAL snapshot (Delta
        ``CLONE src VERSION AS OF n`` / ``TIMESTAMP AS OF ts``) — the
        zero-copy way to pin a training-data release or reproduce a
        past run: the clone's v0 is the source AS OF that point, and
        everything (stats, schema, constraints, properties, dv, batch
        ids) carries from THAT snapshot, not the current one."""
        if timestamp is not None and version is not None:
            raise ValueError(
                "shallow_clone: pass version OR timestamp, not both"
            )
        snap = (  # raises FileNotFoundError when empty
            self.snapshot_at_timestamp(timestamp)
            if timestamp is not None
            else self.snapshot(version)
        )
        clone = SnapshotTable(path)
        if clone.current_version() is not None:
            raise FileExistsError(
                f"{clone.root}: already a committed table; clone into "
                "a fresh path"
            )
        src = self.root.resolve()
        ids = snap.batch_ids
        if ids is None:  # legacy manifest: reconstruct from history,
            # exactly as _commit and restore() do — collapsing None to
            # an empty set would let a foreachBatch producer replay an
            # already-committed batch into the clone (duplicate rows);
            # bounded at the cloned version, like restore()
            ids = tuple(
                s.batch_id
                for s in self.history()
                if s.version <= snap.version and s.batch_id is not None
            )
        clone._commit(
            [str(src / f) for f in snap.files],
            "clone",
            stats={str(src / f): s for f, s in (snap.stats or {}).items()},
            constraints=dict(snap.constraints or {}),
            properties=dict(snap.properties or {}),
            batch_ids_override=list(ids),
            expected_parent=None,
            schema=(
                list(snap.schema) if snap.schema is not None else None
            ),
            dv={
                str(src / f): [str(src / e[0]), e[1]]
                for f, e in (snap.dv or {}).items()
            },
            column_mapping=dict(snap.column_mapping or {}),
            dropped_physical=list(snap.dropped_physical or ()),
            partition_by=list(snap.partition_by or ()),
            extra={
                "clone_source": str(src),
                "clone_version": snap.version,
            },
        )
        return clone

    def add_check_constraint(
        self, spark: SparkSession, name: str, expr: str
    ) -> Snapshot:
        """Delta ``ALTER TABLE ADD CONSTRAINT ... CHECK``: register a SQL
        boolean expression every row must satisfy (NULL passes — ANSI
        CHECK semantics). Existing data is validated first with one
        existence-check scan, exactly as Delta does; afterwards every
        data-adding write (append / commit_batch / overwrite / merge /
        replace_where) enforces it at write time and a violating write
        commits NOTHING. The constraint set rides in the manifest, so it
        is versioned, atomic, and survives restores."""
        cur = self.current_version()
        cons = (
            dict(self.snapshot(cur).constraints or {})
            if cur is not None
            else {}
        )
        if name in cons:
            raise ValueError(f"{self.root}: constraint {name!r} exists")
        files: list[str] = []
        stats: dict = {}
        if cur is not None:
            snap = self.snapshot(cur)
            files, stats = list(snap.files), dict(snap.stats or {})
            cmap = dict(snap.column_mapping or {})
            # stats-first, like restore(): validate only the files whose
            # manifest envelope cannot prove the new constraint — adding
            # an in-bounds constraint to a 100 TB table is metadata-only
            irs = [self._resolve(spark, snap, expr)]
            need = self._unproven(files, stats, irs, cmap)
            bad = need and self._violation(
                spark, need, {name: expr}, snap.schema, cmap, snap.dv
            )
            if bad:
                raise ConstraintViolation(
                    f"{self.root}: existing rows violate {name!r} "
                    f"({expr}); offending row: {bad.asDict()}"
                )
        cons[name] = expr
        return self._commit(
            files,
            "add_constraint",
            stats=stats,
            constraints=cons,
            expected_parent=cur,
        )

    def _metadata_commit(
        self,
        op: str,
        cur: int | None,
        snap: Snapshot | None,
        constraints: dict | None = None,
        properties: dict | None = None,
    ) -> Snapshot:
        """Commit a METADATA-ONLY change: basis snapshot ``snap``'s file
        list and stats carried verbatim, one constraints/properties
        field replaced (the shared tail of set/unset_property and
        drop_constraint — review r9: four drifting copies of this
        boilerplate already produced an empty-table inconsistency). The
        caller passes the (cur, snap) basis it DERIVED the new field
        from, so a commit racing in between surfaces as CommitConflict
        instead of silently losing its metadata. ``snap=None`` creates
        v0 with no files — governance configured BEFORE the first
        write."""
        if snap is None:
            return self._commit(
                [],
                op,
                stats={},
                constraints=constraints,
                properties=properties,
                expected_parent=None,
            )
        return self._commit(
            list(snap.files),
            op,
            stats=dict(snap.stats or {}),
            constraints=constraints,
            properties=properties,
            expected_parent=cur,
        )

    def rename_column(self, old: str, new: str) -> Snapshot:
        """Delta ``ALTER TABLE ... RENAME COLUMN`` (the columnMapping
        feature): a METADATA-ONLY commit — zero data rewritten at any
        table size. The column's PHYSICAL parquet name never changes
        once written; the manifest's ``column_mapping`` records
        {logical: physical}, appends translate logical -> physical at
        write (:meth:`_write_data`) and every read translates back
        (:meth:`_read_files`), so old and new files serve the same
        logical column. The commit requires the ``column-mapping``
        reader AND writer feature — an older build fails closed instead
        of misreading names. A change feed that has served the column
        under its old name refuses to cross the rename (names would
        misalign across the range), Delta's incompatible-schema-change
        posture; ``read_changes_cdf`` refuses any range with rows before
        it."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"{self.root}: no committed snapshot")
        snap = self.snapshot(cur)
        if snap.schema is None:
            raise ValueError(
                f"{self.root}: rename_column needs a manifest-recorded "
                "schema (legacy table: run one modern commit first)"
            )
        names = {n: t for n, t in snap.schema}
        if old not in names:
            raise ValueError(f"{self.root}: no column {old!r}")
        if new in names:
            raise ValueError(f"{self.root}: column {new!r} exists")
        used_by = [
            c
            for c, expr in (snap.constraints or {}).items()
            if _re.search(rf"\b{_re.escape(old)}\b", expr)
        ]
        if used_by:
            # committing anyway would wedge every later write: the
            # constraint expression still says the OLD name, which no
            # logical frame resolves (Delta refuses this rename too)
            raise ValueError(
                f"{self.root}: column {old!r} is referenced by CHECK "
                f"constraint(s) {sorted(used_by)}; drop or re-create "
                "them against the new name"
            )
        if old in (snap.partition_by or ()):
            # the declaration, per-file __partition__ records, and the
            # layout's shadow dirs all speak this name — a rename would
            # orphan them; refused honestly (partitioning is fixed at
            # creation)
            raise ValueError(
                f"{self.root}: {old!r} is a declared partition column; "
                "partitioning is fixed at table creation"
            )
        mapping = dict(snap.column_mapping or {})
        phys = mapping.pop(old, old)
        if phys != new:
            mapping[new] = phys
        # else: renamed back to its physical name — identity, unmapped
        rec = sorted(
            [(n, t) for n, t in snap.schema if n != old]
            + [(new, names[old])]
        )
        return self._commit(
            list(snap.files),
            "rename_column",
            stats=dict(snap.stats or {}),
            expected_parent=cur,
            schema=rec,
            column_mapping=mapping,
            extra={"rename_from": old, "rename_to": new},
        )

    def drop_column(self, name: str) -> Snapshot:
        """Delta ``ALTER TABLE ... DROP COLUMN`` (columnMapping): a
        METADATA-ONLY commit — the column leaves the logical schema and
        every read projects it away; the bytes stay in existing files
        until their natural rewrite (Delta's posture — run OPTIMIZE to
        reclaim). The physical name is TOMBSTONED: re-adding a column
        that would occupy it is refused (old files' data would surface
        under the new column; Delta disambiguates with column ids, we
        refuse honestly). Refused while a CHECK constraint references
        the column, as in Delta."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"{self.root}: no committed snapshot")
        snap = self.snapshot(cur)
        if snap.schema is None:
            raise ValueError(
                f"{self.root}: drop_column needs a manifest-recorded "
                "schema (legacy table: run one modern commit first)"
            )
        names = {n: t for n, t in snap.schema}
        if name not in names:
            raise ValueError(f"{self.root}: no column {name!r}")
        if len(names) == 1:
            raise ValueError(f"{self.root}: cannot drop the last column")
        used_by = [
            c
            for c, expr in (snap.constraints or {}).items()
            if _re.search(rf"\b{_re.escape(name)}\b", expr)
        ]
        if used_by:
            raise ValueError(
                f"{self.root}: column {name!r} is referenced by CHECK "
                f"constraint(s) {sorted(used_by)}; drop them first"
            )
        if name in (snap.partition_by or ()):
            raise ValueError(
                f"{self.root}: {name!r} is a declared partition column; "
                "partitioning is fixed at table creation (Delta refuses "
                "dropping partition columns too)"
            )
        mapping = dict(snap.column_mapping or {})
        phys = mapping.pop(name, name)
        dropped = sorted(set(snap.dropped_physical or ()) | {phys})
        rec = sorted((n, t) for n, t in snap.schema if n != name)
        return self._commit(
            list(snap.files),
            "drop_column",
            stats=dict(snap.stats or {}),
            expected_parent=cur,
            schema=rec,
            column_mapping=mapping,
            dropped_physical=dropped,
            extra={"dropped_column": name},
        )

    def set_property(self, key: str, value: str) -> Snapshot:
        """Delta ``ALTER TABLE SET TBLPROPERTIES``: a metadata-only
        commit recording a {key: value} table property, carried forward
        on every later commit and versioned with the log. Works on an
        empty table (enable governance BEFORE the first write, as Delta
        does). Recognized by this engine:
        ``'delta.enableChangeDataFeed' = 'true'`` (boolean parsed
        case-insensitively; invalid values are rejected up front —
        review r9: ``str(True)`` stored 'True' and a case-sensitive
        check silently never enabled the feed) makes every MERGE write
        its change-data files without the per-call flag."""
        value = str(value)
        if key == "delta.enableChangeDataFeed" and value.lower() not in (
            "true",
            "false",
        ):
            raise ValueError(
                f"{self.root}: {key} must be true/false, got {value!r}"
            )
        cur = self.current_version()
        snap = self.snapshot(cur) if cur is not None else None
        props = dict(snap.properties or {}) if snap else {}
        props[key] = value
        return self._metadata_commit(
            "set_property", cur, snap, properties=props
        )

    def unset_property(self, key: str) -> Snapshot:
        """Remove a table property (metadata-only commit)."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"{self.root}: no committed snapshot")
        snap = self.snapshot(cur)
        props = dict(snap.properties or {})
        if key not in props:
            raise ValueError(f"{self.root}: no property {key!r}")
        del props[key]
        return self._metadata_commit(
            "unset_property", cur, snap, properties=props
        )

    def drop_constraint(self, name: str) -> Snapshot:
        """Remove a CHECK constraint (metadata-only commit)."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"{self.root}: no committed snapshot")
        snap = self.snapshot(cur)
        cons = dict(snap.constraints or {})
        if name not in cons:
            raise ValueError(f"{self.root}: no constraint {name!r}")
        del cons[name]
        return self._metadata_commit(
            "drop_constraint", cur, snap, constraints=cons
        )

    #: Distribute the vacuum listing/deletion when a session is given
    #: and the table has more writer uuid dirs than this (same contract
    #: as ``stats_driver_max``): Delta/Iceberg VACUUM parallelize the
    #: file listing for exactly this reason — a serial driver rglob over
    #: a 100 TB table's data tree is the million-object LIST the
    #: manifest design exists to avoid.
    vacuum_driver_max = 16

    def vacuum(
        self,
        keep_versions: int = 1,
        spark: SparkSession | None = None,
        grace_seconds: float = 300.0,
    ) -> list[str]:
        """Delete data files referenced by no kept snapshot, manifests
        older than the kept window, and temp files dead writers left in
        ``_manifests/``. Run only when no reader holds a
        snapshot older than the window (retention contract, as in
        Delta/Iceberg VACUUM). With ``spark`` and more than
        ``vacuum_driver_max`` writer dirs, listing + deletion run as one
        Spark job — one task per uuid dir, the live set shipped once as
        a broadcast — and the driver only assembles the removed list.

        ``grace_seconds`` is the in-flight-writer guard (ADVICE r9,
        Delta's retention-hours posture): a writer uuid dir — data OR
        ``_change_data`` — or a manifest temp file whose mtime is
        younger than the grace is SKIPPED even when no kept
        manifest references it, because its writer may be between the
        file write and the manifest commit (the cdc dir of a
        ``merge(change_data=True)`` lands before the rebase-capable
        commit loop — reclaiming it mid-window would commit a manifest
        whose ``cdc_files`` point at nothing, permanently breaking that
        version's CDF). Pass ``0.0`` only when no writer can be
        in flight."""

        def _settled(d: Path) -> bool:
            try:
                return time.time() - d.stat().st_mtime >= grace_seconds
            except OSError:
                return False  # vanished under us: another vacuum got it

        hist = self.history()
        if not hist:
            return []
        kept = hist[-keep_versions:]
        live = {f for s in kept for f in s.files}
        # a kept manifest's CDF REPLAY INPUTS are live too (review r10:
        # pinning the dv sidecars but not the data files the same
        # replay reads made the feed contract inconsistent): the files
        # a replayable op re-reads — COW delete/update/replace removals,
        # merge-on-read touched files, materialized replacement /
        # post-image files, an append's added files — stay until their
        # manifest leaves the window. Non-replayable ops (overwrite /
        # restore / compact / optimize / merge-without-cdc) pin nothing.
        kept_raws = [self._raw_manifest(s.version) for s in kept]
        for raw in kept_raws:
            op = raw.get("op")
            if op == "append":
                live.update(raw.get("add", raw.get("files", [])))
            elif op in ("delete", "update"):
                live.update(raw.get("remove", []))
                live.update(raw.get("dv_touched", []))
                live.update(raw.get("update_added", []))
            elif op in ("replace", "overwrite_partitions"):
                live.update(raw.get("remove", []))
                live.update(raw.get("replace_added", []))
        subdirs = sorted(
            str(d)
            for d in (
                self.data_dir.iterdir() if self.data_dir.exists() else []
            )
            if d.is_dir() and _settled(d)
        )
        removed: list[str] = []
        if spark is not None and len(subdirs) > self.vacuum_driver_max:
            sc = spark.sparkContext
            bc = sc.broadcast(frozenset(live))
            root = str(self.root)
            try:
                removed = sorted(
                    set(  # speculative twin attempts may double-report
                        sc.parallelize(
                            subdirs, min(len(subdirs), sc.defaultParallelism)
                        )
                        .flatMap(lambda d: _vacuum_subdir(root, d, bc.value))
                        .collect()
                    )
                )
            finally:
                bc.unpersist()
        else:
            for sub in subdirs:
                removed.extend(_vacuum_subdir(str(self.root), sub, live))
            removed.sort()
        # change-data files (merge change_data=True) follow manifest
        # retention: reclaim any not referenced by a KEPT manifest.
        # Serial listing is fine here — cdc dirs exist only for explicit
        # change_data merges, a per-batch cadence, not per-file scale.
        cdc_root = self.root / "_change_data"
        if cdc_root.exists():
            live_cdc = frozenset(
                f for raw in kept_raws for f in raw.get("cdc_files", [])
            )
            for sub in sorted(
                d for d in cdc_root.iterdir() if d.is_dir() and _settled(d)
            ):
                removed.extend(
                    _vacuum_subdir(str(self.root), str(sub), live_cdc)
                )
        # deletion-vector files follow the same retention: live = every
        # dv file a KEPT manifest references — current entries (dv),
        # plus the prior-entry records CDF replays read (dv_removed /
        # dv_before). Serial listing: dv dirs exist per merge-on-read
        # delete, a per-batch cadence.
        dv_root = self.root / "_deletion_vectors"
        if dv_root.exists():
            live_dv = set()
            for raw in kept_raws:
                for key in ("dv", "dv_removed", "dv_before"):
                    for e in (raw.get(key) or {}).values():
                        if e:
                            live_dv.add(e[0])
                live_dv.update(_dv_new_list(raw.get("dv_new")))
            for sub in sorted(
                d for d in dv_root.iterdir() if d.is_dir() and _settled(d)
            ):
                removed.extend(
                    _vacuum_subdir(
                        str(self.root), str(sub), frozenset(live_dv)
                    )
                )
        # the oldest KEPT version must resolve without its (about to be
        # deleted) ancestors: materialize it into a checkpoint first
        oldest = kept[0]
        raw = self._raw_manifest(oldest.version)
        if "files" not in raw and self._read_checkpoint(oldest.version) is None:
            self._write_checkpoint(
                oldest.version, list(oldest.files), dict(oldest.stats or {})
            )
        for s in hist[:-keep_versions]:
            self._manifest_path(s.version).unlink(missing_ok=True)
            self._checkpoint_path(s.version).unlink(missing_ok=True)
        for tmp in self.manifest_dir.glob("._*"):
            if _settled(tmp):
                tmp.unlink(missing_ok=True)
        return removed

    # ---------------- read path ----------------
    def _effective_timestamps(self) -> list[tuple[int, float]]:
        """``(version, effective commit ts)`` for every published
        version, ascending. Commit timestamps come from racing writers'
        clocks, so raw ``ts`` values need not be monotonic across
        versions (ADVICE r8: clock skew could resolve "newest v with ts
        <= t" to a version committed AFTER one with a larger ts). Each
        EFFECTIVE timestamp is therefore clamped to max(own ts, every
        ancestor's) — Delta's timestamp adjustment — so a skewed commit
        never time-travels to before its parent, and both timestamp APIs
        agree about ordering. O(versions) manifest-header reads."""
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"{self.root}: no committed snapshot")
        raw = (float(self._raw_manifest(v)["ts"]) for v in versions)
        return list(zip(versions, itertools.accumulate(raw, max)))

    def first_version_at_or_after(self, ts: float) -> int:
        """Delta's stream ``startingTimestamp`` resolution: the EARLIEST
        version whose effective commit timestamp
        (:meth:`_effective_timestamps`) is >= ``ts`` (unix seconds).
        Raises ``ValueError`` when ``ts`` is after the latest commit
        (Delta's posture: a future start silently meaning "nothing,
        ever" hides typos)."""
        walk = self._effective_timestamps()
        for v, eff in walk:
            if eff >= ts:
                return v
        last, eff = walk[-1]
        raise ValueError(
            f"{self.root}: startingTimestamp {ts} is after the "
            f"latest commit (effective ts {eff}); pick a timestamp "
            "at or before it, or startingVersion "
            f"{last + 1} for future commits only"
        )

    def snapshot_at_timestamp(self, ts: float) -> Snapshot:
        """Delta ``TIMESTAMP AS OF``: the newest snapshot whose effective
        commit timestamp (:meth:`_effective_timestamps`) is at or before
        ``ts`` (unix seconds). Raises ``FileNotFoundError`` when ``ts``
        predates the table and ``ValueError`` when it is after the
        latest commit (mirroring Delta's after-latest error — a future
        timestamp silently resolving "latest" makes the read
        non-reproducible as soon as anyone commits). No data touched."""
        walk = self._effective_timestamps()
        at_or_before = [v for v, eff in walk if eff <= ts]
        if not at_or_before:
            raise FileNotFoundError(
                f"{self.root}: no snapshot committed at or before {ts}"
            )
        eff = walk[-1][1]
        if ts > eff:
            raise ValueError(
                f"{self.root}: timestamp {ts} is after the latest commit "
                f"({eff}); use read()/snapshot() without a timestamp for "
                "the current version"
            )
        return self.snapshot(at_or_before[-1])

    def detail(self) -> dict:
        """Delta ``DESCRIBE DETAIL``, from manifest metadata alone (no
        file I/O): file count, row count (from the per-file
        ``__num_rows__`` stats; None when any live file predates row
        counting), current version/op, constraint names."""
        snap = self.snapshot()
        counts = [
            (snap.stats or {}).get(f, {}).get("__num_rows__")
            for f in snap.files
        ]
        dead = sum(e[1] for e in (snap.dv or {}).values())
        return {
            "version": snap.version,
            "op": snap.op,
            "num_files": len(snap.files),
            # LIVE rows: physical rows minus soft-deleted (dv) rows
            "num_rows": (
                sum(counts) - dead
                if all(c is not None for c in counts)
                else None
            ),
            "num_deletion_vectors": len(snap.dv or {}),
            "constraints": sorted(snap.constraints or {}),
            "properties": dict(snap.properties or {}),
            # column mapping state (RENAME/DROP COLUMN): {logical:
            # physical} plus retired physical names
            "column_mapping": dict(snap.column_mapping or {}),
            "dropped_physical": list(snap.dropped_physical or ()),
            # declared partition columns (Delta's partitionColumns)
            "partition_by": list(snap.partition_by or ()),
            # the last commit's audit counts (Delta operationMetrics)
            "operation_metrics": dict(snap.metrics or {}),
        }

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        merge_schema: bool = False,
        timestamp: float | None = None,
    ) -> DataFrame:
        """Read a snapshot (default: current; ``version`` = VERSION AS
        OF; ``timestamp`` = TIMESTAMP AS OF, newest commit <= ts). The
        file list is resolved ONCE from the manifest — concurrent
        commits/compactions/vacuums of later versions cannot tear this
        read.

        The plan comes from the manifest: the recorded schema is the
        union of every column the snapshot's appends added, so an
        evolved table reads null-padded with no footer read and no
        Spark job, whatever ``merge_schema`` says. Only a manifest
        without a recorded schema (legacy, or type-evolved) reads
        footers: ``merge_schema=True`` unions every listed file's, the
        default sniffs one.

        Deletion vectors are honored transparently: rows a
        merge-on-read delete soft-removed are anti-joined out (a
        broadcast of the small dead set) — zero overhead when the
        snapshot has no dv entries. Time travel composes: each
        snapshot's own dv map applies.

        A snapshot with no files (a rewrite removed every row) reads as
        an empty frame of its recorded schema; without a recorded schema
        it raises ``FileNotFoundError``."""
        if timestamp is not None and version is not None:
            raise ValueError("read: pass version OR timestamp, not both")
        snap = (
            self.snapshot_at_timestamp(timestamp)
            if timestamp is not None
            else self.snapshot(version)
        )
        if not snap.files:
            if snap.schema:
                return spark.createDataFrame(
                    [], ", ".join(f"`{n}` {t}" for n, t in snap.schema)
                )
            raise FileNotFoundError(f"{self.root}: snapshot v{snap.version} is empty")
        # a column-mapped table's log schema + mapping translate renamed
        # columns and project dropped physicals away
        df = self._read_files(
            spark,
            snap.files,
            schema=snap.schema,
            mapping=dict(snap.column_mapping or {}),
            merge_schema=merge_schema,
        )
        return self._apply_dv(spark, df, snap.files, snap.dv)

    def process_changes(
        self,
        spark: SparkSession,
        checkpoint: str,
        handle,
        ignore_deletes: bool = False,
        skip_change_commits: bool = False,
    ) -> int | None:
        """Incremental consumer over this table: feed every not-yet-seen
        version's delta to ``handle(df, until_version)``, then advance an
        atomically-swapped checkpoint file — the downstream half of the
        change-data-feed story (a consumer re-run costs one version resolution
        when nothing changed). Delivery is at-least-once across crashes
        (handle ran, checkpoint not yet written); pass the supplied
        version as a batch id into an idempotent sink — e.g.
        ``downstream.commit_batch(df, batch_id=version)`` — to get
        exactly-once end to end. Returns the newly-recorded version, or
        None when there was nothing to process.

        ``ignore_deletes`` / ``skip_change_commits`` are the stream
        source's delete-tolerance opt-outs (see :meth:`read_changes`) —
        without them one row-removing commit permanently wedges the
        consumer at its checkpoint."""
        reader = lambda spark, since_version, until_version: (  # noqa: E731
            self.read_changes(
                spark,
                since_version,
                until_version,
                ignore_deletes=ignore_deletes,
                skip_change_commits=skip_change_commits,
            )
        )
        return self._process_with(spark, checkpoint, handle, reader)

    def _process_with(
        self, spark: SparkSession, checkpoint: str, handle, reader
    ) -> int | None:
        """Shared checkpoint protocol behind :meth:`process_changes` /
        :meth:`process_changes_cdf`: read-or-default the checkpoint,
        idle-exit, feed ``reader(spark, since, until)``'s frame to
        ``handle``, then advance via atomic tmp-write + ``os.replace``
        — one implementation so a protocol fix cannot silently diverge
        between the two consumers. A missing checkpoint starts from the
        first version. One that does not parse, or that is past the
        table's current version, raises: replaying the whole feed
        would hand the consumer every row again as new, and idling
        would never deliver another change."""
        ck = Path(checkpoint)
        try:
            text = ck.read_text()
        except FileNotFoundError:
            text = "-1"
        try:
            last = int(text.strip())
        except ValueError:
            raise ValueError(
                f"{self.root}: consumer checkpoint {ck} holds {text!r}, "
                "not a table version; restore it or delete it to replay "
                "the whole feed"
            ) from None
        cur = self.current_version()
        if last > (-1 if cur is None else cur):
            raise ValueError(
                f"{self.root}: consumer checkpoint {ck} is at version "
                f"{last}, past the table's current version {cur}; it "
                "belongs to another table or to a recreated one"
            )
        if cur is None or cur <= last:
            return None
        handle(reader(spark, since_version=last, until_version=cur), cur)
        ck.parent.mkdir(parents=True, exist_ok=True)
        tmp = ck.with_name(f".{ck.name}.{uuid.uuid4().hex}")
        tmp.write_text(str(cur))
        os.replace(tmp, ck)
        return cur

    def process_changes_cdf(
        self,
        spark: SparkSession,
        checkpoint: str,
        handle,
    ) -> int | None:
        """Incremental CDF consumer: feed every not-yet-seen version's
        FULL change feed (``read_changes_cdf`` — inserts, deletes,
        update pre/post images, ``_commit_version``/``_commit_timestamp``
        columns) to ``handle(df, until_version)``, then advance an
        atomically-swapped checkpoint file. The mutation-aware twin of
        :meth:`process_changes`: that one refuses to cross row-removing
        commits; this one replays them, so a downstream mirror applying
        deletes/updates stays exact. Delivery is at-least-once across
        crashes; pass the supplied version as a batch id into an
        idempotent sink for exactly-once end to end. Returns the
        newly-recorded version, or None when nothing changed.

        Run it at least as often as vacuum retention: the replay reads
        the kept window's replay inputs (pinned by vacuum while their
        manifests are retained — the same CDF-availability window Delta
        documents)."""
        return self._process_with(
            spark, checkpoint, handle, self.read_changes_cdf
        )

    def read_changes(
        self,
        spark: SparkSession,
        since_version: int,
        until_version: int | None = None,
        merge_schema: bool = False,
        ignore_deletes: bool = False,
        skip_change_commits: bool = False,
        allow_schema_change: bool = False,
    ) -> DataFrame:
        """Change data feed: rows ADDED after ``since_version`` up to and
        including ``until_version`` (default: current) — the incremental-
        consumer shape (downstream jobs read only the delta instead of
        diffing full snapshots). Because data files are immutable and
        appends only ever add files, the delta is exactly the files the
        appends added: the insert artifacts of
        :func:`change_plan.change_plan` (``inserts_only``), planned from
        the raw manifests with no row diffing at any scale.

        ``compact``/``optimize`` snapshots rewrite files without changing
        rows and are skipped; an ``overwrite`` in the range invalidates
        append-only lineage and raises (same contract as Delta's CDF
        without update/delete vectors). ``ignore_deletes`` /
        ``skip_change_commits`` are Delta's stream-source opt-outs; the
        planner's ``_inserts_skip`` states their exact semantics.

        On a column-mapped table (RENAME/DROP COLUMN established at or
        before the range) the added files are read via the recorded
        logical schema + mapping, so the feed serves LOGICAL column
        names like every other read path (ADVICE r10: the raw parquet
        read served physical names), exact because physical slots are
        never reused, so the end mapping resolves every file ever
        written. A rename/drop INSIDE the range that moves or drops a
        column of the ``since_version`` schema (the columns the consumer
        has been served) raises "schema change" by default; a range from
        -1 has served none, so it only needs every until-version column
        to keep its slot. ``allow_schema_change=True`` serves the whole
        range under the UNTIL-version schema regardless."""
        until = self.current_version() if until_version is None else until_version
        if until is None:
            raise FileNotFoundError(f"{self.root}: no committed snapshot")
        # the columns the consumer has been served: a rename/drop in the
        # range that moves or drops one refuses. A range from -1 has
        # served none; a vacuumed or schemaless start manifest leaves the
        # planner's default, the until-version schema.
        served = None
        if 0 <= since_version < until:
            try:
                served = self._raw_manifest(since_version).get("schema")
            except OSError:
                pass
        plan = _plan.change_plan(
            self,
            since_version,
            until,
            [n for n, _ in served] if served else None,
            inserts_only=True,
            ignore_deletes=ignore_deletes,
            skip_change_commits=skip_change_commits,
            allow_schema_change=allow_schema_change,
        )
        if not plan:
            return self._snapshot_frame_or_empty(
                spark, until, merge_schema=merge_schema
            ).limit(0)
        # the plan refused any in-range rename/drop it did not skip, so
        # the until-version schema and mapping resolve every served file
        # (physical names never change once written)
        end = self._raw_manifest(until)
        files = [a["path"] for a in plan]
        out = self._read_files(
            spark,
            files,
            schema=end.get("schema"),
            mapping=dict(end.get("column_mapping") or {}),
            merge_schema=merge_schema,
        )
        # the tolerance flags let deletes land INSIDE the range: each
        # file's mask is the frozen positions of the in-range deletes
        # that touched it, so no retired row is served as a live insert.
        # Rows of files an in-range rewrite retired keep their
        # pre-rewrite values: the divergence these flags opt into.
        return self._mask_rows(
            spark, out, {a["path"]: a["mask"] for a in plan if a["mask"]}
        )

    def _snapshot_frame_or_empty(
        self,
        spark: SparkSession,
        version: int,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Snapshot ``version``'s rows; zero columns and rows when it has
        no files and no recorded schema (a changeless feed over an
        emptied legacy table must return empty, not raise). The
        empty-feed base both change readers share."""
        snap = self.snapshot(version)
        if snap.files or snap.schema:
            return self.read(spark, version, merge_schema=merge_schema)
        return spark.range(0).drop("id")

    def read_changes_cdf(
        self,
        spark: SparkSession,
        since_version: int,
        until_version: int | None = None,
    ) -> DataFrame:
        """Delta-shaped change data feed WITH delete and update replay:
        every row change in ``(since_version, until_version]`` tagged
        with ``_change_type`` (``insert`` | ``delete`` |
        ``update_preimage`` | ``update_postimage``), ``_commit_version``
        and ``_commit_timestamp`` (the manifest's commit ts) — the
        reader downstream CDC consumers use when the table mutates,
        where the insert-only :meth:`read_changes` must refuse.

        What each commit replays, and which commits refuse, is decided
        by :func:`change_plan.change_plan`, the planner the
        ``readChangeFeed`` stream serves as well. This method builds
        Spark frames from its artifacts: one read per version and
        artifact group, each under the schema and mapping its commit
        recorded (an evolution-added predicate column no removed file
        contains evaluates as NULL), unioned by name so schema
        evolution across the range reads null-padded. Only this reader
        serves ``derive`` artifacts: a copy-on-write update without
        change data (which refuses non-deterministic expressions) or a
        legacy delete without a frozen sidecar, re-derived from the
        recorded predicate and SET projection.

        O(changed files) metadata + one scan over exactly the changed
        files."""
        until = (
            self.current_version() if until_version is None else until_version
        )
        if until is None:
            raise FileNotFoundError(f"{self.root}: no committed snapshot")
        parts: list[DataFrame] = []
        for (v, kind, ctype), group in itertools.groupby(
            _plan.change_plan(self, since_version, until),
            key=lambda a: (a["version"], a["kind"], a["ctype"]),
        ):
            arts = list(group)
            a, files = arts[0], [x["path"] for x in arts]
            sch, mp = a["schema"], a["mapping"]
            if kind == "cdc":  # logical names, plus its own _change_type
                sch, mp = sch and [*sch, ["_change_type", "string"]], None
            rows = self._read_files(spark, files, schema=sch, mapping=mp)
            if a.get("frozen"):
                # exactly the positions the commit froze: a semi-join,
                # nothing re-evaluated, and no prior mask (they were
                # frozen over then-live rows). No broadcast hint: a
                # copy-on-write delete freezes its full matched set.
                pos = self._read_positions(spark, a["frozen"]).selectExpr(
                    "file AS __dv_file__", "pos AS __dv_pos__"
                )
                rows = (
                    self._tag_dv_cols(rows)
                    .join(pos, ["__dv_file__", "__dv_pos__"], "left_semi")
                    .drop("__dv_file__", "__dv_pos__")
                )
            elif kind != "cdc":
                # rows soft-deleted before the commit were not part of
                # the table, so it did not change them
                rows = self._mask_rows(
                    spark, rows, {x["path"]: x["mask"] for x in arts if x["mask"]}
                )
            for c, vals in (a.get("where") or {}).items():
                rows = rows.filter(F_col(c).isin(*vals))
            if a.get("predicate"):
                rows = rows.filter(F_expr(a["predicate"]))
            frames = [(rows, ctype)]
            if a.get("sets"):
                frames.append(
                    (
                        rows.select(*_set_projection(rows, a["sets"])),
                        "update_postimage",
                    )
                )
            stamp = {
                "_commit_version": F_lit(v),
                "_commit_timestamp": F_lit(a["ts"]).cast("timestamp"),
            }
            for df, ct in frames:
                # one projection per part (a cdc file keeps its own type)
                parts.append(
                    df.withColumns(
                        stamp if ct is None
                        else {"_change_type": F_lit(ct), **stamp}
                    )
                )
        if not parts:
            return (
                self._snapshot_frame_or_empty(spark, until)
                .withColumns(
                    {
                        "_change_type": F_lit(""),
                        "_commit_version": F_lit(0),
                        "_commit_timestamp": F_lit(0.0).cast("timestamp"),
                    }
                )
                .limit(0)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out
