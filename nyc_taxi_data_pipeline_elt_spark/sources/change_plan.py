"""The change-feed planner: one reading of a snapshot table's log that
every change feed replays.

``change_plan(table, since, until)`` walks the raw manifests of
``(since, until]`` once and returns the ordered replay artifacts: which
table file to read and how its rows become change rows.
``SnapshotTable.read_changes_cdf`` builds Spark frames from the plan;
the ``readChangeFeed`` stream (``snapshot_datasource``) packs the same
plan into partitions and serves each artifact with pyarrow. With
``inserts_only`` the same walk plans the insert-only feed
(``SnapshotTable.read_changes`` / ``process_changes`` and the
insert-only stream): only the insert artifacts of appends, under the
tolerance flags. The per-op replay rules, the skips and the refusals
live only here, so the readers serve the same rows and refuse the same
versions for the same reason. Pure Python: no pyspark import, no data
read.

An artifact is a dict:

- ``kind``: ``"cdc"``, a change-data file served verbatim (it carries
  its own ``_change_type``); ``"rows"``, a data file's rows minus
  ``mask``, kept where the ``where`` partition predicate holds;
  ``"frozen"``, the rows at the positions the commit froze in its
  ``frozen`` sidecars; ``"derive"``, rows only Spark can re-derive: the
  frozen positions, else the rows minus ``mask`` that match the SQL
  ``predicate`` — and, with ``sets``, also their SET projection as
  ``update_postimage``. The stream refuses a derive with its ``why``.
- ``path``: the table file (root-relative, or absolute for a clone's
  source references); ``bytes``: its size.
- ``version``, ``ts``: the commit; ``ctype``: the ``_change_type`` its
  rows get (None for ``cdc``).
- ``mask``: the position sidecars whose rows the file's read drops — its
  deletion-vector entry as of the commit's parent; for the insert-only
  feed, the frozen positions of the in-range deletes that touched it.
- ``schema`` / ``mapping``: the commit's recorded (name, type) list and
  column mapping, under which the file is read.
"""

from __future__ import annotations

import os

#: Commits that change no row: every change feed skips them.
ROW_NEUTRAL = frozenset(
    {
        "compact",
        "optimize",
        "add_constraint",
        "drop_constraint",
        "set_property",
        "unset_property",
    }
)

#: Column-mapping commits: row-neutral, but a schema change.
MAPPING_OPS = ("rename_column", "drop_column")

#: Commits that change rows: the insert-only feed's
#: ``skip_change_commits`` skips every one of them.
ROW_CHANGING = ("delete", "update", "merge", "replace", "overwrite_partitions")

_FULL = "read the full snapshot instead"
_ENABLE = (
    "set 'delta.enableChangeDataFeed' = 'true' (or pass change_data=True)"
    " so later commits record their change data"
)
_BATCH = (
    "read this version in batch with SnapshotTable.read_changes_cdf, "
    "which derives it"
)


def refusal(root, v: int, why: str) -> ValueError:
    """The change feed's one refusal: which version cannot be replayed,
    why, and what helps."""
    return ValueError(f"{root}: change feed cannot replay version {v}: {why}")


def dv_new_list(value) -> list[str]:
    """Normalize a manifest's ``dv_new`` record to a rel-path list: a
    merge-on-read freeze (and a single-file COW freeze) records the
    plain string older manifests used; a sharded copy-on-write freeze
    records the file LIST (``_write_dv(single=False)``). Falsy →
    empty."""
    if not value:
        return []
    return [value] if isinstance(value, str) else list(value)


def file_bytes(root, stats: dict, rel: str) -> int:
    """Bytes of table file ``rel``: the manifest's ``__size_bytes__``
    stat (recorded at write — Delta's AddFile.size), else one os.stat;
    0 when the file is gone."""
    b = (stats.get(rel) or {}).get("__size_bytes__")
    if b is None:
        try:
            b = os.stat(str(root / rel)).st_size
        except OSError:
            b = 0
    return int(b)


def added_by(table, raw: dict) -> list[str]:
    """The data files commit ``raw`` added: a delta manifest's ``add``,
    every file of an inline v0, and for a legacy inline manifest at
    v>0 the diff against its parent (its full list would replay every
    carried row as new; only this rare shape pays the chain walk)."""
    if "add" in raw:
        return raw["add"]
    if raw.get("parent") is None:
        return raw.get("files", [])
    parent = set(table.snapshot(raw["parent"]).files)
    return [f for f in raw.get("files", []) if f not in parent]


def mapping_consistent(table, since: int, declared, end_mapping, end_schema):
    """True when the ``declared`` columns still MEAN the same thing
    across ``(since, end]``: every declared name exists in the range-end
    logical schema AND resolves to the same physical slot as at the
    range start. The start-version mapping is what every row already
    delivered was served under, so the check survives reader restarts
    (a name-preserving 3-rename column SWAP changes meanings without
    changing names). A fresh range (since=-1) compares the end against
    itself: mapping history before it never blocks it."""
    if end_schema is None:
        return True
    declared = set(declared)
    if not declared <= {n for n, _ in end_schema}:
        return False
    start = end_mapping
    if since >= 0:
        try:
            raw = table._raw_manifest(since)
            start = dict(raw.get("column_mapping") or {})
        except (OSError, KeyError):
            pass
    return all(end_mapping.get(c, c) == start.get(c, c) for c in declared)


def change_plan(
    table,
    since: int,
    until: int,
    declared=None,
    *,
    inserts_only: bool = False,
    ignore_deletes: bool = False,
    skip_change_commits: bool = False,
    allow_schema_change: bool = False,
) -> list[dict]:
    """The replay artifacts of every row change in ``(since, until]``,
    in version order (see the module docstring for their shape).

    Row-neutral commits are skipped. A rename/drop column is a schema
    change: each version replays under its own logical names, so rows
    before and after it would misalign. A LEADING one that keeps every
    ``declared`` column (default: the until-version schema) in its
    physical slot is skipped; any other raises "schema change". A
    commit whose row changes have no replay input raises
    :func:`refusal`, saying what helps.

    ``inserts_only`` plans the insert-only feed: the insert artifacts of
    the appends (and of a clone's v0), with the skips and refusals of
    :func:`_inserts_skip` and the masks of :func:`_mask_deletes`. Its
    readers read every file under the until-version schema, so a
    rename/drop anywhere in the range is skipped when the ``declared``
    columns (the ones the consumer has been served) keep their physical
    slots across the range, or with ``allow_schema_change``; otherwise
    it raises "schema change"."""
    end = table._raw_manifest(until)
    end_mapping = dict(end.get("column_mapping") or {})
    end_schema = end.get("schema")
    if declared is None:
        declared = [n for n, _ in end_schema or ()]
    plan: list[dict] = []
    # the served files no commit has removed yet (the insert-only feed
    # masks them by later deletes)
    live: dict[str, dict] = {}
    # where the drain advised by the schema-change refusal starts: past
    # any leading mapping commit this walk skipped
    resume = since
    prev = None
    for v in range(since + 1, until + 1):
        raw = end if v == until else table._raw_manifest(v)
        parent, prev = prev, raw
        op = raw["op"]
        if inserts_only:
            _mask_deletes(live, raw)
        if op in ROW_NEUTRAL:
            continue
        if op in MAPPING_OPS:
            if inserts_only:
                if allow_schema_change or mapping_consistent(
                    table, since, declared, end_mapping, end_schema
                ):
                    continue
                raise ValueError(
                    f"{table.root}: change feed crosses a column-mapping "
                    f"schema change at v{v} (op={op!r}) that moves or "
                    "drops a served column; ignoreDeletes/"
                    "skipChangeCommits do not skip a schema change — "
                    f"restart the feed from version {v + 1} or later (a "
                    "stream: a new checkpoint with that startingVersion), "
                    "or in batch read under the current schema "
                    "(read_changes(allow_schema_change=True))"
                )
            if not plan and mapping_consistent(
                table, since, declared, end_mapping, end_schema
            ):
                resume = v
                continue
            raise ValueError(
                f"{table.root}: change feed crosses a column-mapping "
                f"schema change at version {v} (op={op!r}); change rows "
                "on either side of it carry different column names. "
                "Read the rows before it with read_changes_cdf("
                f"since_version={resume}, until_version={v - 1}), then "
                f"resume after it: read_changes_cdf(since_version={v}), "
                f"or a stream with a new checkpoint and startingVersion "
                f"{v + 1}"
            )
        if inserts_only and _inserts_skip(
            table, v, raw, parent, ignore_deletes, skip_change_commits
        ):
            continue
        arts = _version_artifacts(table, v, raw)
        if inserts_only:
            live.update((a["path"], a) for a in arts)
        plan += arts
    return plan


def _inserts_skip(
    table, v: int, raw: dict, parent, ignore_deletes, skip_change_commits
) -> bool:
    """Whether the insert-only feed skips commit ``raw`` (neither
    row-neutral nor a mapping op); raises when it can neither skip the
    commit nor serve its rows as new (Delta's change feed without
    update/delete vectors).

    Skipped: a delete/update that changed no row; with
    ``skip_change_commits`` (Delta's ``skipChangeCommits``) every
    row-changing commit, accepting that deleted/updated rows diverge
    downstream; with ``ignore_deletes`` (Delta's ``ignoreDeletes``) a
    delete that added no file — a merge-on-read soft delete, or a
    copy-on-write delete whose every touched file died whole. A delete
    that rewrote survivors into new files still refuses (serving them
    would duplicate rows), as does any other non-append (overwrite,
    restore, merge, update) and a clone carrying deletion vectors, whose
    added rows a plain file read cannot express."""
    op = raw["op"]
    if op in ("delete", "update") and _changes_no_row(table, raw, parent):
        return True
    if skip_change_commits and op in ROW_CHANGING:
        return True
    if ignore_deletes and op == "delete" and not added_by(table, raw):
        return True
    if op == "clone" and raw.get("dv"):
        raise ValueError(
            f"{table.root}: clone snapshot v{v} carries deletion vectors; "
            "read_changes_cdf is the reader that honors them"
        )
    if op not in ("append", "clone"):
        hint = (
            "; a remove-only delete can be skipped with ignoreDeletes, "
            "any row-changing commit with skipChangeCommits (accepting "
            "divergence), or read the full snapshot / read_changes_cdf "
            "instead"
            if op in ROW_CHANGING
            else "; read the full snapshot instead"
        )
        raise ValueError(
            f"{table.root}: change feed crosses non-append snapshot "
            f"v{v} (op={op!r}){hint}"
        )
    return False


def _changes_no_row(table, raw: dict, parent) -> bool:
    """A delete/update whose stats pruning touched no file and that grew
    no deletion vector (a merge-on-read delete changes rows without
    changing the file set). ``parent``: the parent's raw manifest, or
    None to read it."""
    if raw.get("parent") is None:
        return False
    if parent is None:
        parent = table._raw_manifest(raw["parent"])
    if "add" in raw:
        same = not raw["add"] and not raw["remove"]
    else:  # a legacy inline manifest lists its whole file set
        same = set(raw.get("files", [])) == set(
            table.snapshot(raw["parent"]).files
        )
    return same and (raw.get("dv") or {}) == (parent.get("dv") or {})


def _mask_deletes(live: dict, raw: dict) -> None:
    """Insert-only feed: add a DELETE commit's frozen ``dv_new`` sidecars
    to the mask of every served file it touched, then retire the files
    the commit removed, so later commits add nothing to their masks.
    The per-delete sidecars are the exact death set: the consolidated
    ``dv`` entry also folds in merge-on-read UPDATE pre-images (masking
    those would vanish rows whose post-images ride a skipped commit)
    and drops when a rewrite retires the file. A sidecar-less legacy
    delete falls back to its consolidated entry (such manifests predate
    merge-on-read updates). A file's sidecars are its whole in-range
    death set, so a fully dead file serves no row."""
    if raw["op"] == "delete":
        frozen = dv_new_list(raw.get("dv_new"))
        dv = raw.get("dv") or {}
        touched = set(raw.get("dv_touched") or ()) | set(
            raw.get("remove") or ()
        )
        for f in touched & live.keys():
            if frozen:
                live[f]["mask"] = live[f]["mask"] + frozen
            elif dv.get(f):
                live[f]["mask"] = [dv[f][0]]
    for f in raw.get("remove") or ():
        live.pop(f, None)


def _version_artifacts(table, v: int, raw: dict) -> list[dict]:
    """The replay artifacts of one (not row-neutral) commit."""
    op = raw["op"]
    stats = raw.get("stats_add") or raw.get("stats") or {}
    commit = {
        "version": v,
        "ts": float(raw.get("ts", 0.0)),
        "schema": raw.get("schema"),
        "mapping": dict(raw.get("column_mapping") or {}),
    }

    def art(kind, rel, ctype, mask=None, **rule) -> dict:
        return {
            "kind": kind,
            "path": rel,
            "bytes": file_bytes(table.root, stats, rel),
            "ctype": ctype,
            "mask": [mask[0]] if mask else [],
            **commit,
            **rule,
        }

    if "cdc_files" in raw:
        # explicit change data (merge, or update under change data):
        # authoritative, written in logical names; empty = no changes
        return [art("cdc", f, None) for f in raw["cdc_files"]]
    if op in ("append", "clone"):
        # a clone's v0 is inline: every referenced row is new to this
        # table, minus the source's soft deletes it carried
        carried = (raw.get("dv") or {}) if op == "clone" else {}
        return [
            art("rows", f, "insert", carried.get(f))
            for f in added_by(table, raw)
        ]
    if op in ("replace", "overwrite_partitions"):
        where, repl = raw.get("replace_predicate"), raw.get("replace_added")
        if repl is None or (op == "replace" and where is None):
            raise refusal(
                table.root,
                v,
                f"{op} recorded no replayable predicate; {_FULL}",
            )
        # the removed files' live rows that matched the predicate are
        # the deletes; overwrite_partitions removes files by exact
        # partition membership, so every live row of one was replaced.
        # The rewritten remainder's rows are carried copies, not changes.
        prior = raw.get("dv_removed") or {}
        return [
            art("rows", f, "delete", prior.get(f), where=where)
            for f in raw.get("remove", [])
        ] + [art("rows", f, "insert") for f in repl]
    if op in ("delete", "update"):
        return _row_dml_artifacts(table, v, raw, art)
    if op == "merge":
        raise refusal(
            table.root,
            v,
            "change data was not recorded for this merge; "
            f"{_ENABLE}, or {_FULL}",
        )
    raise refusal(
        table.root,
        v,
        f"op={op!r}: its row changes are not replayable; {_FULL}",
    )


def _row_dml_artifacts(table, v: int, raw: dict, art) -> list[dict]:
    """Delete/update: pre-images from the affected files (the positions
    the commit froze, else the rows the recorded predicate selects),
    post-images from the files the update added (else the recorded SET
    projection of the pre-images)."""
    op = raw["op"]
    mor = raw.get(f"{op}_mode") == "merge-on-read"
    affected = raw.get("dv_touched" if mor else "remove", [])
    frozen = dv_new_list(raw.get("dv_new"))
    post_by_set = op == "update" and raw.get("update_added") is None
    pre = "delete" if op == "delete" else "update_preimage"
    out: list[dict] = []
    if affected and frozen and not post_by_set:
        # the commit's single predicate evaluation: exact even for
        # non-deterministic predicates
        out = [art("frozen", f, pre, frozen=frozen) for f in affected]
    elif affected:
        predicate, sets = raw.get(f"{op}_predicate"), raw.get("update_set")
        if (predicate is None and not frozen) or (
            post_by_set and sets is None
        ):
            raise refusal(
                table.root, v, f"{op} recorded no predicate/SET; {_FULL}"
            )
        if frozen:
            why = (
                "change data was not recorded (legacy update whose "
                f"post-images were not materialized); {_BATCH}"
            )
        elif op == "update" and not mor:
            # copy-on-write update refuses non-deterministic
            # expressions, so the recorded ones re-derive its changes
            why = (
                "change data was not recorded for this copy-on-write "
                f"update; {_ENABLE}, and {_BATCH}"
            )
        else:
            why = (
                f"change data was not recorded (legacy {op} without a "
                f"frozen position sidecar); {_BATCH}"
            )
        prior = raw.get("dv_before" if mor else "dv_removed") or {}
        out = [
            art(
                "derive",
                f,
                pre,
                None if frozen else prior.get(f),
                frozen=frozen,
                predicate=None if frozen else predicate,
                sets=sets if post_by_set else None,
                why=why,
            )
            for f in affected
        ]
    return out + [
        art("rows", f, "update_postimage")
        for f in raw.get("update_added") or ()
    ]
