"""Crash points of the snapshot table's commit protocol.

Every mutating op below runs against every failure point of one commit:

- ``before_manifest``: the writer dies before any manifest byte exists;
- ``manifest_torn``: it dies with the manifest partly written;
- ``manifest_unpublished``: it dies with the manifest complete but not
  yet visible;
- ``hint_unwritten``: the version is published, then the ``_current``
  hint write fails;
- ``checkpoint``: the version is published, then the checkpoint write
  fails (``checkpoint_every=1``, so this commit writes one).

The three pre-publish points are kills: the fault is a ``BaseException``
and the op's own failure cleanup (``_drop_uuid_dirs``) is a no-op, as it
would be for a dead process. The two post-publish points are I/O
errors a live writer sees.

In every cell a fresh handle reads exactly the old version or the new
one, no published manifest references a missing file, a grace-0 vacuum
leaves the current read unchanged and reclaims the dead writer's
leftovers, and the next commit succeeds.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import pytest

from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable


class Killed(BaseException):
    """The writer process died here: no cleanup runs after it."""


BASE = [(k, k % 2, k * 10) for k in range(8)]


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, p long, v long")


def _rows(spark, table):
    return sorted(tuple(r) for r in table.read(spark).select("k", "p", "v").collect())


# op -> (partition_by, run(table, spark), the rows it commits from BASE)
OPS = {
    "append": (
        None,
        lambda t, s: t.append(_kv(s, [(100, 0, 1000)])),
        sorted(BASE + [(100, 0, 1000)]),
    ),
    "overwrite_partitions": (
        ["p"],
        lambda t, s: t.overwrite_partitions(s, _kv(s, [(100, 0, 1000)])),
        sorted([r for r in BASE if r[1] != 0] + [(100, 0, 1000)]),
    ),
    "delete_mor": (
        None,
        lambda t, s: t.delete(s, "k < 3", mode="merge-on-read"),
        [r for r in BASE if r[0] >= 3],
    ),
    "merge_cdf": (
        None,
        lambda t, s: t.merge(
            s, _kv(s, [(1, 1, 11), (200, 0, 2000)]), ["k"], change_data=True
        ),
        sorted([r for r in BASE if r[0] != 1] + [(1, 1, 11), (200, 0, 2000)]),
    ),
    "optimize": (
        None,
        lambda t, s: t.optimize(s, ["k", "v"], target_files=1),
        sorted(BASE),
    ),
}

PRE_PUBLISH = ("before_manifest", "manifest_torn", "manifest_unpublished")
POST_PUBLISH = ("hint_unwritten", "checkpoint")


def _is_manifest(obj) -> bool:
    return isinstance(obj, dict) and {"version", "op", "parent"} <= obj.keys()


def _inject(monkeypatch, point: str) -> None:
    """Arm the fault for ``point`` on the I/O primitives the commit uses."""
    if point in PRE_PUBLISH:
        real_dump = json.dump

        def dump(obj, fp, *a, **kw):
            if not _is_manifest(obj):
                return real_dump(obj, fp, *a, **kw)
            text = json.dumps(obj, *a, **kw)
            if point == "manifest_torn":
                fp.write(text[: len(text) // 2])
            elif point == "manifest_unpublished":
                fp.write(text)
            raise Killed(point)

        monkeypatch.setattr(json, "dump", dump)
        monkeypatch.setattr(SnapshotTable, "_drop_uuid_dirs", lambda self, rels: None)
        return
    real_replace = os.replace
    if point == "hint_unwritten":
        def failing(dst):
            return Path(dst).name == "_current"
    else:
        monkeypatch.setattr(SnapshotTable, "checkpoint_every", 1)

        def failing(dst):
            name = Path(dst).name
            return name.startswith("c") and name.endswith(".json")

    def replace(src, dst, *a, **kw):
        if failing(dst):
            raise OSError(28, "No space left on device", str(dst))
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(os, "replace", replace)


def _assert_no_dangling(table: SnapshotTable) -> None:
    """Every file a published manifest references exists: data files,
    change-data files and deletion-vector sidecars."""
    for snap in table.history():
        raw = table._raw_manifest(snap.version)
        refs = list(snap.files) + list(raw.get("cdc_files", []))
        refs += [e[0] for e in (snap.dv or {}).values() if e]
        missing = [f for f in refs if not (table.root / f).exists()]
        assert not missing, (snap.version, missing)


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """One two-version base table per op (v0 and v1 each add four rows
    as separate files), built once and copied into every cell."""
    root = tmp_path_factory.mktemp("commit_protocol_bases")
    for op, (partition_by, _run, _want) in OPS.items():
        t = SnapshotTable(str(root / op), partition_by=partition_by)
        t.append(_kv(spark, BASE[:4]))
        t.append(_kv(spark, BASE[4:]))
    return root


@pytest.mark.parametrize("point", PRE_PUBLISH + POST_PUBLISH)
@pytest.mark.parametrize("op", list(OPS))
def test_crash_point_leaves_old_or_new_version(
    spark, bases, tmp_path, monkeypatch, op, point
):
    partition_by, run, new_rows = OPS[op]
    root = tmp_path / "t"
    shutil.copytree(bases / op, root)
    table = SnapshotTable(str(root), partition_by=partition_by)
    old_v = table.current_version()
    old_rows = _rows(spark, table)
    assert old_rows == sorted(BASE)

    with monkeypatch.context() as m:
        _inject(m, point)
        if point in PRE_PUBLISH:
            with pytest.raises(Killed):
                run(table, spark)
        else:
            # the version is published: a failed derived write after it
            # is not the caller's failure
            assert run(table, spark).version == old_v + 1

    want_v, want_rows = (
        (old_v, old_rows) if point in PRE_PUBLISH else (old_v + 1, new_rows)
    )
    fresh = SnapshotTable(str(root))
    assert fresh.current_version() == want_v
    assert _rows(spark, fresh) == want_rows
    _assert_no_dangling(fresh)

    fresh.vacuum(grace_seconds=0.0)
    assert _rows(spark, fresh) == want_rows
    _assert_no_dangling(fresh)
    leftovers = [p.name for p in fresh.manifest_dir.iterdir() if p.name.startswith(".")]
    assert leftovers == [], leftovers

    if point in PRE_PUBLISH:
        # the dead writer's retry takes the same version
        assert run(table, spark).version == old_v + 1
        assert _rows(spark, SnapshotTable(str(root))) == new_rows
    else:
        assert table.append(_kv(spark, [(300, 1, 3000)])).version == old_v + 2
        assert _rows(spark, SnapshotTable(str(root))) == sorted(
            new_rows + [(300, 1, 3000)]
        )
    _assert_no_dangling(SnapshotTable(str(root)))


def test_old_protocol_manifest_above_hint_is_committed(spark, tmp_path):
    """A table written by the older pointer-swap protocol can hold a
    valid manifest above ``_current`` (its writer died before the swap).
    The log is the truth: it reads as committed at once, for version and
    timestamp reads alike, and the next commit builds on it. A hint that
    is missing or names a vacuumed version falls back to the listing."""
    table = SnapshotTable(str(tmp_path / "t"))
    table.append(_kv(spark, BASE[:4]))
    table.append(_kv(spark, BASE[4:]))
    table._hint().write_text("0")
    fresh = SnapshotTable(str(table.root))
    assert fresh.current_version() == 1
    assert _rows(spark, fresh) == sorted(BASE)
    assert [s.version for s in fresh.history()] == [0, 1]
    assert fresh.snapshot_at_timestamp(fresh.snapshot(1).ts).version == 1
    assert fresh.append(_kv(spark, [(100, 0, 1000)])).version == 2

    fresh.vacuum(grace_seconds=0.0)
    assert not fresh._manifest_path(0).exists()
    table._hint().write_text("0")
    assert SnapshotTable(str(table.root)).current_version() == 2
    table._hint().unlink()
    assert SnapshotTable(str(table.root)).current_version() == 2


def test_torn_manifest_names_its_file(spark, tmp_path):
    """Only an older-protocol writer killed mid-write can leave a torn
    manifest. Reading it fails loudly, naming the file and the version,
    not with a bare JSON error; removing the file recovers the table."""
    table = SnapshotTable(str(tmp_path / "t"))
    table.append(_kv(spark, BASE[:4]))
    torn = table._manifest_path(1)
    torn.write_text('{"version": 1, "fi')
    with pytest.raises(ValueError, match=r"manifest v1 .*v00000001\.json") as info:
        table.read(spark)
    assert not isinstance(info.value, json.JSONDecodeError)
    torn.unlink()
    assert table.append(_kv(spark, BASE[4:])).version == 1
    assert _rows(spark, table) == sorted(BASE)
