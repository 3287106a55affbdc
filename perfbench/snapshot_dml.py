"""snapshot_dml: the table-format layer under a mixed write/read cycle.

Every cycle starts from a fresh copy of the same seeded base table and
applies one fixed op sequence: append, merge with change data, delete and
update both copy-on-write and merge-on-read, OPTIMIZE ZORDER, then a
pruned reads through the ``snapshot_table`` Data Source, a full read, a
change-data-feed read and one ``availableNow`` change-feed stream replay.
A pandas model of the same op sequence gives the expected table after
every commit and the expected change-feed row counts.
"""

from __future__ import annotations

import math
import shutil
import statistics
from pathlib import Path

import numpy as np

from inputs import trips_frame, write_frame

BASE_ROWS = 40_000
BASE_FILES = 4


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _fingerprint(df) -> tuple:
    return (
        len(df),
        int(df["trip_id"].sum()),
        round(float(df["fare"].sum()), 2),
        int(df["passengers"].sum()),
        tuple(int((df["status"] == s).sum()) for s in ("ok", "disputed", "refunded", "adjusted")),
    )


class SnapshotDml:
    name = "snapshot_dml"

    def __init__(self, spark, work: Path, seed: int, scale: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n = max(2000, int(BASE_ROWS * scale))
        self.rec = None
        self.tracer = None
        self.layer: dict[str, list[float]] = {}

    # -- set-up -----------------------------------------------------------
    def setup(self, i: int) -> None:
        """Generate the base trips and the cycle's batches, and commit the
        base table."""
        from nyc_taxi_data_pipeline_elt_spark.sources.snapshot_datasource import (
            SnapshotDataSource,
        )
        from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable

        spark, n, seed = self.spark, self.n, self.seed
        base = self.work / f"setup{i}"
        shutil.rmtree(base, ignore_errors=True)
        self.model0 = trips_frame(seed, 0, n, stream=0)
        batch = trips_frame(seed, n, n // 20, stream=1)
        rng = np.random.default_rng([seed, 3])
        upd = self.model0.sample(n=n // 20, random_state=rng).copy()
        upd["fare"] = np.round(upd["fare"] + 2.5, 2)
        upd["status"] = "disputed"
        new = trips_frame(seed, n + n // 20, n // 80, stream=2)
        import pandas as pd

        source = pd.concat([upd, new], ignore_index=True)
        self.input_bytes = (
            write_frame(self.model0, base / "base.parquet")
            + write_frame(batch, base / "append.parquet")
            + write_frame(source, base / "merge.parquet")
        )
        self.input_rows = len(self.model0) + len(batch) + len(source)
        self.batch, self.source = batch, source
        table = SnapshotTable(str(base / "table"))
        table.append(
            spark.read.parquet(str(base / "base.parquet")).repartitionByRange(
                BASE_FILES, "trip_id"
            )
        )
        # every mutation then records its change rows, which the change-feed
        # stream needs
        table.set_property("delta.enableChangeDataFeed", "true")
        spark.dataSource.register(SnapshotDataSource)
        self.base = base
        self.base_bytes = _dir_bytes(base / "table")
        # id bands inside one base file each (files are ranges of trip_id),
        # so the copy-on-write delete, the merge-on-read update and the
        # Data Source read are stats-prunable
        self.del_band = (n * 15 // 100, n * 15 // 100 + n // 50)
        self.upd_band = (n * 70 // 100, n * 70 // 100 + n // 50)
        self.read_band = (n * 40 // 100, n * 40 // 100 + n // 30)

    def install(self, rec, tracer) -> None:
        from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable

        self.rec, self.tracer = rec, tracer
        if tracer is not None:
            for m in ("append", "merge", "update", "delete", "optimize", "read",
                      "read_changes_cdf"):
                tracer.wrap(SnapshotTable, m, f"sources.snapshots.{m}")

    # -- one cycle --------------------------------------------------------
    def cycle(self) -> None:
        from nyc_taxi_data_pipeline_elt_spark.sources.snapshots import SnapshotTable

        spark, rec = self.spark, self.rec
        root = self.work / "cycle"
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.base / "table", root / "table")
        t = SnapshotTable(str(root / "table"))
        v0 = t.current_version()
        model = self.model0.copy()
        cdf = {"insert": 0, "delete": 0, "update_preimage": 0, "update_postimage": 0}

        def commit(name: str, run, apply) -> bool:
            """One mutating op; ``apply`` updates the model and returns
            (rows changed, rows the op logically touched)."""
            nonlocal model
            before = self._files(t) if self.tracer else None
            with rec.op(name, "commit") as op:
                snap = run()
            if not op.ok:
                return False
            model, changed = apply(model)
            live = t.detail()["num_rows"]
            rec.check(op, changed > 0, f"{name} changed no rows")
            rec.check(op, live == len(model), f"{name}: {live} live rows != {len(model)}")
            if self.tracer:
                self._commit_stats(name, t, snap, before, changed)
            return op.ok

        a, b = self.del_band
        c, d = self.upd_band
        source_ids = set(self.source["trip_id"])

        def do_append(m):
            cdf["insert"] += len(self.batch)
            import pandas as pd

            return pd.concat([m, self.batch], ignore_index=True), len(self.batch)

        def do_merge(m):
            import pandas as pd

            hit = m["trip_id"].isin(source_ids)
            n_upd = int(hit.sum())
            n_ins = len(self.source) - n_upd
            cdf["update_preimage"] += n_upd
            cdf["update_postimage"] += n_upd
            cdf["insert"] += n_ins
            return pd.concat([m[~hit], self.source], ignore_index=True), n_upd + n_ins

        def do_delete(mask_fn):
            def apply(m):
                mask = mask_fn(m)
                cdf["delete"] += int(mask.sum())
                return m[~mask].reset_index(drop=True), int(mask.sum())
            return apply

        def do_update(mask_fn, col, fn):
            def apply(m):
                m = m.copy()
                mask = mask_fn(m)
                m.loc[mask, col] = fn(m.loc[mask, col])
                cdf["update_preimage"] += int(mask.sum())
                cdf["update_postimage"] += int(mask.sum())
                return m, int(mask.sum())
            return apply

        ok = commit("append", lambda: t.append(
            spark.read.parquet(str(self.base / "append.parquet"))), do_append)
        ok = ok and commit("merge", lambda: t.merge(
            spark, spark.read.parquet(str(self.base / "merge.parquet")), ["trip_id"],
            when_matched="update", when_not_matched="insert"),
            do_merge)
        ok = ok and commit("delete_cow", lambda: t.delete(
            spark, f"trip_id >= {a} AND trip_id < {b}"),
            do_delete(lambda m: (m["trip_id"] >= a) & (m["trip_id"] < b)))
        ok = ok and commit("update_cow", lambda: t.update(
            spark, "zone <= 13", {"fare": "fare + 1.0"}),
            do_update(lambda m: m["zone"] <= 13, "fare", lambda s: s + 1.0))
        ok = ok and commit("delete_mor", lambda: t.delete(
            spark, "zone >= 250", mode="merge-on-read"),
            do_delete(lambda m: m["zone"] >= 250))
        ok = ok and commit("update_mor", lambda: t.update(
            spark, f"trip_id >= {c} AND trip_id < {d}", {"status": "'adjusted'"},
            mode="merge-on-read"),
            do_update(lambda m: (m["trip_id"] >= c) & (m["trip_id"] < d), "status",
                      lambda s: "adjusted"))
        if ok:
            with rec.op("optimize", "commit") as op:
                snap = t.optimize(spark, zorder_by=["zone", "trip_id"],
                                  target_files=BASE_FILES)
            rec.check(op, not op.ok or t.detail()["num_rows"] == len(model),
                      "optimize changed the live row count")
            if self.tracer and op.ok:
                self.layer.setdefault("files_rewritten", []).append(
                    snap.metrics.get("num_removed_files", 0))
            ok = op.ok
        if ok:
            self._reads(t, v0, model, cdf)
        else:  # a failed commit leaves nothing the reads could check
            for name in ("scan_id_band", "scan_zone_band", "read_current", "read_cdf",
                         "cdf_stream"):
                with rec.op(name, "read") as op:
                    raise RuntimeError("skipped: an earlier commit failed")
        self.output_bytes = _dir_bytes(root / "table")
        if self.tracer:
            self.layer.setdefault("history_versions", []).append(len(t.history()))
            self.layer.setdefault("detail_num_files", []).append(t.detail()["num_files"])

    def _reads(self, t, v0: int, model, cdf: dict) -> None:
        from pyspark.sql import functions as F

        spark, rec = self.spark, self.rec
        e, f = self.read_band
        # a trip_id band prunes by the files' id ranges; a zone band by the
        # statistics OPTIMIZE's z-order left behind
        scans = (
            ("scan_id_band", f"trip_id >= {e} AND trip_id < {f}",
             (model["trip_id"] >= e) & (model["trip_id"] < f)),
            ("scan_zone_band", "zone >= 40 AND zone < 60",
             (model["zone"] >= 40) & (model["zone"] < 60)),
        )
        for name, predicate, mask in scans:
            band = model[mask]
            with rec.op(name, "read") as op:
                df = (
                    spark.read.format("snapshot_table").load(str(t.root))
                    .filter(predicate)
                    .agg(F.count("*").alias("n"), F.sum("fare").alias("fare"),
                         F.sum("passengers").alias("p"))
                )
                row = df.collect()[0]
                rec.record_catalyst(op, df)
            rec.check(op, not op.ok or (
                row["n"] == len(band) and row["p"] == int(band["passengers"].sum())
                and math.isclose(row["fare"] or 0.0, float(band["fare"].sum()),
                                 rel_tol=1e-9)
            ), f"{name} {row if op.ok else None} != {len(band)} rows")

        want = _fingerprint(model)
        with rec.op("read_current", "read") as op:
            df = t.read(spark).agg(
                F.count("*").alias("n"), F.sum("trip_id").alias("ids"),
                F.sum("fare").alias("fare"), F.sum("passengers").alias("p"),
                *[F.sum((F.col("status") == s).cast("int")).alias(s)
                  for s in ("ok", "disputed", "refunded", "adjusted")],
            )
            r = df.collect()[0]
            rec.record_catalyst(op, df)
        if op.ok:
            got = (r["n"], r["ids"], round(r["fare"], 2), r["p"],
                   tuple(r[s] for s in ("ok", "disputed", "refunded", "adjusted")))
            rec.check(op, got[:2] == want[:2] and got[3:] == want[3:]
                      and math.isclose(got[2], want[2], rel_tol=1e-9),
                      f"table {got} != model {want}")

        with rec.op("read_cdf", "read") as op:
            df = t.read_changes_cdf(spark, since_version=v0).groupBy("_change_type").count()
            got = {r[0]: r[1] for r in df.collect()}
            rec.record_catalyst(op, df)
        rec.check(op, not op.ok or got == {k: v for k, v in cdf.items() if v},
                  f"change feed {got if op.ok else None} != {cdf}")

        stage = self.work / "cycle" / "stream"
        with rec.op("cdf_stream", "read") as op:
            q = (
                spark.readStream.format("snapshot_table")
                .option("readChangeFeed", "true")
                .load(str(t.root))
                .writeStream.format("parquet")
                .option("path", str(stage / "out"))
                .option("checkpointLocation", str(stage / "ck"))
                .trigger(availableNow=True)
                .start()
            )
            done = q.awaitTermination(120)
            if not done:
                q.stop()
                raise TimeoutError("availableNow stream did not finish in 120 s")
            batches = len(q.recentProgress)
        staged = spark.read.parquet(str(stage / "out")).count() if op.ok else None
        if self.tracer and op.ok:
            self.layer.setdefault("stream_batches", []).append(batches)
        rec.check(op, not op.ok or staged == len(self.model0) + sum(cdf.values()),
                  f"stream staged {staged} rows")

    # -- trace helpers ----------------------------------------------------
    @staticmethod
    def _files(t) -> int:
        cur = t.current_version()
        return len(t.snapshot(cur).files) if cur is not None else 0

    def _commit_stats(self, name, t, snap, files_before, changed) -> None:
        m = snap.metrics or {}
        lay = self.layer
        removed = m.get("num_removed_files", 0)
        lay.setdefault("files_rewritten", []).append(removed)
        if not name.endswith("_mor") and name != "append":
            lay.setdefault("files_considered", []).append(files_before)
            lay.setdefault("files_removed", []).append(removed)
            lay.setdefault("rows_written", []).append(m.get("rows_added", 0))
            lay.setdefault("rows_changed", []).append(changed)

    def trace_metrics(self, tracer, ops, cycles: int) -> dict:
        per = max(1, cycles)
        lay = self.layer
        spans = tracer.durations

        def med(name):
            xs = spans(name)
            return statistics.median(xs) if xs else 0.0

        considered = sum(lay.get("files_considered", []))
        changed = sum(lay.get("rows_changed", []))
        stream = [op.ms for op in ops if op.name == "cdf_stream"]
        scan = [op.ms for op in ops if op.name.startswith("scan_")]
        return {
            **{f"sources.snapshots.{m}_ms": med(f"sources.snapshots.{m}")
               for m in ("append", "merge", "update", "delete", "optimize", "read",
                         "read_changes_cdf")},
            "sources.snapshots.files_rewritten": sum(lay.get("files_rewritten", [])) / per,
            "sources.snapshots.files_pruned_ratio": (
                1.0 - sum(lay.get("files_removed", [])) / considered if considered else 0.0
            ),
            "sources.snapshots.rows_changed": changed / per,
            "sources.snapshots.rows_rewritten_per_row_changed": (
                sum(lay.get("rows_written", [])) / changed if changed else 0.0
            ),
            # table files are immutable and nothing is vacuumed, so growth
            # over the base copy is what the cycle wrote
            "sources.snapshots.bytes_written": float(self.output_bytes - self.base_bytes),
            "sources.snapshots.history_versions": statistics.median(
                lay.get("history_versions", [0])),
            "sources.snapshots.detail_num_files": statistics.median(
                lay.get("detail_num_files", [0])),
            "sources.snapshot_datasource.scan_ms": statistics.median(scan) if scan else 0.0,
            "streaming.cdf_replay_ms": statistics.median(stream) if stream else 0.0,
            "streaming.batches": statistics.median(lay.get("stream_batches", [0])),
        }
