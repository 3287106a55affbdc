"""taxi_elt: the paper's medallion pipeline, landing -> consumer -> reports.

One cycle is one ``pipeline.run`` over the seeded landing zone (both
fleets through ``process_trips``, then ``build_reports``) followed by a
read-back of the two reports, the consumer table and the dead-letter
table. Every output is checked against DuckDB run over the same landing
files.
"""

from __future__ import annotations

import shutil
import statistics
from pathlib import Path

import duckdb

from inputs import write_landing

ROWS_PER_FILE = 30_000
_TOL = 0.0101  # one cent of rounding disagreement between engines


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _expected(landing: Path) -> dict:
    """Reports, consumer and dead-letter counts per fleet, from DuckDB."""
    con = duckdb.connect()
    try:
        for fleet, prefix in (("yellow", "tpep"), ("green", "lpep")):
            con.execute(
                f"""CREATE VIEW {fleet} AS
                SELECT CAST(passenger_count AS BIGINT) AS pc,
                       total_amount AS ta,
                       {prefix}_pickup_datetime AS pu,
                       {prefix}_dropoff_datetime AS dr,
                       (passenger_count IS NOT NULL AND passenger_count > 0
                        AND total_amount IS NOT NULL AND total_amount >= 0
                        AND {prefix}_pickup_datetime IS NOT NULL
                        AND {prefix}_dropoff_datetime IS NOT NULL) AS good
                FROM read_parquet('{landing}/trip_type={fleet}/*/*.parquet',
                                  union_by_name = true,
                                  hive_partitioning = false)"""
            )
        q1 = dict(
            con.execute(
                """SELECT CAST(year(pu) AS VARCHAR) || '-' ||
                          lpad(CAST(month(pu) AS VARCHAR), 2, '0'),
                          round(avg(ta), 2)
                   FROM yellow WHERE good GROUP BY 1"""
            ).fetchall()
        )
        q2 = dict(
            con.execute(
                """SELECT CAST(hour(pu) AS INTEGER), round(avg(pc), 2)
                   FROM (SELECT pc, pu FROM yellow WHERE good
                         UNION ALL SELECT pc, pu FROM green WHERE good)
                   WHERE month(pu) = 5 GROUP BY 1"""
            ).fetchall()
        )
        counts = {}
        for fleet in ("yellow", "green"):
            good, bad = con.execute(
                f"SELECT count(*) FILTER (good), count(*) FILTER (NOT good) FROM {fleet}"
            ).fetchone()
            counts[fleet] = (good, bad)
        return {"q1": q1, "q2": q2, "counts": counts}
    finally:
        con.close()


def _close(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        got[k] is not None and abs(got[k] - want[k]) <= _TOL for k in want
    )


class TaxiElt:
    name = "taxi_elt"

    def __init__(self, spark, work: Path, seed: int, scale: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rows_per_file = max(50, int(ROWS_PER_FILE * scale))
        self.rec = None
        self._stage_out: dict = {}

    # -- set-up -----------------------------------------------------------
    def setup(self, i: int) -> None:
        """Write the landing zone and derive the expected outputs."""
        base = self.work / f"setup{i}"
        shutil.rmtree(base, ignore_errors=True)
        landing = base / "landing"
        self.input_rows, self.input_bytes = write_landing(
            landing, self.seed, self.rows_per_file
        )
        self.expected = _expected(landing)
        self.base = base
        from nyc_taxi_data_pipeline_elt_spark.pipeline import PipelineConfig

        self.cfg = PipelineConfig(
            landing_dir=str(landing),
            consumer_dir=str(base / "consumer"),
            reports_dir=str(base / "reports"),
            dlq_dir=str(base / "dlq"),
        )

    def install(self, rec, tracer) -> None:
        """Make every pipeline stage one recorded op; with a tracer, add
        spans around the package functions the stages call."""
        from nyc_taxi_data_pipeline_elt_spark import pipeline

        self.rec = rec
        if tracer is not None:
            tracer.wrap(pipeline, "read_landing_conformed",
                        "pipeline.read_landing_conformed")
            tracer.wrap(pipeline, "conform_to_schema", "operators.build")
            tracer.wrap(pipeline, "apply_quality", "operators.build")
            tracer.wrap(pipeline, "q1_monthly_revenue", "plans.build")
            tracer.wrap(pipeline, "q2_hourly_passengers", "plans.build")
            tracer.wrap(pipeline, "read_layer", "sources.readers.read_layer")
            tracer.wrap(pipeline, "write_partitioned", "sources.writers.write")
            tracer.wrap(pipeline, "write_report", "sources.writers.write")
        if getattr(self, "_installed", False):
            return
        self._installed = True
        process_trips, build_reports = pipeline.process_trips, pipeline.build_reports
        workload = self

        def process_stage(spark, cfg, trip_type):
            out = None
            with workload.rec.op(f"process_{trip_type}", "commit") as op:
                out = process_trips(spark, cfg, trip_type)
            good, bad = workload.expected["counts"][trip_type]
            workload.rec.check(
                op,
                out is not None
                and (out["rows_written"], out["rows_dead_lettered"]) == (good, bad),
                f"{trip_type} rows_written/dead_lettered {out} != {(good, bad)}",
            )
            workload._stage_out[trip_type] = out
            return out

        def reports_stage(spark, cfg):
            with workload.rec.op("build_reports", "commit"):
                build_reports(spark, cfg)

        pipeline.process_trips = process_stage
        pipeline.build_reports = reports_stage

    # -- one cycle --------------------------------------------------------
    def cycle(self) -> None:
        from nyc_taxi_data_pipeline_elt_spark import pipeline

        try:
            pipeline.run(self.spark, self.cfg)
        except RuntimeError:
            pass  # the failing stage is already recorded as a failed op
        self._read_back()
        self.output_bytes = sum(
            _dir_bytes(Path(p))
            for p in (self.cfg.consumer_dir, self.cfg.dlq_dir, self.cfg.reports_dir)
            if Path(p).exists()
        )

    def _read_back(self) -> None:
        spark, cfg, rec = self.spark, self.cfg, self.rec
        with rec.op("read_reports", "read") as op:
            frames = {
                "q1": spark.read.parquet(f"{cfg.reports_dir}/q1_monthly_revenue"),
                "q2": spark.read.parquet(f"{cfg.reports_dir}/q2_hourly_passengers"),
                "consumer": spark.read.parquet(cfg.consumer_dir)
                .groupBy("trip_type").count(),
                "dlq": spark.read.parquet(cfg.dlq_dir).groupBy("trip_type").count(),
            }
            rows = {k: df.collect() for k, df in frames.items()}
            for df in frames.values():
                rec.record_catalyst(op, df)
        if not op.ok:
            return
        want = self.expected
        consumer = {r["trip_type"]: r["count"] for r in rows["consumer"]}
        dlq = {r["trip_type"]: r["count"] for r in rows["dlq"]}
        rec.check(op, _close({r[0]: r[1] for r in rows["q1"]}, want["q1"]), "q1 report")
        rec.check(op, _close({r[0]: r[1] for r in rows["q2"]}, want["q2"]), "q2 report")
        rec.check(
            op,
            consumer == {f: c[0] for f, c in want["counts"].items()}
            and dlq == {f: c[1] for f, c in want["counts"].items()},
            f"consumer/dlq counts {consumer} {dlq}",
        )

    def trace_metrics(self, tracer, ops, cycles: int) -> dict:
        """Per-cycle figures of the layers this workload drives."""
        per = max(1, cycles)

        def med(xs: list[float]) -> float:
            return statistics.median(xs) if xs else 0.0

        rows_dead = sum(
            (o or {}).get("rows_dead_lettered", 0) for o in self._stage_out.values()
        )
        fleet = {"yellow": [], "green": []}
        for op in ops:
            if op.name.startswith("process_"):
                fleet[op.name[len("process_"):]].append(op.ms)
        spans = tracer.durations
        return {
            "plans.build_ms": sum(spans("plans.build")) / per,
            "operators.build_ms": sum(spans("operators.build")) / per,
            "sources.readers.read_layer_ms": sum(spans("sources.readers.read_layer")) / per,
            "sources.writers.write_ms": sum(spans("sources.writers.write")) / per,
            "sources.writers.bytes_written": float(self.output_bytes),
            "pipeline.read_landing_conformed_ms": med(
                spans("pipeline.read_landing_conformed")
            ),
            "pipeline.process_trips_yellow_ms": med(fleet["yellow"]),
            "pipeline.process_trips_green_ms": med(fleet["green"]),
            "pipeline.build_reports_ms": med(
                [op.ms for op in ops if op.name == "build_reports"]
            ),
            "pipeline.rows_dead_lettered": float(rows_dead),
        }
