"""Seeded input generators for the benchmark workloads.

Everything is a pure function of the seed: the same seed writes byte-for-byte
the same parquet files. The program under test only ever sees these files.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Landing layout of the taxi workload: two fleets x five months.
FLEETS = ("yellow", "green")
MONTHS = (1, 2, 3, 4, 5)
YEAR = 2023


def _landing_path(landing: Path, fleet: str, month: int) -> Path:
    # the Hive layout sources.ingest.landing_key produces
    return (
        landing
        / f"trip_type={fleet}"
        / f"partition_date={YEAR}{month:02d}"
        / f"{fleet}_tripdata_{YEAR}-{month:02d}.parquet"
    )


def _month_file(rng: np.random.Generator, fleet: str, month: int, rows: int,
                drift: bool) -> pa.Table:
    """One TLC-shaped monthly file. About 5% of rows break a DQ rule
    (missing or non-positive passengers, negative fare, missing pickup).
    ``drift`` stores ``passenger_count`` as float64 — the month whose type
    differs from the others, which makes the fleet's mergeSchema read fail
    and sends the pipeline down its per-batch conformance path. Missing
    values stay nulls in the float column (a NaN would be a different,
    crashing input)."""
    start = np.datetime64(datetime(YEAR, month, 1), "us")
    end = np.datetime64(datetime(YEAR + (month == 12), month % 12 + 1, 1), "us")
    span_s = int((end - start) / np.timedelta64(1, "s"))
    pickup = start + rng.integers(0, span_s - 7200, rows).astype("timedelta64[s]")
    dropoff = pickup + rng.integers(60, 3600, rows).astype("timedelta64[s]")
    passengers = rng.integers(1, 7, rows)
    total = np.round(rng.gamma(2.0, 9.0, rows) + 3.0, 2)

    broken = rng.random(rows)
    pc_null = broken < 0.015
    pc_zero = (broken >= 0.015) & (broken < 0.025)
    neg_total = (broken >= 0.025) & (broken < 0.04)
    pickup_null = (broken >= 0.04) & (broken < 0.05)
    passengers[pc_zero] = 0
    total[neg_total] = -total[neg_total]

    prefix = "tpep" if fleet == "yellow" else "lpep"
    pc_type = pa.float64() if drift else pa.int64()
    pc_values = passengers.astype("float64") if drift else passengers
    return pa.table(
        {
            "VendorID": pa.array(rng.integers(1, 3, rows), pa.int64()),
            f"{prefix}_pickup_datetime": pa.array(pickup, pa.timestamp("us"),
                                                  mask=pickup_null),
            f"{prefix}_dropoff_datetime": pa.array(dropoff, pa.timestamp("us")),
            "passenger_count": pa.array(pc_values, pc_type, mask=pc_null),
            "total_amount": pa.array(total, pa.float64()),
        }
    )


def write_landing(root: Path, seed: int, rows_per_file: int) -> tuple[int, int]:
    """Write the taxi landing zone under ``root``; return (rows, bytes)."""
    rng = np.random.default_rng([seed, 1])
    n_rows = n_bytes = 0
    # file sizes are fixed, so every seed asks for the same amount of work
    for fleet in FLEETS:
        for month in MONTHS:
            table = _month_file(rng, fleet, month, rows_per_file,
                                drift=(fleet == "yellow" and month == 1))
            path = _landing_path(root, fleet, month)
            path.parent.mkdir(parents=True, exist_ok=True)
            pq.write_table(table, path)
            n_rows += rows_per_file
            n_bytes += path.stat().st_size
    return n_rows, n_bytes


# ---------------------------------------------------------------------------
# snapshot_dml: one trips table plus the batches the DML cycle applies.

STATUSES = ("ok", "disputed", "refunded")


def trips_frame(seed: int, first_id: int, rows: int, stream: int):
    """A pandas frame of ``rows`` trips with ids ``first_id..``; the
    (seed, stream) pair fixes the values."""
    import pandas as pd

    rng = np.random.default_rng([seed, 2, stream])
    return pd.DataFrame(
        {
            "trip_id": np.arange(first_id, first_id + rows, dtype="int64"),
            "zone": rng.integers(1, 266, rows).astype("int32"),
            "vendor": rng.integers(1, 3, rows).astype("int32"),
            "passengers": rng.integers(1, 7, rows).astype("int32"),
            "fare": np.round(rng.gamma(2.0, 9.0, rows) + 3.0, 2),
            "status": np.asarray(STATUSES)[rng.integers(0, 3, rows)],
        }
    )


def write_frame(df, path: Path) -> int:
    """Write a pandas frame as one parquet file; return its size."""
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path.stat().st_size
