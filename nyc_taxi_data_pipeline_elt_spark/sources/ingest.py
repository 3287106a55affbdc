"""EL ingestion into the landing layer (SURVEY.md §2.1 S1/S2, §2.11 O1).

The reference's Lambda streams one parquet per (fleet, month) from the TLC
CDN into a Hive-partitioned S3 key layout
(``/root/reference/src/ingest_data.py:14-65``):
``landing/trip_type={fleet}/partition_date={YYYYMM}/{fleet}_tripdata_....parquet``.

Here the landing layer is any filesystem; sources are either local files
(tests, offline) or HTTP URLs (optional, stdlib urllib — no extra deps).
The fan-out over (fleet, month) is a thread pool: ingestion is I/O-bound
EL, not a Spark job — at real scale you'd hand a manifest of URLs to
``spark.read`` directly or to a fleet of fetchers; the *layout* written
here is what makes the downstream Spark scans partition-prunable.
"""

from __future__ import annotations

import shutil
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

# URL template of the public TLC dataset (ingest_data.py:14).
TLC_URL_TEMPLATE = (
    "https://d37ci6vzurychx.cloudfront.net/trip-data/"
    "{trip_type}_tripdata_{year}-{month:02d}.parquet"
)


def landing_key(landing_dir: str, trip_type: str, year: int, month: int) -> Path:
    """Hive-partitioned landing path (ingest_data.py:35,51-55)."""
    return (
        Path(landing_dir)
        / f"trip_type={trip_type}"
        / f"partition_date={year}{month:02d}"
        / f"{trip_type}_tripdata_{year}-{month:02d}.parquet"
    )


def ingest_http(
    landing_dir: str,
    trip_type: str,
    year: int,
    month: int,
    timeout: int = 300,
    url_template: str = TLC_URL_TEMPLATE,
) -> Path:
    """Stream one (fleet, month) file from the TLC CDN (S1) into landing.

    ``url_template`` defaults to the public TLC CDN; tests point it at a
    local ``http.server`` to drive the full HTTP path offline."""
    dst = landing_key(landing_dir, trip_type, year, month)
    dst.parent.mkdir(parents=True, exist_ok=True)
    url = url_template.format(trip_type=trip_type, year=year, month=month)
    with urllib.request.urlopen(url, timeout=timeout) as resp, open(dst, "wb") as out:
        shutil.copyfileobj(resp, out)
    return dst


def ingest_sweep(
    landing_dir: str,
    year: int,
    months: list[int],
    trip_types: list[str],
    fetch=ingest_http,
    max_workers: int = 8,
) -> list[Path]:
    """Parameter sweep over (fleet, month) (O1, ingest_data.py:101-109).

    The reference documents parallel fan-out but executes sequentially
    (SURVEY.md §2.11 discrepancy note); this implements the documented
    behavior.
    """
    jobs = [(t, m) for t in trip_types for m in months]
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = [
            pool.submit(fetch, landing_dir, t, year, m) for t, m in jobs
        ]
        return [f.result() for f in futures]
