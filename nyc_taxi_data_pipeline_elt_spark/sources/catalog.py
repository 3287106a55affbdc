"""Catalog & SQL consumption surface (SURVEY.md §2.1 S10).

The reference registers tables in the Glue Data Catalog via Terraform and
syncs partitions with an async Athena ``MSCK REPAIR TABLE``
(``/root/reference/src/process_data_glue.py:98-123,203``); consumption is
PyAthena SQL over the reporting tables (``analysis/analytics_job.py``).
In-engine, the session catalog plays Glue and ``spark.sql`` plays Athena.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nyc_taxi_data_pipeline_elt_spark.session import tune
from nyc_taxi_data_pipeline_elt_spark.sources.readers import (
    TESTDATA_TABLES,
    load_table,
)


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver fixture tables as temp views for spark.sql.

    Skipped when THIS function already registered the same ``sf_dir`` on
    this session (r13, guide §1.2): the views it would create are
    byte-identical plans, and re-creating all ten cost ~1 s of driver
    dispatch per calling query. Nothing else in the package registers
    views under these names with different content (the few same-name
    registrations in plans/ bind the same ``load_table`` of the same
    ``sf_dir``); a different ``sf_dir`` re-registers and re-stamps.
    ADVICE r13: the skip additionally verifies a sentinel view still
    exists (one catalog lookup, ~1 ms) so a future code path that drops
    or replaces a fixture view mid-session cannot be silently served a
    stale skip — the invariant is now checked, not just documented.
    A sentinel check that raises re-registers too: re-registration is
    idempotent, a skip it cannot verify is not."""
    tune(spark)
    if getattr(spark, "_ntx_views_sf", None) == sf_dir:
        try:
            if spark.catalog.tableExists(TESTDATA_TABLES[-1]):
                return
        except Exception:
            pass
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    try:
        spark._ntx_views_sf = sf_dir
    except Exception:
        pass


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Consumption surface: Athena-in-the-reference == spark.sql here."""
    return spark.sql(query)
