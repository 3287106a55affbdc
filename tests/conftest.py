"""Shared pytest fixtures: one session-scoped SparkSession + DuckDB oracle."""

from __future__ import annotations

import duckdb
import pytest

from nyc_taxi_data_pipeline_elt_spark.session import get_spark
from nyc_taxi_data_pipeline_elt_spark.sources.readers import TESTDATA_TABLES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ntx-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture()
def verdict(spark):
    """``verdict(predicate, envelopes, schema)`` -> ``(disjoint,
    proven)`` from the stats prover, resolved by Catalyst against
    ``schema`` under the engine's UTC session pin."""
    from nyc_taxi_data_pipeline_elt_spark.session import tune
    from nyc_taxi_data_pipeline_elt_spark.sources import stats_prover

    tune(spark)

    def _verdict(predicate, fstats, schema):
        ir = stats_prover.resolve(spark, predicate, schema)
        return stats_prover.disjoint(ir, fstats), stats_prover.proven(
            ir, fstats
        )

    return _verdict
