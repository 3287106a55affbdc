"""Sources and sinks (SURVEY.md §2.1, S1-S10)."""

from nyc_taxi_data_pipeline_elt_spark.sources.readers import (  # noqa: F401
    load_table,
    read_layer,
)
from nyc_taxi_data_pipeline_elt_spark.sources.writers import (  # noqa: F401
    write_empty_report,
    write_partitioned,
    write_report,
)
