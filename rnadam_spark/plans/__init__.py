from rnadam_spark.plans.checks import (  # noqa: F401
    count_parquet_scans,
    count_shuffles,
    filter_conditions,
    has_broadcast_join,
    has_pushed_filters,
    has_window,
    plan_string,
    read_schema_columns,
)
