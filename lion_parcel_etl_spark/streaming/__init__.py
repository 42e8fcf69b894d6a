from lion_parcel_etl_spark.streaming.jobs import (  # noqa: F401
    run_available_now,
    stream_merge_into,
    stream_metrics_detail,
    stream_scd2,
)
