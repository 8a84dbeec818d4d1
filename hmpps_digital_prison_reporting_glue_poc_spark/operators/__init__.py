from hmpps_digital_prison_reporting_glue_poc_spark.operators.cdc import (  # noqa: F401
    ingest_events,
    map_events_to_target,
    latest_event_per_key,
    first_event_per_key,
    merge_cdc,
    net_changes,
)
