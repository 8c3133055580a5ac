from kafka_streams_pipeline_spark.plans.validation import (  # noqa: F401
    QueryValidationError,
    validate_aggregate_op,
    validate_bbox,
    validate_geohashes,
    validate_interval,
    validate_precision,
    validate_time_range,
)
from kafka_streams_pipeline_spark.plans.envelope import to_message  # noqa: F401
