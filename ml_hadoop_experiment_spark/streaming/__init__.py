from ml_hadoop_experiment_spark.streaming.drain import drain
from ml_hadoop_experiment_spark.streaming.inference import (
    streaming_inference,
    foreach_batch_inference,
    windowed_event_aggregates,
)

__all__ = [
    "drain",
    "streaming_inference",
    "foreach_batch_inference",
    "windowed_event_aggregates",
]
