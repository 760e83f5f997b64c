from vectorsearch_scylla_spark.streaming.pipeline import (
    metric_stream_from_kafka,
    parse_metric_messages,
    windowed_snapshot_stream,
    to_kafka_messages,
)

__all__ = [
    "metric_stream_from_kafka",
    "parse_metric_messages",
    "windowed_snapshot_stream",
    "to_kafka_messages",
]
