from sample_keyspaces_cdc_streams_connectors_spark.streaming.dedup import streaming_near_dedup
from sample_keyspaces_cdc_streams_connectors_spark.streaming.ingest import curation_ingest_sink
from sample_keyspaces_cdc_streams_connectors_spark.streaming.pipeline import CdcPipeline, PipelineConfig
from sample_keyspaces_cdc_streams_connectors_spark.streaming.retry import (
    backoff_delay,
    is_retryable,
    with_backoff,
    with_linear_retry,
)
from sample_keyspaces_cdc_streams_connectors_spark.streaming.sinks import (
    AllItemsFailureError,
    PartialFailureError,
    QueueMessage,
    QueueTransport,
    console_sink,
    local_dir_transport,
    memory_rows_sink,
    object_store_sink,
    queue_sink,
)

__all__ = [
    "AllItemsFailureError",
    "backoff_delay",
    "is_retryable",
    "with_backoff",
    "with_linear_retry",
    "CdcPipeline",
    "PartialFailureError",
    "PipelineConfig",
    "QueueMessage",
    "QueueTransport",
    "console_sink",
    "curation_ingest_sink",
    "local_dir_transport",
    "memory_rows_sink",
    "object_store_sink",
    "queue_sink",
    "streaming_near_dedup",
]
