from pulsar_spark.streaming.subscribe import (
    subscribe,
    subscribe_multi,
    subscribe_pattern,
    subscribe_scalable_pattern,
    subscribe_typed,
    subscribe_assigned,
    await_drain,
    run_to_end,
)
from pulsar_spark.streaming.tableview import table_view_stream, table_view_merge_sink
from pulsar_spark.streaming.dedup import dedup_stream
from pulsar_spark.streaming.windows import windowed_agg_stream, late_data_split
from pulsar_spark.streaming.count_windows import count_window_stream, watermark_count_window_stream
from pulsar_spark.streaming.delayed import delayed_release_stream
from pulsar_spark.streaming.curation import curate_batch, streaming_curate
from pulsar_spark.streaming.replication import (
    replicate_batch,
    replicate_stream,
    replicated_high_watermarks,
)

__all__ = [
    "subscribe",
    "subscribe_multi",
    "subscribe_pattern",
    "subscribe_scalable_pattern",
    "subscribe_typed",
    "subscribe_assigned",
    "await_drain",
    "run_to_end",
    "table_view_stream",
    "table_view_merge_sink",
    "dedup_stream",
    "windowed_agg_stream",
    "late_data_split",
    "count_window_stream",
    "watermark_count_window_stream",
    "delayed_release_stream",
    "curate_batch",
    "streaming_curate",
    "replicate_batch",
    "replicate_stream",
    "replicated_high_watermarks",
]
