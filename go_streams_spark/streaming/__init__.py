"""Structured Streaming layer: stream sources/sinks and custom stateful
operators (running fold/reduce, count-or-time batch) that have no
built-in Spark equivalent."""

from .io import (file_stream_source, rate_source, memory_sink, console_sink,
                 with_refreshed_dim, idempotent_parquet_sink,
                 noop_sink, foreach_batch_sink, with_bounded_retry,
                 state_sized_partitions)
from .stateful import (running_fold_stream, global_fold_stream,
                       count_or_time_batch_stream, heavy_hitters_stream,
                       cep_stream, token_bucket_stream)
from .incremental_dedup import (incremental_near_dup_sink,
                                near_dup_filter_batch, batch_band_keys)
from .joins import stream_interval_join

__all__ = [
    "with_refreshed_dim", "idempotent_parquet_sink",
    "file_stream_source", "rate_source", "memory_sink", "console_sink",
    "noop_sink", "foreach_batch_sink", "with_bounded_retry",
    "state_sized_partitions",
    "stream_interval_join",
    "running_fold_stream", "global_fold_stream", "count_or_time_batch_stream",
    "heavy_hitters_stream", "cep_stream", "token_bucket_stream",
    "incremental_near_dup_sink", "near_dup_filter_batch", "batch_band_keys",
]
