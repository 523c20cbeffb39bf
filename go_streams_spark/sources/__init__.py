"""Sources (SURVEY §2.4): file/object-store readers and custom Python
Data Source API connectors."""

from .files import (text_source, json_source, csv_source, parquet_source,
                    binary_source, framed_binary_source, orc_source,
                    xml_source)
from .custom import register_replay_source, REPLAY_SOURCE_NAME
from .redis_stream import (register_redis_sources, REDIS_STREAM_SOURCE_NAME,
                           REDIS_PUBSUB_SOURCE_NAME)
from .nats_jetstream import register_nats_source, NATS_SOURCE_NAME
from .pulsar import register_pulsar_source, PULSAR_SOURCE_NAME
from .websocket import register_websocket_source, WEBSOCKET_SOURCE_NAME
from .aerospike import register_aerospike_source, AEROSPIKE_SOURCE_NAME

__all__ = [
    "text_source", "json_source", "csv_source", "parquet_source", "binary_source",
    "framed_binary_source", "orc_source", "xml_source",
    "register_replay_source", "REPLAY_SOURCE_NAME",
    "register_redis_sources", "REDIS_STREAM_SOURCE_NAME",
    "REDIS_PUBSUB_SOURCE_NAME",
    "register_nats_source", "NATS_SOURCE_NAME",
    "register_pulsar_source", "PULSAR_SOURCE_NAME",
    "register_websocket_source", "WEBSOCKET_SOURCE_NAME",
    "register_aerospike_source", "AEROSPIKE_SOURCE_NAME",
]
