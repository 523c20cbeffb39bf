"""Apache Pulsar source/sink as a Spark Python Data Source.

Reference semantics being reproduced (pulsar/pulsar.go):

- ``Source`` (pulsar.go:25,57-79): subscribe a consumer and forward
  every received ``pulsar.Message`` downstream (no explicit ack in the
  reference — at-least-once).
- ``Sink`` (pulsar.go:105,138-165): create a producer and send each
  element's payload bytes to the topic.

Spark-first redesign: Pulsar's Reader API (seek to a ``MessageId``,
read forward) is the replayable cursor a Spark source needs — a
subscription/consumer hands each message out once and cannot replay a
failed micro-batch, the same reasoning as the Redis XREADGROUP → XRANGE
switch. Offsets are serialized MessageIds: ``latestOffset`` asks the
broker for the topic's last MessageId (``getLastMessageId``), and
executors replay ``(start, end]`` with a reader positioned exclusive of
``start``. The Spark checkpoint replaces the subscription cursor.

Adapter protocol (injected via ``clientFactory``): ``publish(topic,
payload, key)``, ``last_message_id(topic)``, ``read_range(topic,
start_exclusive, end_inclusive)``, ``compare_ids(a, b)``, ``close()``.
The default adapter implements it over the real ``pulsar-client``
library; tests inject the file-backed FakePulsarClient.
"""

from __future__ import annotations

import base64
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ._broker import ClientReader, RowWriter, connected, resolve_factory, to_bytes

PULSAR_SOURCE_NAME = "gss_pulsar"
PULSAR_SCHEMA = "message_id string, key string, data binary"


class PulsarClientAdapter:
    """Real adapter over pulsar-client. MessageIds are serialized to
    base64 strings so they round-trip through Spark's JSON offset log."""

    def __init__(self, options: dict):
        try:
            import pulsar
        except ImportError as e:  # pragma: no cover - depends on env
            raise ImportError(
                "Pulsar connector requires the 'pulsar-client' library "
                "(pip install pulsar-client), or pass clientFactory pointing "
                "at a compatible adapter builder") from e
        self._pulsar = pulsar
        self._client = pulsar.Client(
            options.get("serviceurl", "pulsar://localhost:6650"))

    def _ser(self, mid) -> str:
        return base64.b64encode(mid.serialize()).decode("ascii")

    def _deser(self, s: str):
        return self._pulsar.MessageId.deserialize(base64.b64decode(s))

    def publish(self, topic: str, payload: bytes, key: str | None = None):
        producer = self._client.create_producer(topic)
        try:
            producer.send(payload, partition_key=key or None)
        finally:
            producer.close()

    def last_message_id(self, topic: str) -> str:
        # NOTE: untested against a live broker in this environment (no
        # Pulsar available); exercised only through the file-backed fake.
        # Reader.get_last_message_id is not stable across pulsar-client
        # versions, so fall back to a throwaway consumer (stable since
        # 2.8) when the reader lacks it.
        reader = self._client.create_reader(
            topic, self._pulsar.MessageId.latest)
        try:
            if hasattr(reader, "get_last_message_id"):
                return self._ser(reader.get_last_message_id())
        finally:
            reader.close()
        consumer = self._client.subscribe(
            topic, subscription_name="gss-last-id-probe",
            initial_position=self._pulsar.InitialPosition.Latest)
        try:
            return self._ser(consumer.get_last_message_id())
        finally:
            try:
                # unsubscribe, not just close: a merely-closed durable
                # subscription leaves a parked broker-side cursor that
                # retains every later message forever (and a second
                # prober would hit ConsumerBusy on the shared name)
                consumer.unsubscribe()
            except Exception:
                pass
            consumer.close()

    @staticmethod
    def _id_key(mid):
        try:  # stable accessors present in every pulsar-client release
            return (mid.ledger_id(), mid.entry_id(), mid.batch_index())
        except AttributeError:
            return None

    def read_range(self, topic: str, start_exclusive: str, end_inclusive: str):
        reader = self._client.create_reader(
            topic, self._deser(start_exclusive),
            start_message_id_inclusive=False)
        # deserialize the range end ONCE, not per message; compare via
        # the stable (ledger, entry, batch) accessors, not MessageId
        # operator overloads (rich comparison is not a stable part of
        # the Python client API across versions)
        end_id = self._deser(end_inclusive)
        end_key = self._id_key(end_id)
        try:
            while reader.has_message_available():
                msg = reader.read_next(timeout_millis=10_000)
                mid = msg.message_id()
                yield (self._ser(mid), msg.partition_key() or None,
                       msg.data())
                k = self._id_key(mid)
                if k is not None and end_key is not None:
                    if k >= end_key:
                        break
                elif mid >= end_id:  # last resort: rich comparison
                    break
        finally:
            reader.close()

    def compare_ids(self, a: str, b: str) -> int:
        ma, mb = self._deser(a), self._deser(b)
        ka, kb = self._id_key(ma), self._id_key(mb)
        if ka is not None and kb is not None:
            return (ka > kb) - (ka < kb)
        return (ma > mb) - (ma < mb)  # last resort: rich comparison

    def close(self):
        self._client.close()


def _topic(options: dict) -> str:
    t = options.get("topic")
    if not t:
        raise ValueError("Pulsar connector requires option 'topic'")
    return t


EARLIEST_OPTION = "earliest"


class _IdRange(InputPartition):
    def __init__(self, topic: str, start: str, end: str):
        self.topic = topic
        self.start = start
        self.end = end


def _read_range(options: dict, part: _IdRange) -> Iterator[tuple]:
    with connected(options, PulsarClientAdapter) as adapter:
        if adapter.compare_ids(part.start, part.end) >= 0:
            return
        yield from adapter.read_range(part.topic, part.start, part.end)


def _earliest_id(options: dict) -> str:
    # an injected adapter takes the ``earliestId`` option (the fake's
    # "0:-1"); the real adapter serializes MessageId.earliest
    if resolve_factory(options, None) is not None:
        return options.get("earliestid", "0:-1")
    import pulsar
    return base64.b64encode(pulsar.MessageId.earliest.serialize()).decode("ascii")


class PulsarBatchReader(DataSourceReader):
    """Bounded read of a topic's current contents (single partition —
    one Pulsar topic partition is a single ordered ledger; scale across
    partitioned topics comes from reading ``topic-partition-N`` names)."""

    def __init__(self, options: dict):
        self.options = dict(options)

    def partitions(self):
        topic = _topic(self.options)
        with connected(self.options, PulsarClientAdapter) as adapter:
            last = adapter.last_message_id(topic)
        return [_IdRange(topic, _earliest_id(self.options), last)]

    def read(self, partition: _IdRange):
        yield from _read_range(self.options, partition)


class PulsarStreamReader(ClientReader, DataSourceStreamReader):
    """Micro-batch reader: offsets are ``{topic: serialized MessageId}``.

    ``topic`` may be comma-separated — each topic becomes its own input
    partition per micro-batch (one Pulsar topic partition is a single
    ordered ledger; horizontal scale comes from many topics /
    ``topic-partition-N`` names, mirroring the Redis multi-stream
    model)."""

    default_client = PulsarClientAdapter

    def __init__(self, options: dict):
        super().__init__(options)
        self.topics = [t.strip() for t in _topic(self.options).split(",")
                       if t.strip()]

    def initialOffset(self) -> dict:
        if self.options.get("startingoffsets", EARLIEST_OPTION) == "latest":
            cli = self._cli()
            return {t: cli.last_message_id(t) for t in self.topics}
        return {t: _earliest_id(self.options) for t in self.topics}

    def latestOffset(self) -> dict:
        cli = self._cli()
        return {t: cli.last_message_id(t) for t in self.topics}

    def partitions(self, start: dict, end: dict):
        earliest = _earliest_id(self.options)
        return [_IdRange(t, start.get(t, earliest), end[t]) for t in end]

    def read(self, partition: _IdRange):
        yield from _read_range(self.options, partition)

    def commit(self, end: dict):
        pass  # checkpoint replaces the subscription cursor


def _send_rows(options: dict, iterator) -> int:
    """Producer loop (pulsar.go:138-165): send each row's ``data``
    column (or sole column) to the topic, with optional ``key``."""
    topic = _topic(options)
    n = 0
    with connected(options, PulsarClientAdapter) as adapter:
        for row in iterator:
            d = row.asDict()
            adapter.publish(
                topic,
                to_bytes(d.get("data", d.get("value", d.get("payload")))),
                d.get("key"))
            n += 1
    return n


class PulsarDataSource(DataSource):
    """``format("gss_pulsar")`` — options:

    - ``topic``: topic name
    - ``startingOffsets``: ``earliest`` (default) | ``latest``
    - ``serviceUrl``: broker URL (real client)
    - ``clientFactory``: ``module:function`` adapter injection hook
    """

    @classmethod
    def name(cls):
        return PULSAR_SOURCE_NAME

    def schema(self):
        return PULSAR_SCHEMA

    def reader(self, schema):
        return PulsarBatchReader(self.options)

    def streamReader(self, schema):
        return PulsarStreamReader(self.options)

    def writer(self, schema, overwrite):
        if overwrite:
            raise ValueError("Pulsar topics are append-only; use append")
        return RowWriter(self.options, _send_rows)

    def streamWriter(self, schema, overwrite):
        return RowWriter(self.options, _send_rows)


def register_pulsar_source(spark) -> str:
    spark.dataSource.register(PulsarDataSource)
    return PULSAR_SOURCE_NAME
