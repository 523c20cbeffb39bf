"""NATS JetStream source/sink as a Spark Python Data Source.

Reference semantics being reproduced (nats/nats_jetstream.go):

- ``JetStreamSource`` (nats_jetstream.go:82,114-158): pull-subscribe
  loop fetching batches of ``FetchBatchSize`` (default 256,
  nats_jetstream.go:58-67) and acking each delivered message
  (nats_jetstream.go:135-147) so the server will not redeliver it.
- ``JetStreamSink`` (nats_jetstream.go:213,239-275): publish each
  element's ``Data`` bytes to the configured subject.

Spark-first redesign: JetStream assigns every stored message a dense,
monotonically increasing **stream sequence number**, and exposes
fetch-by-sequence — a durable, replayable cursor. The reader therefore
uses stream sequences as offsets: ``latestOffset`` advances by at most
``fetchBatchSize`` per trigger (the FetchBatchSize analogue), executors
replay the ``(start, end]`` sequence range deterministically, and the
Spark checkpoint plays the role of the durable consumer's ack floor
(per-message Ack in the reference exists to stop redelivery, which the
checkpoint already guarantees — so commit() needs no server call).

The connector codes against a small synchronous *adapter protocol*
(``last_sequence`` / ``fetch_range`` / ``publish`` / ``close``) injected
via the ``clientFactory`` option. The default factory builds the real
adapter over nats-py (an asyncio client, driven by a private event
loop); tests inject the file-backed FakeJetStream which implements the
same protocol.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ._broker import ClientReader, RowWriter, connected, to_bytes

NATS_SOURCE_NAME = "gss_nats_jetstream"
NATS_SCHEMA = "seq long, subject string, data binary"
DEFAULT_FETCH_BATCH = 256  # nats_jetstream.go:60 (FetchBatchSize default)


class NatsPyAdapter:
    """Real adapter over nats-py: wraps the asyncio client behind the
    synchronous protocol the connector needs. Requires 'nats-py'."""

    def __init__(self, options: dict):
        try:
            import nats
        except ImportError as e:  # pragma: no cover - depends on env
            raise ImportError(
                "NATS connector requires the 'nats-py' client library "
                "(pip install nats-py), or pass clientFactory pointing at a "
                "compatible adapter builder") from e
        import asyncio
        self._loop = asyncio.new_event_loop()
        self._nc = self._run(nats.connect(
            options.get("servers", "nats://localhost:4222").split(",")))
        self._js = self._nc.jetstream()

    def _run(self, coro):
        return self._loop.run_until_complete(coro)

    def last_sequence(self, stream: str) -> int:
        info = self._run(self._js.stream_info(stream))
        return info.state.last_seq

    def fetch_range(self, stream: str, start_exclusive: int, end_inclusive: int):
        # direct get-by-sequence: deterministic replay of (start, end];
        # sequences deleted by retention raise NotFound and are skipped
        from nats.js.errors import NotFoundError
        for seq in range(start_exclusive + 1, end_inclusive + 1):
            try:
                msg = self._run(self._js.get_msg(stream, seq))
            except NotFoundError:
                continue
            yield seq, msg.subject, bytes(msg.data or b"")

    def publish(self, subject: str, payload: bytes):
        self._run(self._js.publish(subject, payload))

    def close(self):
        try:
            self._run(self._nc.drain())
        finally:
            self._loop.close()


def _stream_name(options: dict) -> str:
    s = options.get("stream")
    if not s:
        raise ValueError("NATS JetStream connector requires option 'stream'")
    return s


class _SeqRange(InputPartition):
    def __init__(self, stream: str, start: int, end: int):
        self.stream = stream
        self.start = start
        self.end = end


def _read_range(options: dict, part: _SeqRange) -> Iterator[tuple]:
    if part.start >= part.end:
        return
    with connected(options, NatsPyAdapter) as adapter:
        yield from adapter.fetch_range(part.stream, part.start, part.end)


class NatsBatchReader(DataSourceReader):
    """Bounded read of a stream's current contents, split into
    ``numPartitions`` contiguous sequence ranges (sequence-range reads
    are independent, so they parallelize exactly like file splits)."""

    def __init__(self, options: dict):
        self.options = dict(options)

    def partitions(self):
        stream = _stream_name(self.options)
        with connected(self.options, NatsPyAdapter) as adapter:
            last = adapter.last_sequence(stream)
        n = max(1, int(self.options.get("numpartitions", "4")))
        step = max(1, (last + n - 1) // n)
        return [_SeqRange(stream, lo, min(lo + step, last))
                for lo in range(0, last, step)] or [_SeqRange(stream, 0, 0)]

    def read(self, partition: _SeqRange):
        yield from _read_range(self.options, partition)


class NatsStreamReader(ClientReader, DataSourceStreamReader):
    """Micro-batch reader: offsets are ``{"seq": last_stream_sequence}``."""

    default_client = NatsPyAdapter

    def __init__(self, options: dict):
        super().__init__(options)
        self.stream = _stream_name(self.options)
        self.fetch_batch = int(
            self.options.get("fetchbatchsize", str(DEFAULT_FETCH_BATCH)))

    def initialOffset(self) -> dict:
        if self.options.get("deliverpolicy", "all") == "new":
            # DeliverNewPolicy analogue: start at the current tail
            return {"seq": self._cli().last_sequence(self.stream)}
        return {"seq": 0}

    def latestOffset(self) -> dict:
        cur = getattr(self, "_last", None)
        if cur is None:
            cur = self.initialOffset()
        last = self._cli().last_sequence(self.stream)
        # advance at most fetchBatchSize sequences per trigger
        # (FetchBatchSize, nats_jetstream.go:58-67)
        nxt = {"seq": min(last, cur["seq"] + self.fetch_batch)}
        self._last = nxt
        return nxt

    def partitions(self, start: dict, end: dict):
        # RESTART REPAIR: the Python DS protocol restores no offsets, so
        # after recovery a fresh reader's rate-cap cursor would re-plan
        # delivered ranges. partitions() always sees the true logged
        # offsets — advance the cursor to their high-water mark. (With
        # no durable server-side cursor, a clean-stop restart is
        # at-least-once; pair with idempotent/batchId-keyed sinks.)
        cur = getattr(self, "_last", None)
        hi = max(start["seq"], end["seq"])
        if cur is None or hi > cur["seq"]:
            self._last = {"seq": hi}
        return [_SeqRange(self.stream, start["seq"], end["seq"])]

    def read(self, partition: _SeqRange):
        yield from _read_range(self.options, partition)

    def commit(self, end: dict):
        # The checkpointed offset IS the ack floor: per-message Ack in
        # the reference (nats_jetstream.go:135-140) prevents redelivery,
        # which offset-range replay already guarantees. No server call.
        pass


def _publish_rows(options: dict, iterator) -> int:
    """Executor-side publish loop (nats_jetstream.go:239-275): each
    row's ``data`` column (or sole column) is published to ``subject``
    — per-row override via a ``subject`` column when present."""
    subject = options.get("subject")
    n = 0
    with connected(options, NatsPyAdapter) as adapter:
        for row in iterator:
            d = row.asDict()
            subj = d.get("subject") or subject
            if not subj:
                raise ValueError(
                    "NATS sink requires option 'subject' or a subject column")
            adapter.publish(
                subj, to_bytes(d.get("data", d.get("value", d.get("payload")))))
            n += 1
    return n


class NatsJetStreamDataSource(DataSource):
    """``format("gss_nats_jetstream")`` — options:

    - ``stream``: JetStream stream name (source)
    - ``subject``: publish subject (sink; per-row ``subject`` column wins)
    - ``fetchBatchSize``: per-trigger sequence cap (default 256)
    - ``deliverPolicy``: ``all`` (history) | ``new`` (tail only)
    - ``servers``: comma-separated NATS URLs (real client)
    - ``clientFactory``: ``module:function`` adapter injection hook
    """

    @classmethod
    def name(cls):
        return NATS_SOURCE_NAME

    def schema(self):
        return NATS_SCHEMA

    def reader(self, schema):
        return NatsBatchReader(self.options)

    def streamReader(self, schema):
        return NatsStreamReader(self.options)

    def writer(self, schema, overwrite):
        if overwrite:
            raise ValueError("JetStream streams are append-only; use append")
        return RowWriter(self.options, _publish_rows)

    def streamWriter(self, schema, overwrite):
        return RowWriter(self.options, _publish_rows)


def register_nats_source(spark) -> str:
    spark.dataSource.register(NatsJetStreamDataSource)
    return NATS_SOURCE_NAME
