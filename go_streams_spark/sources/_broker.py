"""Shared core of the broker connectors (redis_stream.py,
nats_jetstream.py, pulsar.py, websocket.py, aerospike.py).

Every connector codes against an injectable client: the
``clientFactory`` option (``"module:function"``, called with the
lower-cased option dict) or the connector's real-client default. This
module owns that lookup and the Data Source plumbing the connectors
share: one row writer for batch and streaming sinks, one lazily opened
reader client, and one driver-side tail buffer for sources with no
server-side replay. A connector module keeps only its real-client
adapter, its offset model, its executor-side row loop and its
``DataSource`` registration class.
"""

from __future__ import annotations

import importlib
from contextlib import contextmanager

from pyspark.sql.datasource import (
    DataSourceStreamWriter,
    DataSourceWriter,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


def resolve_factory(options: dict, default):
    """The client builder: the ``clientFactory`` option's
    ``module:function``, else ``default`` (the real-client builder)."""
    spec = options.get("clientfactory")
    if not spec:
        return default
    mod, _, fn = spec.partition(":")
    return getattr(importlib.import_module(mod), fn)


@contextmanager
def connected(options: dict, default):
    """One client for the length of a block (an executor task or a
    driver-side planning call), closed when the block ends."""
    client = resolve_factory(options, default)(options)
    try:
        yield client
    finally:
        client.close()


def to_bytes(payload) -> bytes:
    """A row's payload as wire bytes: None is empty, text is UTF-8, and
    anything not bytes-like is stringified first."""
    if payload is None:
        return b""
    if isinstance(payload, str):
        return payload.encode("utf-8")
    if isinstance(payload, (bytes, bytearray, memoryview)):
        return bytes(payload)
    return str(payload).encode("utf-8")


class RowCount(WriterCommitMessage):
    """Per-task commit message: the number of rows the task sent."""

    def __init__(self, rows: int):
        self.rows = rows


class RowWriter(DataSourceWriter, DataSourceStreamWriter):
    """Batch and streaming sink in one class: each task runs
    ``rows_fn(options, rows)``, which sends every row as it goes and
    returns the count. Sends are immediate, so commit and abort have
    nothing to do: delivery is at-least-once, as in the reference
    sinks (a keyed upsert sink makes replays idempotent)."""

    def __init__(self, options: dict, rows_fn):
        self.options = dict(options)
        self.rows_fn = rows_fn

    def write(self, iterator):
        return RowCount(self.rows_fn(self.options, iterator))

    def commit(self, messages, batchId=None):
        pass

    def abort(self, messages, batchId=None):
        pass


class ClientReader:
    """Reader state: the options plus one client, opened on first use
    and dropped before pickling (network clients don't pickle, and Spark
    ships readers to executors)."""

    default_client = None  # the connector's real-client builder

    def __init__(self, options: dict):
        self.options = dict(options)
        self._client = None

    def __getstate__(self):
        state = dict(self.__dict__)
        state["_client"] = None
        return state

    def _cli(self):
        if self._client is None:
            self._client = self._open(resolve_factory(
                self.options, self.default_client)(self.options))
        return self._client

    def _open(self, client):
        """Hook: prepare a fresh client (create a consumer group,
        subscribe, connect); returns what ``_cli()`` hands out."""
        return client


class TailReader(ClientReader, SimpleDataSourceStreamReader):
    """Driver-side reader for a source with no server-side replay
    (pub/sub, WebSocket). Each trigger appends what ``_poll()`` drains
    to an in-memory tail; offsets ``{"n": k}`` count rows consumed since
    the client opened, an uncommitted range replays from the tail, and
    commit trims the tail below it. Across driver restarts delivery is
    at-most-once, as in the reference."""

    def __init__(self, options: dict):
        super().__init__(options)
        self._buffer: list[tuple] = []  # rows consumed, index = offset - base
        self._base = 0

    def _poll(self):
        """Yield the rows that arrived since the last poll."""
        raise NotImplementedError

    def initialOffset(self) -> dict:
        return {"n": 0}

    def read(self, start: dict):
        self._buffer.extend(self._poll())
        rows = self._buffer[max(start["n"] - self._base, 0):]
        return iter(rows), {"n": self._base + len(self._buffer)}

    def readBetweenOffsets(self, start: dict, end: dict):
        # rows below the base were lost with a restart (at-most-once)
        lo = max(start["n"] - self._base, 0)
        return iter(self._buffer[lo:end["n"] - self._base])

    def commit(self, end: dict):
        keep = end["n"] - self._base
        if keep > 0:
            self._buffer = self._buffer[keep:]
            self._base = end["n"]
