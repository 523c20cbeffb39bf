"""WebSocket source/sink as a Spark Python Data Source.

Reference semantics being reproduced (websocket/web_socket.go):

- ``Source`` (web_socket.go:33,65-95): dial the URL, read frames,
  emit ``Message{MsgType, Payload}``.
- ``Sink`` (web_socket.go:120,152-180): write each element as a frame
  with a configurable message type (Text/Binary).

Spark-first shape: a WebSocket has no server-side replay — a frame not
read while connected is gone, so the source is **at-most-once**, like
the reference. The faithful Spark construct is a driver-side reader
(``SimpleDataSourceStreamReader``): connect once, drain pending frames
each trigger, keep a bounded in-memory tail so an uncommitted
micro-batch can be replayed within the process lifetime (the same shape
as the Redis Pub/Sub source). This is a control-plane/low-throughput
source by construction; high-throughput ingestion belongs on a
replayable log (Kafka/JetStream/Redis streams).

Adapter protocol (injected via ``clientFactory``): ``connect(url)``
returning a connection with ``recv(timeout) -> (msg_type, bytes) |
None``, ``send(payload, msg_type)``, ``close()``. The default adapter
uses the real ``websockets`` sync client; tests inject the file-backed
FakeWebSocketServer.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource

from ._broker import RowWriter, TailReader, resolve_factory, to_bytes

WEBSOCKET_SOURCE_NAME = "gss_websocket"
WEBSOCKET_SCHEMA = "msg_type int, payload binary"

TEXT_MESSAGE = 1
BINARY_MESSAGE = 2


class WebsocketsAdapter:
    """Real adapter over the ``websockets`` sync client."""

    def __init__(self, options: dict):
        try:
            from websockets.sync import client  # noqa: F401
        except ImportError as e:  # pragma: no cover - depends on env
            raise ImportError(
                "WebSocket connector requires the 'websockets' library "
                "(pip install websockets), or pass clientFactory pointing at "
                "a compatible adapter builder") from e

    def connect(self, url: str):
        from websockets.sync import client

        class _Conn:
            def __init__(self):
                self._ws = client.connect(url)

            def recv(self, timeout: float = 0.0):
                try:
                    frame = self._ws.recv(timeout=timeout)
                except TimeoutError:
                    return None
                if isinstance(frame, str):
                    return TEXT_MESSAGE, frame.encode("utf-8")
                return BINARY_MESSAGE, bytes(frame)

            def send(self, payload: bytes, msg_type: int = TEXT_MESSAGE):
                if msg_type == TEXT_MESSAGE:
                    self._ws.send(payload.decode("utf-8", "replace"))
                else:
                    self._ws.send(payload)

            def close(self):
                self._ws.close()

        return _Conn()


def _url(options: dict) -> str:
    u = options.get("url")
    if not u:
        raise ValueError("WebSocket connector requires option 'url'")
    return u


class WebSocketStreamReader(TailReader):
    """Driver-side frame reader; offsets count frames consumed since
    connect. Committed prefix is trimmed; uncommitted ranges replay from
    the in-memory tail; across restarts delivery is at-most-once."""

    default_client = WebsocketsAdapter

    def __init__(self, options: dict):
        super().__init__(options)
        self.url = _url(self.options)

    def _open(self, adapter):
        return adapter.connect(self.url)

    _c = TailReader._cli  # connect now, before the first trigger

    def _poll(self):
        conn = self._c()
        while (frame := conn.recv(timeout=0.01)) is not None:
            yield frame


def _send_frames(options: dict, iterator) -> int:
    """Frame writer (web_socket.go:152-180): each row's ``payload`` is
    sent as one frame; ``msg_type`` column (or ``messageType`` option)
    selects Text(1)/Binary(2)."""
    default_type = int(options.get("messagetype", str(TEXT_MESSAGE)))
    conn = resolve_factory(options, WebsocketsAdapter)(options).connect(_url(options))
    n = 0
    try:
        for row in iterator:
            d = row.asDict()
            conn.send(to_bytes(d.get("payload", d.get("value", d.get("data")))),
                      int(d.get("msg_type") or default_type))
            n += 1
    finally:
        conn.close()
    return n


class WebSocketDataSource(DataSource):
    """``format("gss_websocket")`` — options: ``url``, ``messageType``
    (sink default frame type), ``clientFactory`` injection hook."""

    @classmethod
    def name(cls):
        return WEBSOCKET_SOURCE_NAME

    def schema(self):
        return WEBSOCKET_SCHEMA

    def simpleStreamReader(self, schema):
        return WebSocketStreamReader(self.options)

    def streamWriter(self, schema, overwrite):
        _url(self.options)
        return RowWriter(self.options, _send_frames)


def register_websocket_source(spark) -> str:
    spark.dataSource.register(WebSocketDataSource)
    return WEBSOCKET_SOURCE_NAME
