"""File-backed fake of the WebSocket connection-adapter API the
connector uses (see sources/websocket.py for the protocol and its real
``websockets`` implementation).

WebSocket model mirrored: a duplex frame stream — frames sent while a
client is connected are delivered to it; frames sent before it connected
are gone (at-most-once, no history). The fake keeps a frame log per URL
in a JSON file; "connecting" records the current tail position so only
later frames are received, exactly like a real socket.
"""

from __future__ import annotations

from ._filestate import FileState

TEXT_MESSAGE = 1    # websocket.TextMessage (gorilla/websocket constants)
BINARY_MESSAGE = 2  # websocket.BinaryMessage


class _FakeConnection:
    def __init__(self, server: "FakeWebSocketServer", url: str):
        self._server = server
        self.url = url
        self._pos = len(server._frames(url))

    def recv(self, timeout: float = 0.0):
        frames = self._server._frames(self.url)
        if self._pos < len(frames):
            msg_type, data = frames[self._pos]
            self._pos += 1
            return msg_type, data.encode("utf-8")
        return None

    def send(self, payload: bytes, msg_type: int = TEXT_MESSAGE):
        self._server.push(self.url, payload, msg_type)

    def close(self):
        pass


class FakeWebSocketServer(FileState):
    EMPTY = {"urls": {}}

    def _frames(self, url: str) -> list:
        return self._read()["urls"].get(url, [])

    def push(self, url: str, payload, msg_type: int = TEXT_MESSAGE):
        data = payload.decode("utf-8") if isinstance(payload, bytes) else str(payload)
        with self._locked():
            state = self._read()
            state["urls"].setdefault(url, []).append([msg_type, data])
            self._write(state)

    # -- adapter protocol ----------------------------------------------
    def connect(self, url: str) -> _FakeConnection:
        return _FakeConnection(self, url)


fake_websocket_factory = FakeWebSocketServer.from_options
