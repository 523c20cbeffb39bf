"""File-backed fake of the JetStream client-adapter API the NATS
connector uses (see sources/nats_jetstream.py for the adapter protocol
and its real nats-py implementation).

JetStream model mirrored: a *stream* persists messages published to its
bound *subjects*; every stored message gets a dense monotonically
increasing stream sequence number; messages can be fetched by sequence
(the replay primitive the connector builds offsets on).
"""

from __future__ import annotations

from ._filestate import FileState


class FakeJetStream(FileState):
    """Minimal file-backed JetStream server + adapter in one object."""

    EMPTY = {"streams": {}}

    # -- admin ----------------------------------------------------------
    def add_stream(self, name: str, subjects: list[str]):
        with self._locked():
            state = self._read()
            state["streams"].setdefault(
                name, {"subjects": subjects, "messages": [], "last_seq": 0})
            self._write(state)

    @staticmethod
    def _matches(pattern: str, subject: str) -> bool:
        """NATS subject matching: '.'-separated tokens, '*' = one token,
        '>' = rest."""
        pt, st = pattern.split("."), subject.split(".")
        for i, tok in enumerate(pt):
            if tok == ">":
                return True
            if i >= len(st) or (tok != "*" and tok != st[i]):
                return False
        return len(pt) == len(st)

    # -- adapter protocol ----------------------------------------------
    def publish(self, subject: str, payload: bytes):
        data = payload.decode("utf-8") if isinstance(payload, bytes) else str(payload)
        with self._locked():
            state = self._read()
            for s in state["streams"].values():
                if any(self._matches(p, subject) for p in s["subjects"]):
                    s["last_seq"] += 1
                    s["messages"].append([s["last_seq"], subject, data])
                    self._write(state)
                    return s["last_seq"]
            raise ValueError(f"no stream bound to subject {subject!r}")

    def last_sequence(self, stream: str) -> int:
        s = self._read()["streams"].get(stream)
        if s is None:
            raise ValueError(f"stream not found: {stream}")
        return s["last_seq"]

    def fetch_range(self, stream: str, start_exclusive: int,
                    end_inclusive: int):
        s = self._read()["streams"].get(stream, {"messages": []})
        for seq, subject, data in s["messages"]:
            if start_exclusive < seq <= end_inclusive:
                yield seq, subject, data.encode("utf-8")


fake_nats_factory = FakeJetStream.from_options
