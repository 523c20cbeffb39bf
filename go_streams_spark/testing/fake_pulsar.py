"""File-backed fake of the Pulsar client-adapter API the connector uses
(see sources/pulsar.py for the adapter protocol and its real
pulsar-client implementation).

Pulsar model mirrored: a *topic* is an append-only message log; every
message gets a MessageId that totally orders the topic; a Reader can be
positioned at any MessageId and read forward (the replay primitive the
connector builds offsets on). The fake serializes MessageIds as
``"<ledger>:<entry>"`` strings with a single ledger.
"""

from __future__ import annotations

from ._filestate import FileState


def _mid(entry: int) -> str:
    return f"0:{entry}"


def _entry(mid: str) -> int:
    return int(mid.split(":")[1])


EARLIEST = "0:-1"


class FakePulsarClient(FileState):
    EMPTY = {"topics": {}}

    # -- adapter protocol ----------------------------------------------
    def publish(self, topic: str, payload: bytes, key: str | None = None) -> str:
        data = payload.decode("utf-8") if isinstance(payload, bytes) else str(payload)
        with self._locked():
            state = self._read()
            t = state["topics"].setdefault(topic, {"messages": []})
            entry = len(t["messages"])
            t["messages"].append([_mid(entry), key, data])
            self._write(state)
            return _mid(entry)

    def last_message_id(self, topic: str) -> str:
        msgs = self._read()["topics"].get(topic, {"messages": []})["messages"]
        return _mid(len(msgs) - 1) if msgs else EARLIEST

    def read_range(self, topic: str, start_exclusive: str, end_inclusive: str):
        lo, hi = _entry(start_exclusive), _entry(end_inclusive)
        msgs = self._read()["topics"].get(topic, {"messages": []})["messages"]
        for mid, key, data in msgs:
            e = _entry(mid)
            if lo < e <= hi:
                yield mid, key, data.encode("utf-8")

    @staticmethod
    def compare_ids(a: str, b: str) -> int:
        return (_entry(a) > _entry(b)) - (_entry(a) < _entry(b))


fake_pulsar_factory = FakePulsarClient.from_options
