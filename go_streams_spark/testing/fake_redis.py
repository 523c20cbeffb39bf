"""File-backed fake of the redis-py client API subset the connectors use.

Implements ``xadd / xrange / xrevrange / xlen / xgroup_create /
xgroup_setid / xack / publish / pubsub`` with redis semantics (entry IDs
are ``"<ms>-<seq>"`` strings, ``(`` prefixes mean exclusive range
bounds, ``XGROUP CREATE`` on an existing group raises BUSYGROUP).
State lives in one JSON file guarded by ``fcntl.flock``, so the Spark
driver, executor Python workers, and the test process all see the same
"server".
"""

from __future__ import annotations

from ._filestate import FileState


def parse_id(entry_id: str) -> tuple[int, int]:
    ms, _, seq = entry_id.partition("-")
    return int(ms), int(seq or 0)


def format_id(ms: int, seq: int) -> str:
    return f"{ms}-{seq}"


def next_id(entry_id: str) -> str:
    ms, seq = parse_id(entry_id)
    return format_id(ms, seq + 1)


class BusyGroupError(Exception):
    """Mirrors redis.ResponseError('BUSYGROUP Consumer Group name already exists')."""

    def __init__(self):
        super().__init__("BUSYGROUP Consumer Group name already exists")


class _FakePubSub:
    """Driver-side stand-in for redis-py's PubSub object: tracks a read
    position per subscribed channel into the file-backed message log."""

    def __init__(self, server: "FakeRedis"):
        self._server = server
        self._positions: dict[str, int] = {}

    def subscribe(self, *channels: str):
        state = self._server._read()
        for ch in channels:
            log = state.get("pubsub", {}).get(ch, [])
            # real SUBSCRIBE only sees messages published after it
            self._positions[ch] = len(log)

    def get_message(self, ignore_subscribe_messages: bool = True,
                    timeout: float = 0.0):
        state = self._server._read()
        for ch, pos in self._positions.items():
            log = state.get("pubsub", {}).get(ch, [])
            if pos < len(log):
                self._positions[ch] = pos + 1
                return {"type": "message", "channel": ch,
                        "pattern": None, "data": log[pos]}
        return None

    def close(self):
        self._positions.clear()


class FakeRedis(FileState):
    """Minimal file-backed redis server + client in one object."""

    EMPTY = {"streams": {}, "pubsub": {}}

    def _stream(self, state: dict, name: str) -> dict:
        return state["streams"].setdefault(
            name, {"entries": [], "last_id": "0-0", "groups": {}})

    # -- stream commands ------------------------------------------------
    def xadd(self, name: str, fields: dict, id: str = "*") -> str:
        with self._locked():
            state = self._read()
            s = self._stream(state, name)
            if id == "*":
                new = next_id(s["last_id"])
            else:
                new = id
                if parse_id(new) <= parse_id(s["last_id"]):
                    raise ValueError(
                        "ERR The ID specified in XADD is equal or smaller than "
                        "the target stream top item")
            s["entries"].append([new, {str(k): str(v) for k, v in fields.items()}])
            s["last_id"] = new
            self._write(state)
            return new

    @staticmethod
    def _bound(raw: str, default: tuple[int, int], exclusive_bump: int):
        if raw in ("-", "+"):
            return default, False
        if raw.startswith("("):
            return parse_id(raw[1:]), True
        return parse_id(raw), False

    def xrange(self, name: str, min: str = "-", max: str = "+",
               count: int | None = None):
        lo, lo_excl = self._bound(min, (0, 0), 1)
        hi, hi_excl = self._bound(max, (2**63 - 1, 2**63 - 1), -1)
        out = []
        for eid, fields in self._read()["streams"].get(name, {"entries": []})["entries"]:
            p = parse_id(eid)
            if (p > lo if lo_excl else p >= lo) and (p < hi if hi_excl else p <= hi):
                out.append((eid, dict(fields)))
                if count is not None and len(out) >= count:
                    break
        return out

    def xrevrange(self, name: str, max: str = "+", min: str = "-",
                  count: int | None = None):
        rows = self.xrange(name, min, max)
        rows.reverse()
        return rows if count is None else rows[:count]

    def xlen(self, name: str) -> int:
        return len(self._read()["streams"].get(name, {"entries": []})["entries"])

    def xinfo_stream(self, name: str) -> dict:
        s = self._read()["streams"].get(name)
        if s is None:
            raise ValueError("ERR no such key")
        return {"length": len(s["entries"]), "last-generated-id": s["last_id"]}

    def xgroup_create(self, name: str, groupname: str, id: str = "$",
                      mkstream: bool = False):
        with self._locked():
            state = self._read()
            if name not in state["streams"] and not mkstream:
                raise ValueError(
                    "ERR The XGROUP subcommand requires the key to exist")
            s = self._stream(state, name)
            if groupname in s["groups"]:
                raise BusyGroupError()
            start = s["last_id"] if id == "$" else id
            s["groups"][groupname] = {"last_delivered": start, "pending": []}
            self._write(state)
            return True

    def xinfo_groups(self, name: str) -> list:
        s = self._read()["streams"].get(name)
        if s is None:
            raise ValueError("ERR no such key")
        return [{"name": g, "last-delivered-id": info["last_delivered"],
                 "pending": len(info["pending"])}
                for g, info in s["groups"].items()]

    def xgroup_setid(self, name: str, groupname: str, id: str):
        with self._locked():
            state = self._read()
            s = self._stream(state, name)
            s["groups"].setdefault(groupname, {"last_delivered": "0-0",
                                               "pending": []})
            s["groups"][groupname]["last_delivered"] = \
                s["last_id"] if id == "$" else id
            self._write(state)
            return True

    def xack(self, name: str, groupname: str, *ids: str) -> int:
        with self._locked():
            state = self._read()
            g = self._stream(state, name)["groups"].get(groupname)
            if not g:
                return 0
            n = len([i for i in ids if i in g["pending"]])
            g["pending"] = [i for i in g["pending"] if i not in ids]
            self._write(state)
            return n

    # -- pub/sub commands -----------------------------------------------
    def publish(self, channel: str, message) -> int:
        with self._locked():
            state = self._read()
            state.setdefault("pubsub", {}).setdefault(channel, []).append(
                str(message))
            self._write(state)
            return 1

    def pubsub(self) -> _FakePubSub:
        return _FakePubSub(self)


fake_redis_factory = FakeRedis.from_options
