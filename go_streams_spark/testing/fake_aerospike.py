"""File-backed fake of the Aerospike client-adapter API the connector
uses (see sources/aerospike.py for the protocol and its real
``aerospike`` client implementation).

Aerospike model mirrored: records live in a (namespace, set) keyed by a
user key; each record is a bin map plus metadata including the
last-update time (the CDC cursor the reference's polling source filters
on, aerospike/aerospike.go:104-124).
"""

from __future__ import annotations

from ._filestate import FileState


class FakeAerospike(FileState):
    EMPTY = {"records": {}, "clock": 0}

    @staticmethod
    def _rkey(namespace: str, set_name: str, key: str) -> str:
        return f"{namespace}|{set_name}|{key}"

    # -- adapter protocol ----------------------------------------------
    def put_batch(self, namespace: str, set_name: str,
                  records: list[tuple[str, dict]]):
        """One batched write call (the BatchOperate analogue,
        aerospike/aerospike.go:317-332)."""
        with self._locked():
            state = self._read()
            state["clock"] += 1
            now = state["clock"]
            for key, bins in records:
                state["records"][self._rkey(namespace, set_name, key)] = {
                    "bins": dict(bins), "last_update": now}
            self._write(state)

    def scan(self, namespace: str, set_name: str, since_update: int = 0):
        """Full-set scan, optionally filtered by last-update > cursor
        (ExpLastUpdate, aerospike/aerospike.go:104-124)."""
        prefix = f"{namespace}|{set_name}|"
        for rkey, rec in self._read()["records"].items():
            if rkey.startswith(prefix) and rec["last_update"] > since_update:
                yield rkey[len(prefix):], dict(rec["bins"]), rec["last_update"]

    def max_last_update(self, namespace: str, set_name: str) -> int:
        prefix = f"{namespace}|{set_name}|"
        return max((rec["last_update"]
                    for rkey, rec in self._read()["records"].items()
                    if rkey.startswith(prefix)), default=0)


fake_aerospike_factory = FakeAerospike.from_options
