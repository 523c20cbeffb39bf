"""One JSON file as a fake broker's whole server state.

The Spark driver, the executor Python workers and the test process each
build their own fake over the same path, so every read goes to the file
and every read-modify-write runs under an exclusive ``fcntl.flock``;
writes land through an atomic rename, so a reader never sees half a
state.
"""

from __future__ import annotations

import copy
import fcntl
import json
import os
from contextlib import contextmanager


class FileState:
    """Base of the file-backed fakes: ``EMPTY`` is the state of a server
    that has never been written to."""

    EMPTY: dict = {}

    def __init__(self, path: str):
        self.path = path
        if not os.path.exists(path):
            self._write(self.EMPTY)

    @classmethod
    def from_options(cls, options: dict):
        """``clientFactory`` hook: a fake over option ``fakePath``."""
        path = options.get("fakepath") or options.get("fakePath")
        if not path:
            raise ValueError(f"{cls.__name__} factory requires option 'fakePath'")
        return cls(path)

    @contextmanager
    def _locked(self):
        lock = open(self.path + ".lock", "w")
        try:
            fcntl.flock(lock, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)
            lock.close()

    def _read(self) -> dict:
        try:
            with open(self.path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return copy.deepcopy(self.EMPTY)

    def _write(self, state: dict):
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)

    def close(self):
        pass
