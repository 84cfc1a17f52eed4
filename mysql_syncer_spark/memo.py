"""One memo discipline for every process-wide driver-side memo.

A memo entry belongs to the SparkSession that built it: a DataFrame or
Column holds JVM refs that die with their session, and a value derived
from a session's reads is only known to hold while that session lives.
:class:`SessionMemo` keys every entry by its owning session's UUID (one
py4j call: the Python wrappers of one JVM session, such as the one
``foreachBatch`` makes per batch, share their entries), serves it only
while that session is live, drops a stopped session's entries at the
next insert, and keeps at most ``max_entries`` entries (the oldest go
first). Live sessions never evict each other.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable
from typing import Generic, TypeVar

V = TypeVar("V")


def _live(session) -> bool:
    """Whether ``session``'s SparkContext still runs (``stop()`` drops
    ``_jsc``); no py4j call. A session without one is never memoized."""
    return getattr(getattr(session, "_sc", None), "_jsc", None) is not None


class SessionMemo(Generic[V]):
    """A bounded, lock-guarded ``(session, key) -> value`` memo.

    ``build`` runs outside the lock, so a slow build never blocks other
    callers; two threads that miss one key both build it, and the later
    store wins."""

    def __init__(self, max_entries: int = 256):
        self.max_entries = max_entries
        self._lock = threading.Lock()
        #: (session UUID, key) -> (session, value)
        self._entries: dict[tuple, tuple[object, V]] = {}

    def get(self, session, key: Hashable, build: Callable[[], V]) -> V:
        """The value memoized for ``key`` under ``session``, or
        ``build()`` stored there on a miss."""
        if not _live(session):
            return build()
        k = (session._jsparkSession.sessionUUID(), key)
        with self._lock:
            hit = self._entries.get(k)
        if hit is not None:
            return hit[1]
        value = build()
        with self._lock:
            for stale in [k2 for k2, (s, _) in self._entries.items()
                          if not _live(s)]:
                del self._entries[stale]
            while len(self._entries) >= self.max_entries:
                del self._entries[next(iter(self._entries))]
            self._entries[k] = (session, value)
        return value

    def __contains__(self, session_key: tuple) -> bool:
        session, key = session_key
        return (session._jsparkSession.sessionUUID(), key) in self._entries

    def __len__(self) -> int:
        return len(self._entries)
