"""Broker result cache: answers keyed on (request text, view generation).

The engine serves every table through the temp views it publishes
(``Engine.register_view`` and the other publish sites).  Between two
publishes a deterministic statement that reads nothing but those views has
exactly one answer, so a live dashboard re-issuing the same SQL can be
served from memory instead of re-running its Spark jobs.

The **view generation** is a counter the engine bumps whenever it publishes
or drops a view, or runs a SQL command.  A publish brackets the view
changes: the generation goes up and the store empties when it begins, and
while any publish is in progress no request reads or writes the store, so
no answer computed against a half-published set of views is ever stored.
An answer is stored only if the generation it started under is still
current when it finishes.

Concurrent identical misses are single-flight: the first request of a
(text, generation) pair runs the statement, later ones wait for it and
share its stored answer.  A waiter whose leader's answer could not be
stored runs the statement itself.

Stored answers are pickled, so every hit unpickles fresh objects: a caller
may mutate what it gets back without changing the store.
"""

from __future__ import annotations

import pickle
import threading
from collections import OrderedDict
from contextlib import contextmanager
from typing import Callable

# At most this many stored answers (least recently used evicted first) ...
MAX_ENTRIES = 128
# ... each at most this many pickled bytes; a larger answer is not stored.
MAX_RESULT_BYTES = 256 * 1024


class _Flight:
    """One in-flight miss; waiters block on ``done``.  ``blob`` is the
    stored answer, or None when the leader's answer could not be stored."""

    __slots__ = ("done", "blob")

    def __init__(self) -> None:
        self.done = threading.Event()
        self.blob: bytes | None = None


class ResultCache:
    """Bounded, generation-keyed answer store with single-flight misses."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._generation = 0
        self._publishing = 0
        self._entries: OrderedDict[tuple[int, str], bytes] = OrderedDict()
        self._flights: dict[tuple[int, str], _Flight] = {}
        self._stats = dict.fromkeys(
            ("hits", "misses", "coalesced", "stores", "invalidations"), 0
        )

    def _invalidate(self) -> None:
        # caller holds the lock
        self._generation += 1
        self._entries.clear()
        self._stats["invalidations"] += 1

    def invalidate(self) -> None:
        """Start a new generation after a change that already happened
        (a SQL command such as DDL, ``CACHE`` or ``REFRESH``)."""
        with self._lock:
            self._invalidate()

    @contextmanager
    def publishing(self):
        """Bracket a change to the published views: a new generation
        starts when it begins, and nothing is looked up or stored until
        every open bracket has closed."""
        with self._lock:
            self._publishing += 1
            self._invalidate()
        try:
            yield
        finally:
            with self._lock:
                self._publishing -= 1

    def serve(
        self,
        key: str,
        run: Callable[[], tuple[object, bool]],
        wait_s: float | None,
    ) -> tuple[object | None, str]:
        """Answer ``key`` from the store, from an identical in-flight miss,
        or by calling ``run() -> (answer, storable)``.

        Returns ``(answer, how)`` with ``how`` one of ``"hit"`` (stored
        answer), ``"coalesced"`` (a leader's answer) or ``"run"`` (this
        call ran the statement).  ``answer`` is None only when waiting for
        a leader took longer than ``wait_s`` seconds.
        """
        leader = waiting = None
        with self._lock:
            if self._publishing:
                gen = None  # views are changing: neither look up nor store
            else:
                gen = self._generation
                blob = self._entries.get((gen, key))
                if blob is not None:
                    self._entries.move_to_end((gen, key))
                    self._stats["hits"] += 1
                    return pickle.loads(blob), "hit"
                waiting = self._flights.get((gen, key))
                if waiting is None:
                    leader = self._flights[(gen, key)] = _Flight()
            self._stats["misses" if waiting is None else "coalesced"] += 1
        if waiting is not None:
            if not waiting.done.wait(wait_s):
                return None, "coalesced"
            if waiting.blob is not None:
                return pickle.loads(waiting.blob), "coalesced"
            with self._lock:
                self._stats["misses"] += 1
            return run()[0], "run"
        blob = None
        try:
            answer, storable = run()
            if storable and leader is not None:
                blob = pickle.dumps(answer, protocol=pickle.HIGHEST_PROTOCOL)
                if len(blob) > MAX_RESULT_BYTES:
                    blob = None
        finally:
            if leader is not None:
                with self._lock:
                    if (
                        blob is not None
                        and not self._publishing
                        and self._generation == gen
                    ):
                        self._entries[(gen, key)] = blob
                        self._stats["stores"] += 1
                        while len(self._entries) > MAX_ENTRIES:
                            self._entries.popitem(last=False)
                        leader.blob = blob
                    del self._flights[(gen, key)]
                leader.done.set()
        return answer, "run"

    def stats(self) -> dict:
        """Counters since the engine started: ``hits`` (served from the
        store), ``misses`` (statement executions), ``coalesced`` (requests
        that waited on an identical in-flight miss), ``stores`` and
        ``invalidations`` (generation bumps); plus the current ``entries``
        and ``generation``."""
        with self._lock:
            return {
                **self._stats,
                "entries": len(self._entries),
                "generation": self._generation,
            }
