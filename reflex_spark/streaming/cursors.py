"""Cursor stores: per-consumer offsets (reference api.go:169-179).

Parity notes:
- Monotonic guard — a cursor set-back is rejected, mirroring the MySQL
  store's `WHERE cursor < ?` update + dup-key regression error
  (rsql/db.go:265-291).
- FileCursorStore persists each set with ``commits.replace_json``
  (fsync, then atomic rename; crash-safe like the reference's SQL txn):
  a set that returned is on disk, matching Spark's commit-per-microbatch
  model (SURVEY.md §4). A failed set keeps the previous cursor.
- BufferedCursorStore is the reference's async flush buffer
  (rsql/cursorstable.go:43,169-230): sets coalesce in memory and reach
  the durable store at most once per flush interval, cutting cursor-write
  QPS for high-batch-rate consumers; stop/close flushes (the run loop
  calls flush() in its finally). Crash cost: up to one interval of
  cursor progress is redelivered — at-least-once preserved (the buffer
  only delays writes, never advances them).
- MemCursorStore mirrors rpatterns/cursor.go:70-119 (tests/seeding).
- ReadThroughCursorStore mirrors rpatterns/cursor.go:22-62 (migration).
- Cursors are int by default but stores also accept strings
  (WithCursorStrings, rsql/cursorstable.go:17-44): the monotonic guard
  compares values of whichever type is stored — mixing types for one
  consumer raises, mirroring the MySQL string/int comparison hazard note
  (rsql/db.go:259-261).
"""

from __future__ import annotations

import json
import os
import threading
import time
from typing import Protocol

from reflex_spark.sources import commits


class CursorRegressionError(ValueError):
    """Attempt to move a cursor backwards (reference rsql/db.go:286-291)."""


Cursor = int | str


def _check_monotonic(consumer: str, current: Cursor, new: Cursor) -> None:
    if isinstance(current, int) and current == 0:
        return  # unset
    if type(current) is not type(new):
        raise CursorRegressionError(
            f"cursor type change for {consumer}: {type(current).__name__} -> {type(new).__name__}"
        )
    if new < current:  # int or lexicographic string compare
        raise CursorRegressionError(
            f"cursor regression for {consumer}: {current!r} -> {new!r}"
        )


class CursorStore(Protocol):
    def get_cursor(self, consumer: str) -> Cursor: ...

    def set_cursor(self, consumer: str, cursor: Cursor) -> None: ...

    def flush(self) -> None: ...


class MemCursorStore:
    """In-memory cursor store (reference rpatterns/cursor.go:70-119)."""

    def __init__(self, seed: dict[str, Cursor] | None = None):
        self._cursors: dict[str, Cursor] = dict(seed or {})

    def get_cursor(self, consumer: str) -> Cursor:
        return self._cursors.get(consumer, 0)

    def set_cursor(self, consumer: str, cursor: Cursor) -> None:
        _check_monotonic(consumer, self._cursors.get(consumer, 0), cursor)
        self._cursors[consumer] = cursor

    def flush(self) -> None:
        pass


class FileCursorStore:
    """Durable cursor store: one JSON file per consumer, replaced durably."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _file(self, consumer: str) -> str:
        safe = consumer.replace("/", "_")
        return os.path.join(self.path, f"{safe}.json")

    def get_cursor(self, consumer: str) -> Cursor:
        try:
            with open(self._file(consumer)) as f:
                return json.load(f)["cursor"]
        except FileNotFoundError:
            return 0

    def set_cursor(self, consumer: str, cursor: Cursor) -> None:
        current = self.get_cursor(consumer)
        _check_monotonic(consumer, current, cursor)
        commits.replace_json(self._file(consumer), {"cursor": cursor})

    def flush(self) -> None:
        pass


class BufferedCursorStore:
    """Write-behind buffer over a durable store (reference async cursor
    flush, rsql/cursorstable.go:43,169-230 — 5s default).

    Sets are buffered in memory and written through at most once per
    ``flush_interval``; the write-through happens on the setting call's
    thread (piggybacked on the poll cadence — same QPS bound as the
    reference's flush goroutine, no thread lifecycle to manage, and
    deterministic in tests). Reads see the buffered value (read-your-
    writes). ``flush()`` drains unconditionally; the run loop calls it on
    every exit path.
    """

    def __init__(self, inner: CursorStore, flush_interval: float = 5.0, clock=time.monotonic):
        self.inner = inner
        self.flush_interval = flush_interval
        self._clock = clock
        self._mu = threading.Lock()
        # Serializes the drain-and-write sequence: two concurrent flushes
        # (an interval flush racing the run loop's exit flush on another
        # thread) could otherwise write an older cursor to the inner store
        # after a newer one, tripping the inner monotonic guard.
        self._flush_mu = threading.Lock()
        self._buf: dict[str, Cursor] = {}
        self._last_flush = clock()
        self.writes_buffered = 0  # observability: QPS saved vs direct store

    def get_cursor(self, consumer: str) -> Cursor:
        with self._mu:
            if consumer in self._buf:
                return self._buf[consumer]
        return self.inner.get_cursor(consumer)

    def set_cursor(self, consumer: str, cursor: Cursor) -> None:
        current = self.get_cursor(consumer)
        _check_monotonic(consumer, current, cursor)
        with self._mu:
            self._buf[consumer] = cursor
            self.writes_buffered += 1
            due = self._clock() - self._last_flush >= self.flush_interval
        if due:
            self.flush()

    def flush(self) -> None:
        with self._flush_mu:
            with self._mu:
                buf, self._buf = dict(self._buf), {}
                self._last_flush = self._clock()
            for consumer, cursor in buf.items():
                self.inner.set_cursor(consumer, cursor)


class ReadThroughCursorStore:
    """Primary/fallback chain for cursor migration or seeding
    (reference rpatterns/cursor.go:22-62): reads hit the primary; a miss
    falls back; writes always go to the primary."""

    def __init__(self, primary: CursorStore, fallback: CursorStore):
        self.primary = primary
        self.fallback = fallback

    def get_cursor(self, consumer: str) -> Cursor:
        c = self.primary.get_cursor(consumer)
        return c if c else self.fallback.get_cursor(consumer)

    def set_cursor(self, consumer: str, cursor: Cursor) -> None:
        self.primary.set_cursor(consumer, cursor)

    def flush(self) -> None:
        self.primary.flush()
