"""HeadCache: read-through cache of the hot head window of an event log.

Reference parity (G3): rsql/rcache.go — N consumers tailing the same log
each issue an identical head-window load; the cache serves all of them
from one load. The reference caps the cache at 10k events
(defaultRCacheLimit), validates that loaded ids are consecutive
(ErrConsecEvent), and re-initializes rather than bridging a gap.

The cached window is Arrow rows pinned on the driver. ``run()`` reads it
through ``poll_window``, as it reads a bare log's head: a miss loads the
window with ``EventLog.poll_window`` from the files the commit records
name, and a hit slices it, both with no Spark job. Recorded files never
change, so a cached window cannot go stale; appends only add ids past its
tail, which the next read-through loads. Where the log has no driver
window (an unrecorded file), ``run()`` scans through ``read_after``, which
loads the window once with Spark; when that load is empty it hands
``run()`` the log's own ``read_after`` instead, so a hole right after the
cursor shows ``run()`` its far edge. One deliberate divergence from the
reference: on a miss the window is *replaced*, not extended-and-trimmed
row by row. Same bounded memory, same hit condition for any consumer
within one window of head.

Cache integrity: only a window's dense prefix is cached, so a hit never
serves rows from beyond an id hole, and after a gap fill the next poll
(cursor at the dense head, wanted id past the cached tail) misses and
reloads — rcache's consecutive-id sanity check. A ``poll_window`` miss
hands ``run()`` the rows as loaded, so its own dense check and gap
check (the window's first id) see the hole as on a bare log.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from reflex_spark.sources.event_log import ARROW_SCHEMA, dense_prefix, local_batch


class ErrConsecEvent(Exception):
    """Loaded window ids are not consecutive (reference ErrConsecEvent,
    rsql/rcache.go readThrough sanity check)."""


class HeadCache:
    """Drop-in wrapper for any EventLog-shaped source: pass
    ``HeadCache(log)`` wherever a Spec takes a log. Every attribute but
    the two cached reads is the wrapped log's.

    ``disabled`` mirrors the reference's global DisableCache switch: all
    loads go straight through to the underlying log.
    """

    DEFAULT_LIMIT = 10_000  # reference defaultRCacheLimit (rcache.go:13)

    disabled = False

    def __init__(self, log, limit: int | None = None):
        self.log = log
        self.limit = limit or self.DEFAULT_LIMIT
        self.hits = 0
        self.misses = 0
        self._window: tuple[int, pa.Table] | None = None  # (first id, dense rows)

    def __getattr__(self, name: str):
        return getattr(self.log, name)

    def invalidate(self) -> None:
        self._window = None

    def _hit(self, after: int, limit: int | None) -> pa.Table | None:
        """The cached rows after ``after`` when the window holds id
        ``after + 1`` (reference maybeHit, rcache.go:83-115: hit iff
        ``from`` ∈ [head, tail]; the client re-calls for rows past the tail
        and that call reads through, advancing the cache)."""
        window = self._window
        if HeadCache.disabled or window is None:
            return None
        lo, rows = window
        if not lo <= after + 1 < lo + rows.num_rows:
            return None
        self.hits += 1
        return rows.slice(after + 1 - lo, limit)

    def poll_window(self, after: int, limit: int | None = None) -> pa.Table | None:
        """``EventLog.poll_window`` through the cache. A miss loads a full
        cache window (not just the caller's batch) so that followers hit
        (reference readThrough, rcache.go:117-152), caches its dense prefix
        and returns its first ``limit`` rows as loaded. When the log will
        not serve the cache-sized window from the driver, the caller's
        window is served uncached; None where the log has no driver window
        at all."""
        rows = self._hit(after, limit)
        if rows is not None:
            return rows
        self.misses += 1
        poll_window = getattr(self.log, "poll_window", None)
        if poll_window is None:
            return None
        if HeadCache.disabled:
            return poll_window(after, limit)
        rows = poll_window(after, max(limit or 0, self.limit))
        if rows is None:
            return poll_window(after, limit)
        dense = dense_prefix(rows, after)
        if dense.num_rows:  # an empty load keeps the current window
            self._window = (after + 1, dense)
        return rows.slice(0, limit)

    def read_after(self, after: int, limit: int | None = None, dense_only: bool = False) -> DataFrame:
        """The dense window after ``after`` as a local batch: ``run()``'s
        scan path, taken where ``poll_window`` returns None. A hit comes off
        the same pinned rows; a miss loads a cache window once with Spark
        (``read_after(dense_only=True)``), whose ids must be consecutive,
        else the log broke that contract (ErrConsecEvent). A miss that
        loads nothing (the head, or a hole at ``after + 1``) returns the
        log's own ``read_after``, so ``run()`` sees a hole's far edge."""
        if HeadCache.disabled:
            self.misses += 1
            return self.log.read_after(after, limit, dense_only)
        rows = self._hit(after, limit)
        if rows is None:
            self.misses += 1
            rows = self.log.read_after(after, max(limit or 0, self.limit), dense_only=True).toArrow()
            rows = rows.select(ARROW_SCHEMA.names).cast(ARROW_SCHEMA)
            n = rows.num_rows
            if not n:
                return self.log.read_after(after, limit, dense_only)
            if dense_prefix(rows, after).num_rows != n:
                ids = rows["event_id"]
                raise ErrConsecEvent(f"non-consecutive window after {after}: [{ids[0]},{ids[-1]}] n={n}")
            self._window = (after + 1, rows)
            rows = rows.slice(0, limit)
        return local_batch(self.spark, rows)
