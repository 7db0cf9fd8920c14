"""Gap filling: unblock consumers stuck behind a permanent id hole.

Reference parity (G2): rsql/gapfill.go — ``FillGaps(dbc, events)``
registers the default gap filler with the events table; on a detected
``Gap`` it waits for each missing id to be committed (gaps are usually
in-flight transactions) and inserts a noop event for any id that never
arrives, so every consumer's dense-prefix guard can advance. Noops are
dropped by the standard noop filter downstream (rsql/loader.go:64-94).

File-log translation: ``EventLog``'s commit step stages a commit's files,
then renames them in and publishes their record under one lock, so a
single-file commit (every unpartitioned append) cannot leave a hole: a
crash before the rename leaves only invisible ``_staging/`` debris, and the
next append's ids start at the committed head. Holes still arise where
files become visible one by one: a multi-file commit (a partitioned append
spanning several dates) seen from another handle mid-rename, or crashed
between renames, and raw out-of-band writes into the log directory, which
stay visible because the log is a directory Spark and DuckDB list. A
*transient* hole closes moments later — the grace wait absorbs exactly
this. The filler re-checks committed ids through the grace window, then
writes noops for the survivors via ``EventLog.fill_noops`` — which
re-checks once more immediately before its commit, the analogue of the
reference tolerating ErrDupEntry when a racing writer got there first
(gapfill.go:86-90).
Detection reads nothing more: ``run()`` emits ``Gap(cursor, first id)``
from the window it polled. On a covered log the re-checks read the commit
records' driver window, so an episode runs one Spark job, the noop write.
"""

from __future__ import annotations

import time

from reflex_spark.sources.event_log import EventLog, Gap


def fill_gaps(
    log: EventLog,
    grace_seconds: float = 1.0,
    recheck_interval: float = 0.1,
):
    """Register the default noop gap filler on ``log`` (reference
    rsql/gapfill.go:26-40 FillGaps). Returns the listener (handy for
    tests / explicit invocation).

    The filler runs synchronously in the detecting consumer's poll loop —
    the stream cannot advance past the hole anyway (the reference's
    loader blocks on gaps the same way), and a synchronous fill means the
    very next poll sees the noops.
    """

    def fill(gap: Gap) -> None:
        deadline = time.monotonic() + grace_seconds
        missing = log.missing_ids(gap)
        # Grace: transient holes (mid-append visibility races, in-flight
        # writers) usually close themselves — the analogue of
        # waitCommitted (gapfill.go:97-126) polling for the txn to land.
        while missing and time.monotonic() < deadline:
            time.sleep(recheck_interval)
            missing = log.missing_ids(gap)
        if missing:
            log.fill_noops(missing)

    log.listen_gaps(fill)
    return fill
