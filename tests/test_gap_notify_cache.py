"""G2 gap filling, G3 head cache, G4 insert notifier.

Mirrors the reference behaviors: rsql/gapfill.go (noop fill of persistent
holes, idempotent under racing writers), rsql/rcache.go (read-through head
cache, bounded, consecutive-id integrity, global disable), and
rsql/eventstable.go:507-571 (insert notifier waking parked pollers).
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time

import pytest

from reflex_spark.sources import event_log
from reflex_spark.sources.event_log import EVENT_SCHEMA, EventLog, Gap, arrow_of
from reflex_spark.sources.gapfill import fill_gaps
from reflex_spark.sources.head_cache import ErrConsecEvent, HeadCache
from reflex_spark.sources.memory import EPOCH, make_events, seed_log
from reflex_spark.streaming import (
    Consumer,
    ErrHeadReached,
    ErrStopped,
    MemCursorStore,
    Spec,
    StreamOptions,
    run,
)
from reflex_spark.streaming.notify import InMemNotifier, StubNotifier
from reflex_spark.streaming.run import run_stream
from tests.conftest import jobs_in


def _write_raw(spark, path: str, ids: list[int], foreign_id: str = "x"):
    """Simulate a crashed multi-file append: commit files with explicit
    ids directly, skipping append()'s dense assignment."""
    rows = [(i, 1, foreign_id, EPOCH, None, None) for i in ids]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.mode("append").parquet(path)


def _consume_ids(spec, **kwargs) -> list[int]:
    got: list[int] = []
    spec.consumer.fn = lambda df, meta: got.extend(
        r["event_id"] for r in df.select("event_id").collect()
    )
    with pytest.raises(ErrHeadReached):
        run(spec, **kwargs)
    return got


# -- G2: gap filling -------------------------------------------------------


def test_gap_blocks_without_filler_and_fills_with(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"u{i}") for i in range(3)])
    _write_raw(spark, log.path, [5, 6])  # id 4 lost by a crashed writer
    assert log.poll_window(0) is None  # the raw file is unrecorded: Spark scan

    # without a filler, the dense guard stops at the hole (G1 semantics)
    got = _consume_ids(
        Spec(log, MemCursorStore(), Consumer("nofill", lambda df, m: None),
             StreamOptions(to_head=True))
    )
    assert got == [1, 2, 3]

    # with the filler registered, the hole is noop-filled and the stream
    # proceeds to the true head; the noop itself is dropped from delivery
    fill_gaps(log, grace_seconds=0.2, recheck_interval=0.05)
    spec = Spec(log, MemCursorStore(), Consumer("fill", lambda df, m: None),
                StreamOptions(to_head=True))
    got = _consume_ids(spec)
    assert got == [1, 2, 3, 5, 6]
    assert spec.cstore.get_cursor("fill") == 6
    noops = log.read().where("foreign_id = '0' AND event_type = 0").collect()
    assert [r["event_id"] for r in noops] == [4]
    # the fill went through the commit step: a record of exactly the
    # filled id, naming a file stamped one logical second past the seed
    # append's
    rec = json.load(open(max(glob.glob(os.path.join(log.path, "_commits", "*.json")))))
    assert (rec["min_id"], rec["max_id"]) == (4, 4)
    assert [os.path.getmtime(os.path.join(log.path, f)) for f in rec["files"]] == [
        float(event_log._MTIME_BASE + 2)
    ]


def test_gap_fill_keeps_racing_writers_row(spark, tmp_path):
    """A row committed during the grace wait is kept; only truly-missing
    ids are noop-filled (reference gapfill.go:86-90 dup-entry tolerance)."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, "a"), (1, "b"), (1, "c")])
    _write_raw(spark, log.path, [6])  # ids 4,5 missing
    fill = fill_gaps(log, grace_seconds=0.0)
    _write_raw(spark, log.path, [4], foreign_id="late")  # lands "during" grace
    fill(Gap(prev=3, next=6))
    rows = {r["event_id"]: r["foreign_id"] for r in log.read().collect()}
    assert rows[4] == "late"  # racing writer won
    assert rows[5] == "0"  # noop-filled
    # re-emitting the same gap is a no-op (idempotent)
    fill(Gap(prev=3, next=6))
    assert log.read().where("event_id = 5").count() == 1


# -- G4: insert notifier ---------------------------------------------------


def test_inmem_notifier_one_shot_and_unsubscribe():
    n = InMemNotifier()
    a, b = n.subscribe(), n.subscribe()
    c = n.subscribe()
    n.unsubscribe(c)
    n.notify()
    assert a.is_set() and b.is_set() and not c.is_set()
    d = n.subscribe()  # fresh subscription requires a fresh notify
    assert not d.is_set()
    n.notify()
    assert d.is_set()


def test_stub_notifier_never_fires():
    n = StubNotifier()
    ev = n.subscribe()
    n.notify()
    assert not ev.is_set()


def test_append_wakes_parked_poller(spark, tmp_path):
    """A poller at head parks on the notifier; an append wakes it well
    before the (deliberately huge) poll backoff would."""
    log = EventLog(spark, str(tmp_path / "log"), notifier=InMemNotifier())
    got: list[int] = []
    spec = Spec(
        log,
        MemCursorStore(),
        Consumer("parked", lambda df, m: got.extend(
            r["event_id"] for r in df.select("event_id").collect()
        )),
        StreamOptions(poll_backoff=30.0),  # sleep path would take 30s
    )

    def produce():
        time.sleep(0.5)
        log.append(make_events(spark, [(1, "a"), (1, "b")]))

    t = threading.Thread(target=produce)
    start = time.monotonic()
    t.start()
    run(spec, max_batches=1)
    t.join()
    elapsed = time.monotonic() - start
    assert got == [1, 2]
    assert elapsed < 15.0, f"poller slept the blind backoff ({elapsed:.1f}s)"
    assert log.notifier.notify_count == 1


# -- G3: head cache --------------------------------------------------------


def _run_through(cache, name: str, batch_limit: int = 10) -> list[int]:
    spec = Spec(cache, MemCursorStore(), Consumer(name, lambda df, m: None),
                StreamOptions(to_head=True, batch_limit=batch_limit))
    return _consume_ids(spec)


def test_head_cache_serves_followers_from_one_load(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"u{i}") for i in range(30)])
    cache = HeadCache(log, limit=100)
    try:
        lead = _run_through(cache, "lead")
        assert lead == list(range(1, 31))
        # leader: read-through on the first poll + the final empty poll
        assert cache.misses == 2
        assert cache.hits == 2  # polls 2 and 3 (batch_limit 10, 30 events)

        follower = _run_through(cache, "follower")
        assert follower == lead
        # follower windows [1-10],[11-20],[21-30] all hit; only the final
        # past-tail empty poll reads through
        assert cache.hits == 5
        assert cache.misses == 3
    finally:
        cache.invalidate()


def test_head_cache_disabled_is_passthrough(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"u{i}") for i in range(5)])
    cache = HeadCache(log, limit=100)
    HeadCache.disabled = True
    try:
        got = _run_through(cache, "direct")
        assert got == [1, 2, 3, 4, 5]
        assert cache.hits == 0
    finally:
        HeadCache.disabled = False
        cache.invalidate()


def test_head_cache_never_caches_past_a_hole(spark, tmp_path):
    """Cached windows are dense by construction, so a hit can never serve
    rows from beyond a gap; after the filler closes the hole the next poll
    misses and reloads (the rcache gap→re-init contract)."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"u{i}") for i in range(3)])
    _write_raw(spark, log.path, [5])  # id 4 missing
    fill_gaps(log, grace_seconds=0.1, recheck_interval=0.05)
    cache = HeadCache(log, limit=100)
    try:
        got = _run_through(cache, "c", batch_limit=2)
        assert got == [1, 2, 3, 5]
        assert log.read().where("event_id = 4 AND foreign_id = '0'").count() == 1
    finally:
        cache.invalidate()


def test_head_cache_rejects_non_consecutive_window(spark, tmp_path):
    class HoleyLog:
        """A log whose read_after ignores dense_only (contract violation)."""

        def __init__(self, inner):
            self.inner = inner

        def read_after(self, after, limit=None, dense_only=False):
            return self.inner.read_after(after, limit, dense_only=False)

    log = seed_log(spark, str(tmp_path / "log"), [(1, "a")])
    _write_raw(spark, log.path, [3])  # hole at 2
    cache = HeadCache(HoleyLog(log), limit=10)
    with pytest.raises(ErrConsecEvent):
        cache.read_after(0, 10)


def test_run_over_head_cache_runs_no_spark_job(spark, tmp_path):
    """On a covered log the cache loads its window with the log's driver
    read and serves hits off the pinned rows: run() to head through it
    runs no Spark job, and the batches are the served rows."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"u{i}") for i in range(30)])
    cache = HeadCache(log, limit=100)
    served = []
    spec = Spec(cache, MemCursorStore(), Consumer("c", lambda df, m: served.append(arrow_of(df))),
                StreamOptions(to_head=True, batch_limit=10))

    def drain():
        with pytest.raises(ErrHeadReached):
            run(spec)

    assert jobs_in(spark, drain) == 0
    assert [i for rows in served for i in rows["event_id"].to_pylist()] == list(range(1, 31))
    assert (cache.misses, cache.hits) == (2, 2)


def test_head_cache_shared_by_concurrent_consumers(spark, tmp_path):
    """More consumer threads than cores tail one cache whose window keeps
    being replaced, under a short switch interval: each gets every id
    once, in order."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"u{i}") for i in range(50)])
    cache = HeadCache(log, limit=20)
    got = {f"c{i}": [] for i in range(8)}

    def consume(name):
        sink = got[name]
        spec = Spec(cache, MemCursorStore(), Consumer(name, lambda df, m: sink.extend(arrow_of(df)["event_id"].to_pylist())),
                    StreamOptions(to_head=True, batch_limit=7))
        with pytest.raises(ErrHeadReached):
            run(spec)

    threads = [threading.Thread(target=consume, args=(name,)) for name in got]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert got == {name: list(range(1, 51)) for name in got}

def test_head_cache_never_serves_past_a_hole_on_the_driver_path(spark, tmp_path):
    """A hole inside a recorded file: compaction folds ids 1-3 and a raw
    id 5 into one record [1,5], so the log is covered and the cache loads
    through the driver path. Only the dense prefix is cached, so no hit
    serves an id past the hole before the filler closes it."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"u{i}") for i in range(3)])
    _write_raw(spark, log.path, [5])  # id 4 missing
    log.compact()
    assert log.poll_window(0)["event_id"].to_pylist() == [1, 2, 3, 5]  # covered
    fill_gaps(log, grace_seconds=0.1, recheck_interval=0.05)
    cache = HeadCache(log, limit=100)
    trace = []  # ("hit", ids) per cache hit, then "filled" once the hole is closed
    log.listen_gaps(lambda gap: trace.append("filled"))  # runs after the filler

    def poll_window(after, limit=None):
        hits = cache.hits
        rows = HeadCache.poll_window(cache, after, limit)
        if cache.hits > hits:
            trace.append(("hit", rows["event_id"].to_pylist()))
        return rows

    cache.poll_window = poll_window
    assert _run_through(cache, "c", batch_limit=2) == [1, 2, 3, 5]
    filled = trace.index("filled")
    assert trace[:filled] and all(max(ids) <= 3 for _, ids in trace[:filled])
    assert log.read().where("event_id = 4 AND foreign_id = '0'").count() == 1


def test_run_stream_over_head_cache(spark, tmp_path):
    """The cache is a drop-in log for run_stream too: every id once, in
    order."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"u{i}") for i in range(3)])
    log.append(make_events(spark, [(2, f"v{i}") for i in range(3)]))
    got = []
    spec = Spec(HeadCache(log), MemCursorStore(),
                Consumer("s", lambda df, m: got.extend(r["event_id"] for r in df.select("event_id").collect())))
    run_stream(spec, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    assert got == list(range(1, 7))


@pytest.mark.parametrize("covered, most_jobs", [(True, 1), (False, 16)])
def test_gap_episode_is_found_from_the_window_run_read(spark, tmp_path, covered, most_jobs):
    """run() names a hole from the window it polled: on a covered log
    (compaction folds ids 1-3 and a raw id 5 into one record) the whole
    episode (detect, grace re-checks, fill, deliver) runs one Spark job,
    the noop file's write; a Spark-scanned log pays its scans."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"u{i}") for i in range(3)])
    _write_raw(spark, log.path, [5])  # id 4 missing
    if covered:
        log.compact()
    fill_gaps(log, grace_seconds=0.2, recheck_interval=0.05)
    spec = Spec(log, MemCursorStore(), Consumer("c", lambda df, m: None),
                StreamOptions(to_head=True, batch_limit=10))

    def drain():
        with pytest.raises(ErrHeadReached):
            run(spec)

    jobs = jobs_in(spark, drain)
    assert jobs == most_jobs if covered else jobs <= most_jobs
    assert spec.cstore.get_cursor("c") == 5
    assert log.read().where("event_id = 4 AND foreign_id = '0'").count() == 1


def test_gap_left_open_is_re_emitted_once_per_backoff(spark, tmp_path):
    """A listener that does not fill the hole gets the same gap again no
    faster than once per poll backoff, and a to_head run standing at the
    open gap keeps waiting instead of reporting the head."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"u{i}") for i in range(3)])
    _write_raw(spark, log.path, [5])  # id 4 missing
    log.compact()
    emits = []
    log.listen_gaps(lambda gap: emits.append((time.monotonic(), gap)))
    spec = Spec(log, MemCursorStore(), Consumer("c", lambda df, m: None),
                StreamOptions(to_head=True, poll_backoff=0.2, stop=lambda: len(emits) >= 4))
    with pytest.raises(ErrStopped):
        run(spec)
    assert {gap for _, gap in emits} == {Gap(prev=3, next=5)}
    assert all(b - a >= 0.19 for (a, _), (b, _) in zip(emits, emits[1:]))
    assert spec.cstore.get_cursor("c") == 3
