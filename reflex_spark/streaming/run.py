"""Run loops: the engine's equivalents of reflex.Run / RunForever.

- ``run(spec)`` — poll path: mirrors run.go:16-105 step by step
  (cursor restore → stream → batch loop → consume → cursor advance), with
  fail-fast semantics and at-least-once delivery (cursor set *after*
  consume). ``to_head`` raises ErrHeadReached like WithStreamToHead
  (options.go:27-39); ``from_head`` skips history like WithStreamFromHead.
- ``run_stream(spec)`` — Structured Streaming path: readStream →
  foreachBatch(consume) with checkpointLocation; the checkpoint is the
  cursor. ``Trigger.AvailableNow`` ≈ to-head, default trigger ≈ follow.
  Small micro-batches are read on the driver, as ``run()`` reads small
  poll windows.
- ``run_query(...)`` — one streaming query from start to stop, the one
  place a query is started and awaited: ``run_stream`` and the judged
  stream queries run through it.
- ``run_forever`` — supervision loop (rpatterns/run.go:16-36): retry with
  backoff, 100ms for expected errors, longer otherwise.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

from reflex_spark.sources import commits
from reflex_spark.sources.event_log import (
    NOOP_FOREIGN_ID,
    NOOP_TYPE,
    EventLog,
    Gap,
    dense_prefix,
    local_batch,
    without_noops,
)
from reflex_spark.streaming import statestore
from reflex_spark.streaming.consumer import Consumer
from reflex_spark.streaming.cursors import CursorStore
from reflex_spark.streaming.notify import StubNotifier


class ErrHeadReached(Exception):
    """Stream consumed to head in to_head mode (reference errors.go:20-24)."""


class ErrStopped(Exception):
    """Stream stopped gracefully (reference errors.go ErrStopped / graceful
    server stop, server.go:31-42). Consumers should treat this as expected
    and reconnect/restart."""


def is_head_reached_err(exc: BaseException) -> bool:
    """reflex.IsHeadReachedErr (errors.go:38-40)."""
    return isinstance(exc, ErrHeadReached)


def is_stopped_err(exc: BaseException) -> bool:
    """reflex.IsStoppedErr (errors.go:33-35)."""
    return isinstance(exc, ErrStopped)


def is_filter_err(exc: BaseException) -> bool:
    """reflex.IsFilterErr (errors.go:57-59)."""
    from reflex_spark.streaming.consumer import FilterError

    return isinstance(exc, FilterError)


def is_expected(exc: BaseException) -> bool:
    """reflex.IsExpected (errors.go:43-55): errors normal during streaming
    (head reached, graceful stop, cancellation)."""
    return isinstance(exc, (ErrHeadReached, ErrStopped, KeyboardInterrupt))


@dataclass
class StreamOptions:
    """Reference stream options (options.go), poll-path semantics."""

    from_head: bool = False  # WithStreamFromHead: skip history
    to_head: bool = False  # WithStreamToHead: stop at head
    lag_seconds: float = 0.0  # WithStreamLag: only events older than lag
    batch_limit: int = 1000  # WithEventLookupLimit (rsql/db.go:27)
    drop_noops: bool = True  # noop filter (rsql/loader.go:64-94)
    poll_backoff: float = 0.2  # WithEventsBackoff (scaled for tests)
    stop: Callable[[], bool] | None = None  # graceful stop signal (→ ErrStopped)


@dataclass
class Spec:
    """Runnable triple (stream, cursor store, consumer) — api.go:73-114."""

    log: EventLog
    cstore: CursorStore
    consumer: Consumer
    options: StreamOptions = field(default_factory=StreamOptions)


def _load_batch(spec: Spec, after: int, dense: bool = False):
    """Load the deliverable id window after the cursor. Noops are NOT
    dropped here: the run loop advances the cursor over them (reference
    wrapNoopFilter returns the last noop id as a cursor override,
    rsql/loader.go:64-94) — filtering before the max-id agg would strand
    the cursor on an all-noop window forever.

    ``dense`` requests the log's dense-truncated plan (a row_number over
    an UNPARTITIONED window — every batch row through one task). The run
    loop avoids it on the healthy path: a window with unique ids > cursor
    is dense iff ``max == cursor + count``, which the per-batch agg
    already computes, so the window op is paid only when a hole is
    actually present (mid-append races — rare)."""
    df = spec.log.read_after(after, spec.options.batch_limit, dense_only=dense)
    if spec.options.lag_seconds:
        # Prefix-truncate at the FIRST too-recent event instead of filtering
        # rows out of the middle: the cursor advances to the batch max, so a
        # mid-batch filter would permanently skip held-back events when
        # timestamps are out of id order. Truncation redelivers them later —
        # the reference's per-event delay has the same effect (run.go:79-87).
        cutoff = F.expr(
            f"current_timestamp() - INTERVAL {spec.options.lag_seconds} SECONDS"
        )
        recent_min = df.where(F.col("timestamp") > cutoff).agg(
            F.min("event_id").alias("__recent_min")
        )
        df = (
            df.join(F.broadcast(recent_min))
            .where(F.col("__recent_min").isNull() | (F.col("event_id") < F.col("__recent_min")))
            .drop("__recent_min")
        )
    return df


def _scan_window(spec: Spec, cursor: int):
    """The Spark scan path of a poll: the cached window after the cursor
    and its (count, max id, non-noop count, first id) from one agg job;
    a first id past ``cursor + 1`` counts 0 rows (no dense prefix). With
    ``lag_seconds`` the agg sees the lag-truncated window, so a hole's far
    edge shows once its event is older than the lag."""
    window = _load_batch(spec, cursor).cache()
    try:
        aggs = [F.min("event_id").alias("lo"), F.max("event_id").alias("m"), F.count(F.lit(1)).alias("n")]
        if spec.options.drop_noops:
            # only reference the noop columns when filtering is on:
            # adapted tables without foreign_id stream fine with
            # drop_noops=False
            is_noop = (F.col("foreign_id") == F.lit(NOOP_FOREIGN_ID)) & (
                F.col("event_type") == F.lit(NOOP_TYPE)
            )
            aggs.append(F.count(F.when(~is_noop, 1)).alias("n_real"))
        row = window.agg(*aggs).collect()[0]
        first = row["lo"]
        if row["n"] and first > cursor + 1:
            return window, 0, None, 0, first
        if row["n"] and row["m"] != cursor + row["n"]:
            # Hole inside the window (a reader racing a mid-commit
            # multi-file append): fall back to the dense-truncated plan so
            # only the contiguous prefix is delivered.
            window.unpersist()
            window = _load_batch(spec, cursor, dense=True).cache()
            row = window.agg(*aggs).collect()[0]
    except BaseException:
        window.unpersist()
        raise
    return window, row["n"], row["m"], row["n_real"] if spec.options.drop_noops else row["n"], first


def _local_window(rows: pa.Table, cursor: int, opts: StreamOptions):
    """The driver path of a poll over ``EventLog.poll_window``'s rows
    (id-ordered, ids > cursor): ``_load_batch``'s dense-prefix and lag
    truncation, then (rows to deliver, count, max id, non-noop count,
    first id). The first id is read before the lag truncation."""
    first = rows["event_id"][0].as_py() if rows.num_rows else None
    rows = dense_prefix(rows, cursor)
    if opts.lag_seconds:
        ts = rows["timestamp"]
        cutoff = pa.scalar(int((time.time() - opts.lag_seconds) * 1e6), ts.type)
        first_recent = pc.index(pc.greater(ts, cutoff), True).as_py()
        if first_recent >= 0:
            rows = rows.slice(0, first_recent)
    n = rows.num_rows
    m = rows["event_id"][-1].as_py() if n else None
    if opts.drop_noops:
        rows = _drop_noops(rows)
    return rows, n, m, rows.num_rows, first


def _drop_noops(rows: pa.Table) -> pa.Table:
    """``without_noops`` on driver-side rows, with the same null semantics."""
    is_noop = pc.and_kleene(
        pc.equal(rows["foreign_id"], NOOP_FOREIGN_ID), pc.equal(rows["event_type"], NOOP_TYPE)
    )
    return rows.filter(pc.invert(is_noop))


def run(spec: Spec, max_batches: int | None = None) -> int:
    """The reference consume loop (run.go:16-105). Returns last cursor.

    At-least-once: the cursor is set only after the consumer returns, so a
    crash between consume and set_cursor redelivers the batch (consumers
    must be idempotent — reference doc.go at-least-once contract).
    Fail-fast: any consumer/cursor error propagates and stops the loop.

    Each poll first asks the log for a driver-side window
    (``EventLog.poll_window``: the commit records cover the log and the
    window is small). That window is trimmed, counted and handed to the
    consumer as a local DataFrame tagged with its Arrow rows
    (``local_batch``) with no Spark job, and it is pinned: an append
    landing mid-batch cannot grow it. The batch's JVM DataFrame is built
    on the consumer's first Spark use of it; a consumer that reads the
    rows through ``arrow_of`` (``MaterializedCounts.apply_batch``) never
    builds it. Otherwise the poll scans with Spark (``_load_batch`` + one
    agg job), and the batch is bounded by the max id the cursor will
    commit. Either way only the dense prefix is delivered, and a window
    starting past ``cursor + 1`` names the hole ``Gap(cursor, first id)``
    for the log's gap listeners (reference gap detector,
    rsql/loader.go:96-134).
    """
    name = spec.consumer.name
    cursor = spec.cstore.get_cursor(name)
    if spec.options.from_head and cursor == 0:
        cursor = spec.log.head()
        spec.cstore.set_cursor(name, cursor)

    # Parked polls wait on the insert notifier (G4): an append wakes them
    # at once; the backoff is only the fallback for out-of-process writers.
    notifier = getattr(spec.log, "notifier", None) or StubNotifier()
    poll_window = getattr(spec.log, "poll_window", None)
    batches = 0
    emitted = None  # the last gap handed to the listeners
    try:
        while max_batches is None or batches < max_batches:
            if spec.options.stop is not None and spec.options.stop():
                raise ErrStopped(f"{name} stopped at {cursor}")
            # Subscribe BEFORE loading: an append landing between the load
            # and the wait fires the already-registered event, so the
            # waiter wakes immediately (reference ch := notifier.C() before
            # the head re-check — no lost wakeups).
            sub = notifier.subscribe()
            window = None
            try:
                try:
                    rows = (
                        poll_window(cursor, spec.options.batch_limit)
                        if poll_window is not None
                        else None
                    )
                except FileNotFoundError:
                    continue  # a file went away under the read (compaction): re-poll
                if rows is not None:
                    rows, n, m, n_real, first = _local_window(rows, cursor, spec.options)
                else:
                    window, n, m, n_real, first = _scan_window(spec, cursor)
                if n == 0:
                    # Empty dense read: the head, or a hole whose far edge is
                    # the window's first id. Listeners get the gap and it is
                    # re-polled at once; a gap still open then is emitted
                    # again only after a backoff or wake-up (no busy-spin).
                    if first is not None and first > cursor + 1 and getattr(spec.log, "_gap_listeners", None):
                        gap = Gap(prev=cursor, next=first)
                        if gap == emitted:
                            sub.wait(spec.options.poll_backoff)
                        emitted = gap
                        spec.log.emit_gap(gap)
                        continue
                    if spec.options.to_head:
                        raise ErrHeadReached(f"{name} reached head at {cursor}")
                    sub.wait(spec.options.poll_backoff)
                    continue
                n_deliver = n_real if spec.options.drop_noops else n
                if n_deliver:
                    if rows is not None:
                        batch = local_batch(spec.log.spark, rows)
                    else:
                        # A concurrent append makes Spark re-cache ``window``
                        # with the new rows; deliver only what the cursor
                        # below commits.
                        batch = window.where(F.col("event_id") <= m)
                        if spec.options.drop_noops:
                            batch = without_noops(batch)
                    spec.consumer.consume(batch, {"cursor": cursor, "batch": batches})
                    spec.consumer.stats["events"] += n_deliver
                    batches += 1
                # Cursor advances over noops too (all-noop windows would
                # otherwise livelock the poll loop re-reading forever).
                cursor = m
                spec.cstore.set_cursor(name, cursor)
            finally:
                if window is not None:
                    window.unpersist()
                notifier.unsubscribe(sub)
    finally:
        spec.cstore.flush()
    return cursor


EXPECTED_ERRORS = (ErrHeadReached, ErrStopped)


def run_forever(
    spec_factory,
    stop_after: int = 3,
    expected_backoff: float = 0.05,
    error_backoff: float = 0.2,
    **run_kwargs: Any,
) -> list[Exception]:
    """Supervision loop (rpatterns/run.go:16-36): rebuild the spec and
    re-run on failure; short backoff for expected errors, long otherwise.
    ``stop_after`` bounds restarts (the reference loops forever)."""
    failures: list[Exception] = []
    for _ in range(stop_after):
        try:
            run(spec_factory(), **run_kwargs)
        except EXPECTED_ERRORS as exc:
            failures.append(exc)
            time.sleep(expected_backoff)
        except Exception as exc:  # noqa: BLE001 — supervised retry
            failures.append(exc)
            time.sleep(error_backoff)
    return failures


_CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
#: The checkpoint manager ``run_stream`` sets for a local checkpoint: it
#: writes by create + rename, where Spark's default FileContext manager
#: sets a permission on every file it creates and resolves every rename
#: through ``getFileLinkStatus``; Hadoop's local file system does each by
#: forking ``chmod`` or ``readlink`` when its native library is missing.
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)
#: The session confs ``run_stream`` sets for the whole life of a query on a
#: local checkpoint: the FileSystem-based manager, over Hadoop's raw local
#: file system, which writes no ``.crc`` beside each file. Spark's default
#: manager asks for none either (it creates its temp files with
#: ``ChecksumOpt.createDisabled()``), though Hadoop's checksummed local file
#: system writes one anyway. The cache must be off for ``fs.file.impl`` to
#: take effect, as the JVM already holds a cached checksummed ``file:`` file
#: system. The keys are unprefixed: a runtime ``spark.hadoop.*`` conf never
#: reaches the session's Hadoop conf.
_LOCAL_CHECKPOINT_CONFS = {
    _CHECKPOINT_MANAGER_CONF: _FS_CHECKPOINT_MANAGER,
    "fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "fs.file.impl.disable.cache": "true",
}


def _local_dir(location: str) -> str | None:
    """The absolute local path of a schemeless or ``file:`` location, as
    Hadoop reads it (no percent-decoding); None for any other scheme."""
    uri = urlparse(location)
    if uri.scheme not in ("", "file"):
        return None
    return os.path.abspath(uri.path if uri.scheme else location)


def _logged_files(checkpoint: str, batch_id: int) -> list[str] | None:
    """The local data files micro-batch ``batch_id`` reads, from the local
    ``checkpoint``'s own logs. Its ``offsets/<batch_id>`` must end at the
    file source's log batch ``batch_id``: every micro-batch of the query
    adds files, so the micro-batch then is exactly that source batch,
    whose entries FileStreamSourceLog writes to ``sources/0/<batch_id>``,
    or, every ``compactInterval`` batches, to ``<batch_id>.compact`` with
    all earlier batches'. Their paths are percent-escaped URIs. None when a
    log is missing, the batches differ, or a file is not local."""
    try:
        with open(os.path.join(checkpoint, "offsets", str(batch_id))) as f:
            if json.loads(f.read().splitlines()[-1]).get("logOffset") != batch_id:
                return None
        source_log = os.path.join(checkpoint, "sources", "0", str(batch_id))
        if not os.path.exists(source_log):
            source_log += ".compact"
        with open(source_log) as f:
            entries = [json.loads(line) for line in f.read().splitlines()[1:]]
    except FileNotFoundError:
        return None
    paths = []
    for entry in entries:
        if entry["batchId"] == batch_id:
            uri = urlparse(entry["path"])
            if uri.scheme not in ("", "file"):
                return None
            paths.append(unquote(uri.path))
    return paths


@contextmanager
def _local_checkpoint_manager(spark, checkpoint_dir: str):
    """Run a query on a schemeless or ``file:`` checkpoint under
    ``_LOCAL_CHECKPOINT_CONFS``: the FileSystem-based checkpoint manager
    (rename is atomic on a local file system, and Spark refuses two active
    queries on one checkpoint) on Hadoop's raw local file system. Other
    schemes keep Spark's defaults. Wrap the whole query, start to stop: the
    offset and commit logs are built in ``start()``, but the file source
    builds its log on the stream thread, after ``start()`` may have
    returned. Each previous value is restored on exit, error or not.

    ``run_query`` applies it to every streaming query it runs: ``run_stream``
    and the judged stream queries, whose state stores (stateful operators)
    and foreachBatch sinks (parquet written by Spark) therefore also go
    through this file system. While the block runs, other Spark work on the
    same session reads and writes ``file:`` paths through an uncached
    ``RawLocalFileSystem`` too, and writes no ``.crc`` files."""
    if _local_dir(checkpoint_dir) is None:
        yield
        return
    old = {key: spark.conf.get(key, None) for key in _LOCAL_CHECKPOINT_CONFS}
    try:
        for key, value in _LOCAL_CHECKPOINT_CONFS.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def run_stream(
    spec: Spec,
    checkpoint_dir: str,
    available_now: bool = True,
    timeout_sec: float = 120.0,
    max_files_per_trigger: int | None = None,
):
    """Structured Streaming path: the checkpoint directory IS the cursor
    (offset log + commit log, SURVEY.md §1.1 Cursor row). foreachBatch
    gives the same at-least-once contract as the poll path.

    Spark's file source only plans offsets here. The query streams the
    log's plain ``read_stream`` plan, which an EventLog keeps on its handle
    (``EventLog.stream_plan``), and the shuffle count is sized from the
    log's file sizes (``EventLog.scan_bytes``) with no plan. A micro-batch
    of a local checkpoint over an unpartitioned EventLog takes its files
    from the checkpoint's file log (``_logged_files``); when the commit
    records name them and hold at most ``DRIVER_WINDOW_ROWS`` rows
    (``EventLog.read_files``), it is served from the driver as ``run()``
    serves a poll window: the files are read with pyarrow, ``from_head``,
    the noop filter and the lag wait apply to those rows, and the consumer
    gets the same tagged local DataFrame (``local_batch``), whose JVM side
    is built on first Spark use — no Spark job, and no JVM work for a
    consumer that reads the rows through ``arrow_of``. Any other
    micro-batch (a raw out-of-band file, a bigger batch, a partitioned
    log's with its ``event_date`` column) gets the same filters in Spark
    and is handed over as Spark reads it. The query runs through
    ``run_query``: a local checkpoint's files (the file source's log
    included) are written by the FileSystem-based checkpoint manager on
    Hadoop's raw local file system, with no ``.crc`` files, and a timed-out
    ``available_now`` run raises TimeoutError.

    from_head (bootstrap): on the FIRST start the current head id is
    recorded in the checkpoint directory and events at or below it are
    filtered for the lifetime of the query — restarts reuse the recorded
    head, so the boundary never moves (reference rpatterns/bootstrap.go:
    skip history only when no cursor exists). It needs a local checkpoint.

    ``max_files_per_trigger`` PRECONDITION: the file source orders batches
    by (mtime, path), not event_id. Consumers that dedup on a max-id
    watermark (MaterializedCounts.apply_batch) would silently drop a
    lower-id batch delivered after a higher-id one. File order == id order
    holds by construction for every EventLog writer: the commit step
    stamps a commit's files one logical second past the previous commit's
    before renaming them in, and an unpartitioned append writes one file.
    A raw out-of-band write into the log directory carries a wall-clock
    mtime and breaks it; so would files of one commit with
    interleaved ids (a partitioned append spanning dates) — key such a
    consumer's dedup on the delivered ids instead of the max-id
    watermark."""
    spark = spec.log.spark
    opts = spec.options
    local = _local_dir(checkpoint_dir)
    if opts.from_head and local is None:
        raise ValueError(f"run_stream(from_head=True) needs a local checkpoint, got {checkpoint_dir!r}")
    head = None
    if opts.from_head:
        head_file = os.path.join(local, "bootstrap_head.json")
        if os.path.exists(head_file):
            with open(head_file) as f:
                head = json.load(f)["head"]
        else:
            head = spec.log.head()
            os.makedirs(local, exist_ok=True)
            commits.replace_json(head_file, {"head": head})  # a crash mid-write leaves no head file
    stream_plan = getattr(spec.log, "stream_plan", spec.log.read_stream)
    stream = stream_plan(max_files_per_trigger=max_files_per_trigger)
    read_files = getattr(spec.log, "read_files", None)
    servable = read_files is not None and not spec.log.partitioned and local is not None

    def delivered(batch_df, batch_id: int):
        """The micro-batch as the consumer gets it, and its rows when they
        were read on the driver (else None)."""
        files = _logged_files(local, batch_id) if servable else None
        rows = read_files(files) if files else None
        if rows is None:
            if head is not None:
                batch_df = batch_df.where(F.col("event_id") > head)
            return (without_noops(batch_df) if opts.drop_noops else batch_df), None
        if head is not None:
            rows = rows.filter(pc.greater(rows["event_id"], head))
        if opts.drop_noops:
            rows = _drop_noops(rows)
        return local_batch(spark, rows), rows

    def handle(batch_df, batch_id: int):
        batch_df, rows = delivered(batch_df, batch_id)
        if opts.lag_seconds:
            # Lag must DELAY delivery, never filter: the file-source
            # checkpoint marks a batch's files processed as soon as the
            # microbatch commits, so rows dropped by a timestamp predicate
            # would be lost forever (breaking at-least-once). Mirror the
            # reference's per-event delay (run.go:79-87) at batch
            # granularity: sleep until the batch's newest event is older
            # than the lag, then deliver the whole batch. Timestamps are
            # UTC instants on both paths: the driver compares them with
            # the epoch clock, Spark with current_timestamp() (any session
            # time zone cancels in the casts).
            if rows is not None:
                newest = pc.max(rows["timestamp"]).value  # epoch µs, None if empty
                wait = None if newest is None else newest / 1e6 + opts.lag_seconds - time.time()
            else:
                wait = batch_df.agg(
                    (
                        F.max(F.col("timestamp")).cast("timestamp").cast("double")
                        + F.lit(float(opts.lag_seconds))
                        - F.current_timestamp().cast("double")
                    ).alias("wait")
                ).collect()[0]["wait"]
            if wait is not None and wait > 0:
                time.sleep(wait)
        spec.consumer.consume(batch_df, {"batch_id": batch_id})

    # Size the per-batch shuffle count to the log (statestore module
    # note): any stateful operator downstream freezes one state store per
    # shuffle partition into the checkpoint, and foreachBatch's batch-side
    # jobs shuffle micro-batch-sized data — both should scale with the
    # data, not a session constant. An EventLog gives the size from its
    # files' sizes, which are what Catalyst's estimate of ``read()`` sums.
    scan_bytes = getattr(spec.log, "scan_bytes", None)
    sizing = {"est_bytes": scan_bytes()} if scan_bytes else {"source_df": spec.log.read()}
    return run_query(
        spark,
        stream.writeStream.foreachBatch(handle),
        checkpoint_dir,
        f"run_stream({spec.consumer.name})",
        timeout_sec,
        available_now=available_now,
        **sizing,
    )


def run_query(
    spark,
    writer,
    checkpoint: str,
    name: str,
    timeout_sec: float,
    source_df=None,
    *,
    est_bytes: int | None = None,
    floor: int = 1,
    available_now: bool = True,
):
    """Run one streaming query from start to stop: the lifecycle every
    streaming query in the package goes through, ``run_stream`` and the
    judged stream queries alike.

    ``writer`` is the query's ``writeStream`` with its sink (and output
    mode) set; the checkpoint location and, for ``available_now``, the
    availableNow trigger are set here. A schemeless or ``file:`` checkpoint
    gets its log directories up front (Spark would create them through
    Hadoop's local file system, which forks a ``chmod`` for each) and runs
    under ``_local_checkpoint_manager``. The shuffle count is sized for the
    whole run with ``scaled_stream_shuffle`` from ``source_df`` or
    ``est_bytes``, at least ``floor``.

    The query either consumes to head or raises: an availableNow query
    still active after ``timeout_sec`` is stopped and raises TimeoutError
    naming ``name`` (returning would hand the caller a partial result; the
    checkpoint keeps at-least-once intact for a retry), and an exception
    the query died of is re-raised. A follow-mode query (``available_now``
    false) is stopped after ``timeout_sec``. Returns the stopped query."""
    local = _local_dir(checkpoint)
    if local is not None:
        checkpoint = local
        for logs in ("offsets", "commits", os.path.join("sources", "0")):
            os.makedirs(os.path.join(local, logs), exist_ok=True)
    writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    sized = statestore.scaled_stream_shuffle(spark, source_df=source_df, est_bytes=est_bytes, floor=floor)
    with sized, _local_checkpoint_manager(spark, checkpoint):
        query = writer.start()
        query.awaitTermination(timeout_sec)
        if query.isActive:
            query.stop()
            if available_now:
                raise TimeoutError(
                    f"{name}: availableNow query did not finish within {timeout_sec}s; "
                    "results would be partial"
                )
    if query.exception() is not None:
        raise query.exception()
    return query
