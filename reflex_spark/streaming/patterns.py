"""Consumer patterns (reference rpatterns/*), Spark-first re-expressions.

Pattern → reference → Spark mapping (SURVEY.md §2.1 P1-P9):
- batch window     rpatterns/batch.go      microbatch sizing (count) + the
                                           poll loop's batch_limit; flush =
                                           one consume call per batch
- ack              rpatterns/ack.go        auto cursor commit disabled;
                                           consumer calls ack() explicitly
- parallel         rpatterns/parallel.go   hash-shard events; per-shard
                                           cursor name_m_of_n
- best-effort      rpatterns/besteffort.go retries then log-and-skip
- dead-letter      rpatterns/deadletter.go retries then record
                                           consumer_errors row and continue
- bootstrap        rpatterns/bootstrap.go  no cursor → start from head
- await            rpatterns/await.go      block until matching event
- concurrent       rpatterns/concurrent.go subsumed: Spark tasks already
                                           process partitions concurrently
                                           under one atomic batch commit
                                           (SURVEY.md §2.1 P4)
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reflex_spark.sources.event_log import rows_of
from reflex_spark.streaming.consumer import Consumer, row_consumer
from reflex_spark.streaming.cursors import CursorStore, MemCursorStore
from reflex_spark.streaming.run import ErrStopped, Spec, StreamOptions, run


# --- batch window (P1) ----------------------------------------------------


def batch_spec(
    log,
    cstore: CursorStore,
    name: str,
    consume_batch: Callable[[DataFrame, dict], None],
    flush_len: int,
    **opt_kwargs: Any,
) -> Spec:
    """Count-based batch windows (rpatterns/batch.go flushLen): the poll
    loop's batch_limit is the flush size; each flush is one consume call
    and the cursor advances only after the flush (ack-last semantics,
    rpatterns/batch.go:216-241). Time-based flush (flushPeriod) maps to
    trigger intervals on the run_stream path."""
    return Spec(
        log=log,
        cstore=cstore,
        consumer=Consumer(name=name, fn=consume_batch),
        options=StreamOptions(batch_limit=flush_len, **opt_kwargs),
    )


# --- ack (P2) -------------------------------------------------------------


class AckConsumer:
    """Manual cursor commit (rpatterns/ack.go): the run loop's automatic
    set_cursor is disabled via a no-op store wrapper; the consumer calls
    ack(event_id) itself."""

    class _NoSetStore:
        """Wraps a store, swallowing automatic sets (rpatterns/ack.go:75-91)."""

        def __init__(self, inner: CursorStore):
            self.inner = inner

        def get_cursor(self, consumer: str) -> int:
            return self.inner.get_cursor(consumer)

        def set_cursor(self, consumer: str, cursor: int) -> None:
            pass

        def flush(self) -> None:
            self.inner.flush()

    def __init__(
        self,
        name: str,
        cstore: CursorStore,
        fn: Callable[[DataFrame, "AckConsumer"], None],
        event_filter: Column | None = None,
    ):
        self.name = name
        self._store = cstore
        self._fn = fn
        self._event_filter = event_filter

    def ack(self, event_id: int) -> None:
        self._store.set_cursor(self.name, event_id)

    def spec(self, log, **opt_kwargs: Any) -> Spec:
        consumer = Consumer(
            name=self.name,
            fn=lambda df, meta: self._fn(df, self),
            event_filter=self._event_filter,
        )
        return Spec(
            log=log,
            cstore=self._NoSetStore(self._store),
            consumer=consumer,
            options=StreamOptions(**opt_kwargs),
        )


# --- parallel / sharded (P3) ---------------------------------------------


def shard_filter(n: int, m: int, key: Column) -> Column:
    """Deterministic hash-shard predicate: shard m of n by key
    (reference FNV-32 hash%n==m, rpatterns/parallel.go:84-100; here
    crc32 of the key — any stable uniform hash satisfies the contract)."""
    return F.crc32(key.cast("string")) % n == m


def default_shard_name(name: str, m: int, n: int) -> str:
    """Default shard cursor name (rpatterns/parallel.go makeName)."""
    return f"{name}_{m}_of_{n}"


def parallel_specs(
    log,
    cstore: CursorStore,
    name: str,
    n: int,
    consume_batch: Callable[[DataFrame, dict], None],
    key_col: str | Column = "foreign_id",
    name_formatter: Callable[[str, int, int], str] = default_shard_name,
    shard_opts: Callable[[int], dict] | None = None,
    **opt_kwargs: Any,
) -> list[Spec]:
    """N independent shard consumers over one stream, each with its own
    cursor ``{name}_{m}_of_{n}`` (rpatterns/parallel.go:102-124). Events
    for one key always land in the same shard → per-key ordering holds.

    ``key_col`` may be a column name or an arbitrary Column expression —
    the latter is the WithHashFn custom-hash analogue
    (rpatterns/parallel.go:315-321); name/type/foreign-id HashOptions are
    just different column choices. ``name_formatter`` is WithNameFormatter;
    ``shard_opts`` is WithConsumerSpecificOpts (per-shard StreamOptions
    kwargs merged over ``opt_kwargs``).

    In-engine note: within one Spark job, repartition(n, key) +
    sortWithinPartitions("event_id") achieves the same per-key ordered
    parallelism with a single cursor; parallel_specs is for independently
    scheduled/restarted consumers, which is what the reference offers.
    """
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    specs = []
    for m in range(n):
        kwargs = {**opt_kwargs, **(shard_opts(m) if shard_opts else {})}
        consumer = Consumer(
            name=name_formatter(name, m, n),
            fn=consume_batch,
            event_filter=shard_filter(n, m, key),
        )
        specs.append(Spec(log=log, cstore=cstore, consumer=consumer, options=StreamOptions(**kwargs)))
    return specs


def parallel_ack_specs(
    log,
    cstore: CursorStore,
    name: str,
    n: int,
    consume_batch: Callable[[DataFrame, AckConsumer], None],
    key_col: str | Column = "foreign_id",
    name_formatter: Callable[[str, int, int], str] = default_shard_name,
    **opt_kwargs: Any,
) -> list[Spec]:
    """ParallelAck (rpatterns/parallel.go:206-229): N hash-sharded
    consumers whose cursors only advance on explicit ``ack`` — the shard
    filter composes with the ack no-set store, so each shard owns both
    which events it sees and when its cursor moves."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    return [
        AckConsumer(
            name_formatter(name, m, n),
            cstore,
            consume_batch,
            event_filter=shard_filter(n, m, key),
        ).spec(log, **opt_kwargs)
        for m in range(n)
    ]


def ordered_by_key(df: DataFrame, n_partitions: int, key_col: str = "foreign_id") -> DataFrame:
    """Per-key ordered parallelism inside one job: co-locate each key's
    events and order them by event_id (SURVEY.md §4 custom-work 2)."""
    return df.repartition(n_partitions, F.col(key_col)).sortWithinPartitions("event_id")


# --- best-effort (P5) and dead-letter (P6) -------------------------------


def _retrying_rows(fn: Callable[[dict], None], retries: int):
    """``row_consumer`` over ``fn`` tried up to ``retries + 1`` times per
    row; the last failure marks the row failed."""

    def with_retries(row: dict) -> None:
        for attempt in range(retries + 1):
            try:
                fn(row)
                return
            except Exception:
                if attempt == retries:
                    raise

    return row_consumer(with_retries)


def best_effort_consumer(
    name: str,
    fn: Callable[[dict], None],
    retries: int = 2,
) -> Consumer:
    """Retry each event up to ``retries`` times, then log-and-skip — never
    blocks the stream (rpatterns/besteffort.go:16-63). Failures are
    counted in stats; successes/failures both advance the cursor."""

    transform = _retrying_rows(fn, retries)
    consumer = Consumer(name=name, fn=lambda df, meta: None)

    def consume_batch(df: DataFrame, meta: dict) -> None:
        statuses = transform(df)
        n_failed = statuses.where(~F.col("__consume_ok")).count()
        consumer.stats["skipped"] = consumer.stats.get("skipped", 0) + n_failed

    consumer.fn = consume_batch
    return consumer


def dead_letter_consumer(
    name: str,
    fn: Callable[[dict], None],
    errors_path: str,
    retries: int = 2,
) -> Consumer:
    """Retry, then record a ConsumerError row and continue
    (rpatterns/deadletter.go:17-75). The error table matches the reference
    schema (FIXTURES.md §1.3) with a deterministic key (consumer,
    event_id) so re-deliveries upsert instead of duplicating — the Delta
    MERGE analogue of rsql/db.go:300-339 (read side dedups by key keeping
    the latest attempt)."""

    transform = _retrying_rows(fn, retries)
    consumer = Consumer(name=name, fn=lambda df, meta: None)

    def consume_batch(df: DataFrame, meta: dict) -> None:
        statuses = transform(df).cache()
        try:
            failed = statuses.where(~F.col("__consume_ok"))
            n_failed = failed.count()
            if n_failed:
                (
                    failed.select(
                        F.lit(name).alias("consumer"),
                        F.col("event_id"),
                        F.col("__consume_error").alias("error_msg"),
                        F.current_timestamp().alias("created_at"),
                        F.current_timestamp().alias("updated_at"),
                        F.lit(1).alias("error_status"),  # reference api.go:202-206
                    ).write.mode("append").parquet(errors_path)
                )
                consumer.stats["dead_lettered"] = consumer.stats.get("dead_lettered", 0) + n_failed
        finally:
            statuses.unpersist()

    consumer.fn = consume_batch
    return consumer


def read_consumer_errors(spark, errors_path: str) -> DataFrame:
    """Dead-letter table with upsert semantics applied on read: one row per
    (consumer, event_id), keeping the latest attempt (stable identity like
    the reference's last_insert_id(id) upsert, rsql/db.go:300-339)."""
    from pyspark.sql.window import Window

    df = spark.read.parquet(errors_path)
    w = Window.partitionBy("consumer", "event_id").orderBy(F.col("updated_at").desc())
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


# --- concurrent (P4) ------------------------------------------------------


def concurrent_consumer(
    name: str,
    fn: Callable[[dict], None],
    max_in_flight: int = 8,
) -> Consumer:
    """Concurrent out-of-order processing with ordered commit
    (rpatterns/concurrent.go:27-153): rows of a batch run in parallel
    across ``max_in_flight`` partitions; the cursor advances only when the
    whole batch succeeds (Spark's microbatch barrier plays the reference's
    GapSequence min-heap role — SURVEY.md §2.1 P4). First failure poisons
    the batch: fail-fast, cursor unchanged, redelivery on restart."""
    transform = row_consumer(fn)

    def consume_batch(df: DataFrame, meta: dict) -> None:
        statuses = transform(df.repartition(max_in_flight))
        poisoned = statuses.where(~F.col("__consume_ok")).select("event_id", "__consume_error").limit(1).collect()
        if poisoned:
            row = poisoned[0]
            raise RuntimeError(
                f"concurrent consumer {name} poisoned by event {row['event_id']}: {row['__consume_error']}"
            )

    return Consumer(name=name, fn=consume_batch)


# --- bootstrap (P8) -------------------------------------------------------


def bootstrap_spec(log, cstore: CursorStore, consumer: Consumer, **opt_kwargs: Any) -> Spec:
    """First run (no cursor) starts from head; later runs resume normally
    (rpatterns/bootstrap.go:9-53) — from_head only applies at cursor==0."""
    return Spec(
        log=log,
        cstore=cstore,
        consumer=consumer,
        options=StreamOptions(from_head=True, **opt_kwargs),
    )


# --- await (P9) -----------------------------------------------------------


def await_event(
    log,
    foreign_id: str,
    types: Sequence[int],
    poll_fn: Callable[[], bool] | None = None,
    timeout_sec: float = 30.0,
    poll_interval: float = 0.2,
) -> bool:
    """Block until an event with foreign_id+type exists after the call
    (rpatterns/await.go:18-78): races a log watcher against an optional
    state poller. Returns True if seen, False on timeout. The watcher is a
    ``run()`` from the head at call time that stops at the first match, when
    ``poll_fn`` reports the state, or at the deadline."""
    deadline = time.monotonic() + timeout_sec
    seen = False

    def watch(batch: DataFrame, meta: dict) -> None:
        nonlocal seen
        rows = rows_of(batch)
        wanted = pc.is_in(rows["event_type"], pa.array(list(types), rows["event_type"].type))
        seen = seen or bool(pc.any(pc.and_(pc.equal(rows["foreign_id"], foreign_id), wanted)).as_py())

    def stop() -> bool:
        nonlocal seen
        seen = seen or (poll_fn is not None and bool(poll_fn()))
        return seen or time.monotonic() >= deadline

    options = StreamOptions(from_head=True, poll_backoff=poll_interval, stop=stop)
    try:
        run(Spec(log, MemCursorStore(), Consumer("await_event", watch), options))
    except ErrStopped:
        pass
    return seen
