"""The benchmark workloads, driven through reflex_spark's public API.

``tail``     open-loop producer thread appending to an EventLog while a
             consumer thread follows it with ``run()``.
``backfill`` replays a prebuilt log from cursor 0 into MaterializedCounts,
             alternating the poll loop (``run``) and Structured Streaming
             (``run_stream``).
queries      registered batch queries over generated tables, built and run
             with the noop sink (the traced run's query phase).

Every run checks its outputs against an independent reference and counts
each append, consumer batch and check in ``Ctx.attempted``/``Ctx.failed``.
"""

from __future__ import annotations

import importlib.util
import os
import resource
import threading
import time
from collections import Counter
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

import gen
import tracing
from reflex_spark.queries import all_oracle_sql, all_queries
from reflex_spark.sources.event_log import EVENT_SCHEMA, EventLog
from reflex_spark.streaming import (
    Consumer,
    ErrHeadReached,
    ErrStopped,
    FileCursorStore,
    InMemNotifier,
    MemCursorStore,
    Spec,
    StreamOptions,
    run,
)
from reflex_spark.streaming.materialize import MaterializedCounts
from reflex_spark.streaming.run import run_stream
from reflex_spark.tables import TABLES, table_path

APPEND_SCHEMA = StructType([f for f in EVENT_SCHEMA.fields if f.name != "event_id"])
DRAIN_TIMEOUT_S = 60.0
#: Relational, window and behavioural queries: all read `lineitem`/`events`.
QUERIES = ("q1_pricing_summary", "events_session_count", "funnel_signup_to_purchase")


@dataclass
class Ctx:
    """One process's benchmark state: session, scratch space and tallies."""

    spark: object
    work: str
    size: gen.Size
    seed: int
    tracer: object = None  # tracing.Tracer while a traced phase runs
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    diagnostics: dict = field(default_factory=dict)  # printed, not gated
    _n: int = 0

    def cpu_s(self) -> float:
        """CPU seconds (user + system) this Python driver and its JVM, with
        the JVM's reaped children, have used so far. Unlike wall time, this
        leaves out the time the hypervisor gives the host's CPUs to other
        guests."""
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        ru = resource.getrusage(resource.RUSAGE_SELF)
        with open(f"/proc/{pid}/stat") as f:
            ticks = f.read().rsplit(")", 1)[1].split()[11:15]  # utime stime cutime cstime
        return ru.ru_utime + ru.ru_stime + sum(map(int, ticks)) / os.sysconf("SC_CLK_TCK")

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{self._n:03d}-{name}")

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def consumer_fn(self, fn):
        return self.tracer.wrap(fn, "consumer.consume") if self.tracer else fn

    @contextmanager
    def traced(self, tracer):
        """Trace the layers, and the calls made here, inside the block."""
        self.tracer = tracer
        try:
            with tracing.instrument(tracer):
                yield
        finally:
            self.tracer = None


class CommitLog(FileCursorStore):
    """A FileCursorStore that remembers when each cursor became durable:
    the at-least-once commit point of every event at or below it."""

    def __init__(self, path: str):
        super().__init__(path)
        self.commits: list[tuple[float, int]] = []

    def set_cursor(self, consumer, cursor) -> None:
        super().set_cursor(consumer, cursor)
        self.commits.append((time.perf_counter(), cursor))


def delivery_s(commits: list[tuple[float, int]], n: int, created: np.ndarray) -> np.ndarray:
    """Per event id 1..n: time of the first commit covering it minus its
    creation time. ``commits`` are (time, cursor) with non-decreasing cursor."""
    t = np.array([c[0] for c in commits])
    cur = np.array([c[1] for c in commits])
    return t[np.searchsorted(cur, np.arange(1, n + 1), side="left")] - created


def _frame(ctx: Ctx, pdf):
    return ctx.spark.createDataFrame(pdf, APPEND_SCHEMA)


# -- tail -------------------------------------------------------------------


@dataclass
class TailResult:
    log_path: str
    events: int
    deliver_s: np.ndarray
    append_s: list[float]
    events_per_s: float
    batches: int
    late_s: float  # worst oversleep of the generator while it waited to create
    backlog_end: int  # created but not committed when the window closed
    backlog_drained: int  # the same after the drain (0 when it kept up)
    redelivered: int  # events the consumer received again in a later batch


def tail(ctx: Ctx, seconds: float) -> TailResult:
    """Open-loop load at ``size.tail_rate`` events/s for ``seconds``.

    The producer thread group-commits every event created so far with one
    ``EventLog.append`` as soon as the previous append returns; the consumer
    thread follows with ``run()``, woken by the log's InMemNotifier, and
    tallies each batch per event type."""
    spark = ctx.spark
    inp = gen.tail_input(ctx.seed, ctx.size, seconds)
    n = len(inp.offset_s)
    log = EventLog(spark, ctx.path("tail-log"), notifier=InMemNotifier())
    cstore = CommitLog(ctx.path("tail-cursors"))
    tallies: Counter = Counter()
    seen = {"hi": 0, "redelivered": 0}

    def tally(df, meta):
        # Idempotent, as at-least-once delivery requires: a batch may repeat
        # ids an earlier batch already held, so count only ids above the
        # highest one tallied so far.
        hi = seen["hi"]
        rows = (
            df.groupBy("event_type")
            .agg(
                F.count(F.when(F.col("event_id") > hi, 1)).alias("fresh"),
                F.count(F.lit(1)).alias("n"),
                F.max("event_id").alias("hi"),
            )
            .collect()
        )
        for row in rows:
            tallies[row["event_type"]] += row["fresh"]
            seen["redelivered"] += row["n"] - row["fresh"]
            seen["hi"] = max(seen["hi"], row["hi"])

    stop = threading.Event()
    spec = Spec(
        log,
        cstore,
        Consumer("tail", ctx.consumer_fn(tally)),
        StreamOptions(batch_limit=1_000_000, stop=stop.is_set),
    )
    errors: list[str] = []
    append_s: list[float] = []
    late = [0.0]

    def follow():
        try:
            with ctx.span("run"):
                run(spec)
        except ErrStopped:
            pass
        except Exception as exc:  # noqa: BLE001 — reported as a failed run
            errors.append(f"consumer: {exc!r}")

    def produce():
        i = 0
        try:
            while i < n:
                now = time.perf_counter() - t0
                j = int(np.searchsorted(inp.offset_s, now, side="right"))
                if j == i:
                    time.sleep(inp.offset_s[i] - now)
                    late[0] = max(late[0], time.perf_counter() - t0 - inp.offset_s[i])
                    continue
                df = _frame(ctx, gen.tail_frame(inp, i, j, wall0))
                ta = time.perf_counter()
                log.append(df)
                append_s.append(time.perf_counter() - ta)
                i = j
        except Exception as exc:  # noqa: BLE001 — reported as a failed run
            errors.append(f"producer: {exc!r}")

    consumer = threading.Thread(target=follow, name="tail-consumer")
    consumer.start()
    time.sleep(0.5)  # let the consumer park on the empty log
    t0, wall0 = time.perf_counter(), time.time()
    producer = threading.Thread(target=produce, name="tail-producer")
    producer.start()
    producer.join()
    deadline = time.perf_counter() + DRAIN_TIMEOUT_S
    while not (cstore.commits and cstore.commits[-1][1] >= n):
        if time.perf_counter() > deadline or errors or not consumer.is_alive():
            break
        time.sleep(0.01)
    stop.set()
    consumer.join(timeout=DRAIN_TIMEOUT_S)

    commits = list(cstore.commits)
    final = commits[-1][1] if commits else 0
    window_end = t0 + seconds
    at_end = max([c for t, c in commits if t <= window_end], default=0)
    ctx.attempted += len(append_s) + spec.consumer.stats["batches"]
    ctx.failed += spec.consumer.stats["errors"]
    for e in errors:
        ctx.check(False, e)
    ctx.check(not consumer.is_alive(), "tail: consumer thread did not stop")
    ctx.check(final == n, f"tail: backlog did not drain ({final} of {n} committed)")
    ctx.check(
        final == EventLog(spark, log.path).head(), "tail: final cursor != log head"
    )
    expected = Counter(int(t) for t in inp.event_type)
    ctx.check(dict(tallies) == dict(expected), f"tail: tallies {dict(tallies)} != {dict(expected)}")
    drained = final == n
    return TailResult(
        log_path=log.path,
        events=n,
        deliver_s=delivery_s(commits, n, t0 + inp.offset_s) if drained else np.array([]),
        append_s=append_s,
        events_per_s=n / (commits[-1][0] - t0) if drained else 0.0,
        batches=spec.consumer.stats["batches"],
        late_s=late[0],
        backlog_end=n - at_end,
        backlog_drained=n - final,
        redelivered=seen["redelivered"],
    )


def warm_tail(ctx: Ctx) -> None:
    """An untimed tail window first: a fresh JVM's first appends and polls
    run several times slower while the JIT compiles them."""
    if ctx.size.warmup_s:
        tail(ctx, ctx.size.warmup_s)


# -- backfill ---------------------------------------------------------------


@dataclass
class Replay:
    loop: str  # "poll" or "stream"
    wall_s: float
    cpu_s: float
    deliver_s: np.ndarray  # per event: pass start -> commit covering it
    batches: int
    rollup: str


def build_log(ctx: Ctx, frames, name: str) -> EventLog:
    log = EventLog(ctx.spark, ctx.path(name))
    for pdf in frames:
        log.append(_frame(ctx, pdf))
        ctx.attempted += 1
    return log


def replay_poll(ctx: Ctx, log: EventLog, n: int) -> Replay:
    """``run(to_head=True)`` from cursor 0 into a fresh MaterializedCounts."""
    mc = MaterializedCounts(ctx.spark, ctx.path("poll-rollup"), ["foreign_id"])
    cstore = CommitLog(ctx.path("poll-cursors"))
    spec = Spec(
        log,
        cstore,
        Consumer("backfill", ctx.consumer_fn(mc.apply_batch)),
        StreamOptions(to_head=True, batch_limit=ctx.size.batch_limit),
    )
    c0, t0 = ctx.cpu_s(), time.perf_counter()
    with ctx.span("run"):
        try:
            run(spec)
        except ErrHeadReached:
            pass
    wall, cpu = time.perf_counter() - t0, ctx.cpu_s() - c0
    return _replay(ctx, "poll", wall, cpu, cstore.commits, n, t0, spec, mc)


def replay_stream(ctx: Ctx, log: EventLog, n: int) -> Replay:
    """``run_stream(available_now=True)`` from an empty checkpoint into a
    fresh MaterializedCounts; a batch commits when foreachBatch returns."""
    mc = MaterializedCounts(ctx.spark, ctx.path("stream-rollup"), ["foreign_id"])
    commits: list[tuple[float, int]] = []

    def apply(df, meta):
        mc.apply_batch(df, meta)
        commits.append((time.perf_counter(), mc.watermark()))

    spec = Spec(log, MemCursorStore(), Consumer("backfill", ctx.consumer_fn(apply)))
    c0, t0 = ctx.cpu_s(), time.perf_counter()
    with ctx.span("run_stream"):
        run_stream(
            spec,
            ctx.path("stream-checkpoint"),
            available_now=True,
            timeout_sec=150.0,
            max_files_per_trigger=ctx.size.max_files_per_trigger,
        )
    wall, cpu = time.perf_counter() - t0, ctx.cpu_s() - c0
    return _replay(ctx, "stream", wall, cpu, commits, n, t0, spec, mc)


def _replay(ctx, loop, wall, cpu, commits, n, t0, spec, mc) -> Replay:
    ctx.attempted += spec.consumer.stats["batches"]
    ctx.failed += spec.consumer.stats["errors"]
    done = bool(commits) and commits[-1][1] == n
    ctx.check(done, f"backfill/{loop}: replay stopped short of head")
    return Replay(
        loop=loop,
        wall_s=wall,
        cpu_s=cpu,
        deliver_s=delivery_s(commits, n, np.full(n, t0)) if done else np.array([]),
        batches=spec.consumer.stats["batches"],
        rollup=mc.path,
    )


def duck_counts(sql: str) -> dict[str, int]:
    with duckdb.connect() as con:
        return dict(con.execute(sql).fetchall())


def check_rollups(ctx: Ctx, log: EventLog, replays: list[Replay]) -> int:
    """Every rollup equals DuckDB's GROUP BY over the log's parquet files
    (and so each other). Returns the number of rollup rows."""
    truth = duck_counts(
        f"SELECT foreign_id, COUNT(*) FROM read_parquet('{log.path}/part-*.parquet') GROUP BY 1"
    )
    first = None
    for r in replays:
        got = duck_counts(
            f"SELECT foreign_id, n_events FROM read_parquet('{r.rollup}/part-*.parquet')"
        )
        ctx.check(got == truth, f"backfill/{r.loop}: rollup != DuckDB GROUP BY foreign_id")
        if first is not None:
            ctx.check(got == first, f"backfill/{r.loop}: rollups of the two loops differ")
        first = got
    return len(truth)


def warm_backfill(ctx: Ctx, log: EventLog, n: int) -> None:
    """Untimed replays first: the JIT keeps speeding replays up for the
    first few pairs in a fresh JVM."""
    if ctx.size.warmup_pairs:
        check_rollups(ctx, log, backfill(ctx, log, n, ctx.size.warmup_pairs))


def backfill(ctx: Ctx, log: EventLog, n: int, pairs: int) -> list[Replay]:
    """``pairs`` poll replays alternating with as many stream replays.

    A fixed amount of work rather than a fixed time: a run that happens to
    be faster would otherwise do more replays, warm the JIT further and
    read faster still."""
    replays: list[Replay] = []
    for _ in range(pairs):
        replays.append(replay_poll(ctx, log, n))
        replays.append(replay_stream(ctx, log, n))
    return replays


# -- queries ----------------------------------------------------------------


def write_tables(ctx: Ctx, frames: dict[str, pd.DataFrame]) -> str:
    """One parquet file per table, in the layout the query layer loads; the
    tables these queries do not read are written empty."""
    sf_dir = ctx.path("tables")
    os.makedirs(sf_dir)
    empty = pd.DataFrame({"id": pd.Series([], dtype="int64")})
    for name in TABLES:
        frames.get(name, empty).to_parquet(table_path(sf_dir, name), index=False)
    return sf_dir


@dataclass
class QueryTime:
    name: str
    build_s: float  # the registered callable returns its DataFrame
    exec_s: float  # the DataFrame written to the noop sink


def run_queries(ctx: Ctx, sf_dir: str, names: list[str]) -> list[QueryTime]:
    fns = all_queries()
    out = []
    for name in names:
        t0 = time.perf_counter()
        with ctx.span(f"queries.{name}.build"):
            df = fns[name](ctx.spark, sf_dir)
        t1 = time.perf_counter()
        with ctx.span(f"queries.{name}.exec"):
            df.write.format("noop").mode("overwrite").save()
        out.append(QueryTime(name, t1 - t0, time.perf_counter() - t1))
        ctx.attempted += 1
    return out


def _oracle_harness():
    """The repository's DuckDB oracle comparison (column and row sort,
    bit-exact values), loaded from its file."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "oracle_harness", os.path.join(root, "tests", "oracle_harness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(ctx: Ctx, sf_dir: str, names: list[str]) -> None:
    """Every query's result equals its DuckDB oracle."""
    harness, fns, oracle = _oracle_harness(), all_queries(), all_oracle_sql()
    for name in names:
        errs = harness.compare(fns[name](ctx.spark, sf_dir), harness.run_oracle(oracle[name], sf_dir), name)
        ctx.check(not errs, "; ".join(errs)[:500])
