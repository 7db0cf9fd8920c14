"""run_stream's driver-served micro-batches against its Spark path.

A micro-batch whose files the commit records name, holding at most
``DRIVER_WINDOW_ROWS`` rows, is read on the driver with pyarrow and handed
over as a tagged local DataFrame (``event_log.local_batch``); any other
micro-batch is delivered as Spark built it. The Spark path is the
reference: ``DRIVER_WINDOW_ROWS = 0`` forces it for every micro-batch.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import os
import re
import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from reflex_spark.sources import event_log
from reflex_spark.sources.event_log import EVENT_SCHEMA, EventLog, arrow_of, local_batch
from reflex_spark.sources.memory import EPOCH, make_events
from reflex_spark.streaming import (
    Consumer,
    ErrHeadReached,
    MemCursorStore,
    Spec,
    StreamOptions,
    materialize,
    run,
)
from reflex_spark.streaming.materialize import MaterializedCounts
from reflex_spark.streaming.run import (
    _CHECKPOINT_MANAGER_CONF,
    _FS_CHECKPOINT_MANAGER,
    _LOCAL_CHECKPOINT_CONFS,
    _logged_files,
    run_query,
    run_stream,
)

run_module = importlib.import_module("reflex_spark.streaming.run")  # the package's ``run`` is the loop


def _rows(n: int, tag: str, noop_every: int = 0) -> list[tuple[int, str]]:
    """``n`` events over three foreign ids and two types; every
    ``noop_every``-th one a noop (foreign_id '0', type 0)."""
    return [
        (0, "0") if noop_every and i % noop_every == 0 else (1 + i % 2, f"{tag}{i % 3}")
        for i in range(n)
    ]


def _log(spark, root, name="log with space", partitioned=False, appends=3, n=4, noop_every=4):
    log = EventLog(spark, os.path.join(root, name), partitioned=partitioned)
    for k in range(appends):
        log.append(make_events(spark, _rows(n, f"k{k}-", noop_every), start=EPOCH + timedelta(hours=k)))
    return log


class _Probe:
    """A consumer: records what each batch delivered and whether it was
    served from the driver, and merges ``transform(batch)`` into a rollup."""

    def __init__(self, spark, root, transform=lambda df: df, value_col=None, **consumer):
        self.rollup = MaterializedCounts(spark, os.path.join(root, "rollup"), ["foreign_id"], value_col)
        self.transform = transform
        self.delivered: list[tuple] = []
        self.served: list[bool] = []
        self.consumer = Consumer("probe", self.consume, **consumer)

    def consume(self, df, meta):
        self.served.append(arrow_of(df) is not None)
        self.delivered.extend(tuple(r) for r in df.select("event_id", "event_type", "foreign_id").collect())
        self.rollup.apply_batch(self.transform(df), meta)

    def outcome(self):
        return {
            "delivered": sorted(self.delivered),
            "rollup": sorted(tuple(r) for r in self.rollup.read().collect())
            if os.path.exists(self.rollup.path)
            else [],
            "watermark": self.rollup.watermark(),
            "batches": self.consumer.stats["batches"],
        }


def _stream(spark, log, root, options=None, max_files=None, **probe):
    """One ``run_stream`` into a fresh probe; (probe, Spark jobs the query ran)."""
    p = _Probe(spark, root, **probe)
    q = run_stream(
        Spec(log, MemCursorStore(), p.consumer, options or StreamOptions()),
        os.path.join(root, "ckpt"),
        max_files_per_trigger=max_files,
    )
    time.sleep(0.5)  # let the listener bus record the last jobs
    # the query thread runs foreachBatch under the job group of its run id
    return p, len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))


def _both(spark, tmp_path, log, **kw):
    """(driver-path probe, its job count, Spark-path probe) over one log."""
    driver, jobs = _stream(spark, log, str(tmp_path / "driver"), **kw)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(event_log, "DRIVER_WINDOW_ROWS", 0)
        spark_path, _ = _stream(spark, log, str(tmp_path / "spark"), **kw)
    assert not any(spark_path.served)
    return driver, jobs, spark_path


@pytest.mark.parametrize("drop_noops", [True, False], ids=["drop_noops", "keep_noops"])
def test_served_micro_batches_match_the_spark_path(spark, tmp_path, drop_noops):
    """Over a log with noops, at a path with a space (the plan names files
    as percent-escaped URIs), every micro-batch is served from the driver
    with no Spark job and delivers and rolls up what the Spark path does."""
    log = _log(spark, str(tmp_path))
    driver, jobs, ref = _both(spark, tmp_path, log, options=StreamOptions(drop_noops=drop_noops), max_files=1)
    assert driver.served == [True] * 3
    assert jobs == 0
    assert driver.outcome() == ref.outcome()
    assert len(driver.delivered) == (9 if drop_noops else 12)


def test_from_head_and_restart_match_the_spark_path(spark, tmp_path):
    """from_head skips what the first start saw, across a restart from the
    checkpoint, on both paths."""
    log = _log(spark, str(tmp_path), appends=2)
    opts = StreamOptions(from_head=True)
    driver, _, ref = _both(spark, tmp_path, log, options=opts)
    assert driver.delivered == ref.delivered == []
    log.append(make_events(spark, _rows(5, "late-"), start=EPOCH + timedelta(days=1)))
    driver2, jobs, ref2 = _both(spark, tmp_path, log, options=opts)  # same checkpoints
    assert driver2.served == [True] and jobs == 0
    assert driver2.outcome() == ref2.outcome()
    assert [r[0] for r in sorted(driver2.delivered)] == list(range(9, 14))


def test_lag_waits_on_the_served_rows(spark, tmp_path):
    """The lag wait comes from the served rows' newest timestamp: the
    batch is delivered no sooner than that plus the lag, on both paths."""
    log = EventLog(spark, str(tmp_path / "log"))
    now = datetime.now()  # naive local time, as make_events takes it
    log.append(make_events(spark, _rows(3, "a"), start=now, step_seconds=0.1))
    newest = now.timestamp() + 0.2
    seen_at = []

    def timed(df):
        seen_at.append(time.time())
        return df

    driver, _, ref = _both(spark, tmp_path, log, options=StreamOptions(lag_seconds=1.5), transform=timed)
    assert driver.served == [True]
    assert min(seen_at) >= newest + 1.5 - 0.01
    assert driver.outcome() == ref.outcome()


def test_transforming_and_filtering_consumers_match_the_spark_path(spark, tmp_path):
    """A consumer that derives its value column before apply_batch, and one
    with include_types, get the served batch; their rollups match."""
    log = _log(spark, str(tmp_path))
    value = lambda df: df.withColumn("value", F.col("event_type") * 10 + 1)  # noqa: E731
    driver, _, ref = _both(spark, tmp_path / "value", log, transform=value, value_col="value")
    assert all(driver.served) and driver.outcome() == ref.outcome()
    assert driver.outcome()["rollup"]
    driver, _, ref = _both(spark, tmp_path / "types", log, include_types=[2])
    assert driver.outcome() == ref.outcome()
    assert {r[1] for r in driver.delivered} == {2}


def test_unservable_micro_batches_take_the_spark_path(spark, tmp_path):
    """A raw out-of-band file, a micro-batch above DRIVER_WINDOW_ROWS and a
    partitioned log's micro-batches are delivered as Spark reads them."""
    log = _log(spark, str(tmp_path / "raw"), noop_every=0)
    spark.createDataFrame([(13, 1, "raw", EPOCH + timedelta(days=2), None, None)], EVENT_SCHEMA).write.mode(
        "append"
    ).parquet(log.path)
    driver, _, ref = _both(spark, tmp_path / "raw", log, max_files=1)
    # the raw file carries a wall-clock mtime, newer than every commit's
    assert driver.served[:3] == [True] * 3 and not any(driver.served[3:])
    assert driver.outcome() == ref.outcome()

    log = _log(spark, str(tmp_path / "big"), noop_every=0)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(event_log, "DRIVER_WINDOW_ROWS", 6)
        big, _ = _stream(spark, log, str(tmp_path / "big" / "driver"), max_files=2)
    assert big.served == [False, True]  # 8 rows, then 4
    assert [r[0] for r in sorted(big.delivered)] == list(range(1, 13))

    log = _log(spark, str(tmp_path / "part"), partitioned=True)
    driver, _, ref = _both(spark, tmp_path / "part", log, max_files=1)
    assert not any(driver.served)
    assert driver.outcome() == ref.outcome()


def test_run_stream_restores_the_checkpoint_manager_conf(spark, tmp_path):
    log = _log(spark, str(tmp_path), appends=1)
    assert spark.conf.get(_CHECKPOINT_MANAGER_CONF, None) is None
    _stream(spark, log, str(tmp_path / "a"))
    assert spark.conf.get(_CHECKPOINT_MANAGER_CONF, None) is None
    default = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    spark.conf.set(_CHECKPOINT_MANAGER_CONF, default)
    try:
        _stream(spark, log, str(tmp_path / "b"))
        assert spark.conf.get(_CHECKPOINT_MANAGER_CONF) == default
    finally:
        spark.conf.unset(_CHECKPOINT_MANAGER_CONF)


def test_the_rows_tag_is_bound_to_the_dataframe_object(spark, tmp_path):
    """Only the exact DataFrame ``local_batch`` built carries its rows. A
    consumer that filters, or adds a column to, a served batch and forwards
    the loop's ``meta`` to apply_batch merges what it passed — equal to the
    Spark shuffle merge of the same batches, on both run loops, redelivered
    rows included. So do value columns read straight off a served batch."""
    log = _log(spark, str(tmp_path), noop_every=0)
    rows = log.poll_window(0)
    batch = local_batch(spark, rows)
    assert arrow_of(batch) is rows
    assert arrow_of(batch.where(F.col("event_type") == 1)) is None
    assert arrow_of(batch.withColumn("value", F.lit(1))) is None

    same = lambda df: df  # noqa: E731
    transforms = {
        "filtered": (lambda df: df.where(F.col("event_type") == 2), None),
        "valued": (lambda df: df.withColumn("value", F.col("event_type") * 3), "value"),
        "int32": (same, "event_type"),  # summed from the served rows
        "int64": (same, "event_id"),  # may not fit decimal(18,6): collected
    }

    def loops(root, merge_bytes):
        out = {}
        with pytest.MonkeyPatch.context() as m:
            m.setattr(materialize, "DRIVER_MERGE_BYTES", merge_bytes)
            for name, (transform, value_col) in transforms.items():
                p, _ = _stream(spark, log, f"{root}/stream-{name}", transform=transform, value_col=value_col)
                out[f"stream-{name}"] = p.outcome()["rollup"]
                p = _Probe(spark, f"{root}/poll-{name}", transform=transform, value_col=value_col)
                run(Spec(log, MemCursorStore(), p.consumer, StreamOptions(batch_limit=5)), max_batches=1)
                # from cursor 0 again: the first batch straddles the watermark
                with pytest.raises(ErrHeadReached):
                    run(Spec(log, MemCursorStore(), p.consumer, StreamOptions(to_head=True, batch_limit=8)))
                out[f"poll-{name}"] = p.outcome()["rollup"]
                assert all(p.served)
        return out

    got = loops(str(tmp_path / "driver"), materialize.DRIVER_MERGE_BYTES)
    assert got == loops(str(tmp_path / "shuffle"), -1)
    type2 = log.read().where(F.col("event_type") == 2).groupBy("foreign_id").count().collect()
    assert got["poll-filtered"] == got["stream-filtered"] == sorted(tuple(r) for r in type2)


def test_served_batches_across_a_source_log_compaction_and_a_restart(spark, tmp_path):
    """13 one-file triggers at a path with a space: the file source logs
    batch 9 in ``sources/0/9.compact``, and every batch is served, ids
    1..26 once each. A consumer that fails after merging batch 9 makes the
    restart re-serve batch 9 from that log; delivered rows, rollup and
    watermark equal the Spark path's."""
    log = _log(spark, str(tmp_path), appends=13, n=2, noop_every=0)
    driver, jobs, ref = _both(spark, tmp_path / "once", log, max_files=1)
    assert os.path.exists(tmp_path / "once" / "driver" / "ckpt" / "sources" / "0" / "9.compact")
    assert driver.served == [True] * 13 and jobs == 0
    assert sorted(r[0] for r in driver.delivered) == list(range(1, 27))
    assert driver.outcome() == ref.outcome()

    def crash_after_batch_9(root):
        p = _Probe(spark, root)
        crashed = []

        def consume(df, meta):
            p.consume(df, meta)
            if meta["batch_id"] == 9 and not crashed:
                crashed.append(meta)
                raise RuntimeError("crash after batch 9")

        p.consumer = Consumer("probe", consume)
        spec = Spec(log, MemCursorStore(), p.consumer, StreamOptions())
        with pytest.raises(Exception, match="crash after batch 9"):
            run_stream(spec, os.path.join(root, "ckpt"), max_files_per_trigger=1)
        run_stream(spec, os.path.join(root, "ckpt"), max_files_per_trigger=1)
        return p

    driver = crash_after_batch_9(str(tmp_path / "crash" / "driver"))
    with pytest.MonkeyPatch.context() as m:
        m.setattr(event_log, "DRIVER_WINDOW_ROWS", 0)
        ref = crash_after_batch_9(str(tmp_path / "crash" / "spark"))
    assert driver.served == [True] * 14 and not any(ref.served)
    assert sorted(r[0] for r in driver.delivered) == sorted([*range(1, 27), 19, 20])
    assert driver.outcome() == ref.outcome()


def test_run_stream_plans_no_read_and_one_stream_per_handle(spark, tmp_path, monkeypatch):
    """On an EventLog, run_stream never calls ``EventLog.read``: it sizes
    its shuffle from the log's file sizes, which equal Catalyst's estimate
    of ``read()`` on an unpartitioned, a compacted and an empty log. Two
    calls on one handle build the stream plan once per
    ``max_files_per_trigger``; ``read_stream()`` builds a new one per call."""
    from reflex_spark.streaming import statestore

    log = _log(spark, str(tmp_path / "plain"))
    compacted = _log(spark, str(tmp_path / "compacted"))
    compacted.compact()
    empty = EventLog(spark, str(tmp_path / "empty"))
    os.makedirs(empty.path)
    logs = [log, compacted, empty]
    planned = [int(lg.read()._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()) for lg in logs]
    assert planned[0] > planned[1] > planned[2] == 0
    partitions = [statestore.stream_shuffle_partitions(spark, lg.read()) for lg in logs]

    sized, built = [], []
    scaled, read_stream = statestore.scaled_stream_shuffle, EventLog.read_stream
    monkeypatch.setattr(
        statestore, "scaled_stream_shuffle", lambda s, **kw: sized.append(kw["est_bytes"]) or scaled(s, **kw)
    )
    monkeypatch.setattr(EventLog, "read_stream", lambda self, *a: built.append(self.path) or read_stream(self, *a))
    monkeypatch.setattr(EventLog, "read", lambda self: pytest.fail("run_stream called EventLog.read"))
    probes = [_stream(spark, lg, str(tmp_path / f"run{i}"))[0] for i, lg in enumerate(logs)]
    assert sized == planned
    assert [statestore.stream_shuffle_partitions(spark, est_bytes=b) for b in sized] == partitions
    assert probes[0].served == [True] and probes[1].served == [True] and probes[2].served == []
    assert [r[0] for r in sorted(probes[1].delivered)] == [r[0] for r in sorted(probes[0].delivered)]

    _stream(spark, log, str(tmp_path / "again"))
    _stream(spark, log, str(tmp_path / "one-file"), max_files=1)
    _stream(spark, log, str(tmp_path / "one-file-again"), max_files=1)
    assert built.count(log.path) == 2
    assert log.read_stream() is not log.read_stream()
    assert built.count(log.path) == 4


def test_a_partitioned_log_streams_through_spark_with_its_partition_column(spark, tmp_path, monkeypatch):
    """A partitioned log's micro-batches take the Spark path and keep
    ``event_date``, and each run_stream builds its stream plan anew (its
    partition columns come from the listing at build time)."""
    log = _log(spark, str(tmp_path), partitioned=True)
    built, columns = [], []
    read_stream = EventLog.read_stream
    monkeypatch.setattr(EventLog, "read_stream", lambda self, *a: built.append(self.path) or read_stream(self, *a))
    for run_name in ("first", "second"):
        p, _ = _stream(spark, log, str(tmp_path / run_name), transform=lambda df: columns.append(df.columns) or df)
        assert p.served and not any(p.served)
        assert [r[0] for r in sorted(p.delivered)] == [i for i in range(1, 13) if i % 4 != 1]
    assert all("event_date" in c for c in columns)
    assert built == [log.path, log.path]


def test_logged_files_only_for_a_micro_batch_that_is_one_source_batch(tmp_path):
    """A micro-batch's files come from the file source's log only when its
    offset ends at the source batch of the same id; a micro-batch that
    spans two source batches (a restart that finds new files beside a
    logged but unplanned source batch), a missing log or a non-local file
    sends it to the Spark path."""
    ckpt = tmp_path / "ckpt"
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "sources" / "0").mkdir(parents=True)

    def offsets(batch_id, log_offset):
        (ckpt / "offsets" / str(batch_id)).write_text(f'v1\n{{"batchWatermarkMs":0}}\n{{"logOffset":{log_offset}}}')

    def source(log_offset, *uris):
        entries = [f'{{"path":"{u}","timestamp":1,"batchId":{log_offset}}}' for u in uris]
        (ckpt / "sources" / "0" / str(log_offset)).write_text("\n".join(["v1", *entries]))

    offsets(0, 0)
    source(0, "file:///log%20a/part-0.parquet", "file:///log%20a/part-1.parquet")
    assert _logged_files(str(ckpt), 0) == ["/log a/part-0.parquet", "/log a/part-1.parquet"]
    source(1, "file:///log%20a/part-2.parquet")
    source(2, "file:///log%20a/part-3.parquet")
    offsets(1, 2)  # micro-batch 1 = source batches 1 and 2
    assert _logged_files(str(ckpt), 1) is None
    assert _logged_files(str(ckpt), 2) is None  # no offsets/2
    offsets(3, 3)
    source(3, "hdfs://nn/log/part-4.parquet")
    assert _logged_files(str(ckpt), 3) is None


def _crc_files(root) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, names in os.walk(root) for f in names if f.endswith(".crc")
    )


def test_a_local_checkpoint_writes_no_crc_and_restores_the_session_confs(spark, tmp_path):
    """For the whole query over a local checkpoint, the file source's log
    included, files are written by the FileSystem-based manager on Hadoop's
    raw local file system: no ``.crc`` anywhere under the checkpoint. Each
    of the three session confs holds its earlier value afterwards, unset or
    set, after a clean run, a consumer that raises and a timed-out follow."""
    log = _log(spark, str(tmp_path), appends=2, noop_every=0)

    def confs():
        return {key: spark.conf.get(key, None) for key in _LOCAL_CHECKPOINT_CONFS}

    def failing(df, meta):
        raise RuntimeError("consumer failed")

    unset = dict.fromkeys(_LOCAL_CHECKPOINT_CONFS)
    earlier_set = {
        _CHECKPOINT_MANAGER_CONF: "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager",
        "fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
        "fs.file.impl.disable.cache": "false",
    }
    assert confs() == unset
    try:
        for name, earlier in (("unset", unset), ("set", earlier_set)):
            for key, value in earlier.items():
                if value is not None:
                    spark.conf.set(key, value)
            root = tmp_path / name
            p, _ = _stream(spark, log, str(root), max_files=1)
            assert p.served == [True, True]
            assert sorted(r[0] for r in p.delivered) == list(range(1, 9))
            assert _crc_files(root / "ckpt") == []
            assert confs() == earlier

            spec = Spec(log, MemCursorStore(), Consumer("failing", failing))
            with pytest.raises(Exception, match="consumer failed"):
                run_stream(spec, str(root / "failing-ckpt"))
            assert _crc_files(root / "failing-ckpt") == []
            assert confs() == earlier

        idle = Spec(log, MemCursorStore(), Consumer("idle", lambda df, meta: None))
        run_stream(idle, str(tmp_path / "follow-ckpt"), available_now=False, timeout_sec=0.5)
        assert confs() == earlier_set
    finally:
        for key in _LOCAL_CHECKPOINT_CONFS:
            spark.conf.unset(key)


def test_a_checkpoint_written_with_crc_files_resumes(spark, tmp_path, monkeypatch):
    """A checkpoint written with the checkpoint manager set across
    ``start()`` only, so with ``.crc`` files and a ``sources/0`` written by
    Spark's default manager, resumes under the whole-query settings: each
    id arrives once, the resumed batches are served, and no ``.crc`` is
    added."""
    log = _log(spark, str(tmp_path), appends=2, n=3, noop_every=0)
    p = _Probe(spark, str(tmp_path))
    spec = Spec(log, MemCursorStore(), p.consumer, StreamOptions())
    ckpt = str(tmp_path / "ckpt")
    start = DataStreamWriter.start

    def start_only(self, *a, **kw):
        spark.conf.set(_CHECKPOINT_MANAGER_CONF, _FS_CHECKPOINT_MANAGER)
        try:
            return start(self, *a, **kw)
        finally:
            spark.conf.unset(_CHECKPOINT_MANAGER_CONF)

    with monkeypatch.context() as m:
        m.setattr(DataStreamWriter, "start", start_only)
        m.setattr(run_module, "_local_checkpoint_manager", lambda *a: contextlib.nullcontext())
        run_stream(spec, ckpt, max_files_per_trigger=1)
    written = _crc_files(ckpt)
    assert {".metadata.crc", "offsets/.0.crc", "commits/.0.crc", "sources/0/.0.crc"} <= set(written)
    assert p.served == [True, True]

    log.append(make_events(spark, _rows(1, "late-"), start=EPOCH + timedelta(days=1)))
    run_stream(spec, ckpt, max_files_per_trigger=1)
    assert sorted(r[0] for r in p.delivered) == list(range(1, 8))
    assert p.served == [True, True, True]
    assert _crc_files(ckpt) == written
    assert p.outcome()["watermark"] == 7


def _runner_case(spark, tmp_path, name, batch, **run):
    """``run_query`` over a one-append log's stream with ``batch`` as the
    foreachBatch function; (its outcome, the session confs after it)."""
    log = _log(spark, str(tmp_path / name), appends=1, noop_every=0)
    try:
        outcome = run_query(
            spark, log.read_stream().writeStream.foreachBatch(batch), str(tmp_path / name / "ckpt"), name, **run
        )
    except Exception as exc:  # noqa: BLE001 — the outcome under test
        outcome = exc
    confs = {key: spark.conf.get(key, None) for key in (*_LOCAL_CHECKPOINT_CONFS, "spark.sql.shuffle.partitions")}
    return outcome, confs


def test_the_runner_stops_times_out_re_raises_and_restores_the_session(spark, tmp_path):
    """An availableNow query past its timeout is stopped and raises
    TimeoutError naming it; a follow-mode query is stopped at its timeout
    and returned; an exception raised in foreachBatch is re-raised. After
    each, the three checkpoint confs and the shuffle count are back."""
    before = {**dict.fromkeys(_LOCAL_CHECKPOINT_CONFS), "spark.sql.shuffle.partitions": "7"}
    old_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        slow, confs = _runner_case(spark, tmp_path, "slow", lambda df, bid: time.sleep(2), timeout_sec=0.5)
        assert isinstance(slow, TimeoutError) and "slow" in str(slow)
        assert confs == before
        assert not spark.streams.active

        follow, confs = _runner_case(spark, tmp_path, "follow", lambda df, bid: None, timeout_sec=1, available_now=False)
        assert not follow.isActive and follow.exception() is None
        assert confs == before

        def boom(df, bid):
            raise RuntimeError("boom in foreachBatch")

        failed, confs = _runner_case(spark, tmp_path, "failing", boom, timeout_sec=60)
        assert "boom in foreachBatch" in str(failed)
        assert confs == before
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_partitions)


def test_a_stateful_query_through_the_runner_writes_no_crc(spark, tmp_path):
    """An update-mode aggregation run by ``run_query`` keeps its state
    stores under the checkpoint, with no Hadoop ``.crc`` beside any file.
    Spark's own checksum of each state file (``<file>.crc``, not hidden;
    ``spark.sql.streaming.checkpoint.fileChecksum.enabled``) stays: Spark
    verifies it on read."""
    log = _log(spark, str(tmp_path), appends=2, noop_every=0)
    counts: dict = {}

    def keep(df, bid):
        counts.update({r["foreign_id"]: r["n"] for r in df.collect()})

    agg = log.read_stream(max_files_per_trigger=1).groupBy("foreign_id").agg(F.count(F.lit(1)).alias("n"))
    ckpt = tmp_path / "ckpt"
    run_query(spark, agg.writeStream.outputMode("update").foreachBatch(keep), str(ckpt), "stateful", 120, log.read())
    assert sum(counts.values()) == 8
    assert any(name.endswith(".delta") for _, _, names in os.walk(ckpt / "state") for name in names)
    crc = _crc_files(ckpt)
    assert [f for f in crc if os.path.basename(f).startswith(".")] == []
    assert all(f.startswith("state/") and os.path.exists(ckpt / f[: -len(".crc")]) for f in crc)


def test_only_the_runner_starts_and_awaits_a_streaming_query():
    """A streaming writer's trigger and the wait on a query appear only in
    ``streaming/run.py``, and the wait on one line: every query runs
    through ``run_query``."""
    pkg = os.path.join(os.path.dirname(__file__), "..", "reflex_spark")
    means = re.compile(r"awaitTermination\(|\.trigger\(")
    found = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            for line in f:
                for m in means.finditer(line):
                    found.append((os.path.relpath(path, pkg), m.group()))
    assert {p for p, _ in found} == {os.path.join("streaming", "run.py")}
    assert [m for _, m in found].count("awaitTermination(") == 1
