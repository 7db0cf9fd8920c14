"""Commit records and the two append / poll paths of EventLog.

A local input is appended on the driver with pyarrow and a non-local one
with a Spark write; both must store the same thing. ``run()`` polls small
windows from the commit records on the driver and falls back to the Spark
scan otherwise; both must deliver exactly the ids the cursor commits.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from datetime import timedelta

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from reflex_spark.sources import event_log
from reflex_spark.sources.event_log import EVENT_SCHEMA, EventLog
from reflex_spark.sources.memory import EPOCH, make_events, seed_log
from reflex_spark.streaming import (
    Consumer,
    ErrHeadReached,
    ErrStopped,
    MemCursorStore,
    Spec,
    StreamOptions,
    materialize,
    run,
)
from reflex_spark.streaming.materialize import MaterializedCounts
from reflex_spark.streaming.run import run_stream

_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


class _CommitLog(MemCursorStore):
    """Remembers every cursor the run loop commits."""

    def __init__(self):
        super().__init__()
        self.commits: list[int] = []

    def set_cursor(self, consumer, cursor) -> None:
        super().set_cursor(consumer, cursor)
        self.commits.append(cursor)


def _run_to_head(spec) -> None:
    with pytest.raises(ErrHeadReached):
        run(spec)


def _parts(log: EventLog) -> list[str]:
    return sorted(glob.glob(os.path.join(log.path, "part-*.parquet")))


@pytest.mark.parametrize("driver_rows", [None, 0], ids=["driver", "scan"])
def test_run_delivers_exactly_the_committed_window(spark, tmp_path, monkeypatch, driver_rows):
    """An append that lands after run() sized its window and before the
    consumer reads the batch must not reach that batch: the consumer gets
    exactly the ids the committed cursor covers, and no id twice. The
    appended rows come from a Spark write, which re-caches every cached
    plan over the log path (the scan path's cached window included)."""
    if driver_rows is not None:  # 0: every window is scanned with Spark
        monkeypatch.setattr(event_log, "DRIVER_WINDOW_ROWS", driver_rows, raising=False)
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"a{i}") for i in range(5)])
    store, batches = _CommitLog(), []

    def consume(df, meta):
        if not batches:
            late = make_events(spark, [(2, f"b{i}") for i in range(5)], start=EPOCH + timedelta(hours=1))
            log.append(late.repartition(2))
        batches.append([r["event_id"] for r in df.select("event_id").orderBy("event_id").collect()])

    _run_to_head(Spec(log, store, Consumer("c", consume), StreamOptions(to_head=True)))
    assert store.commits == [5, 10]
    assert batches == [[1, 2, 3, 4, 5], [6, 7, 8, 9, 10]]


def test_append_paths_store_the_same_log(spark, tmp_path, monkeypatch):
    """The driver path (local input) and the Spark path (non-local input)
    store the same rows, ids, schema, footer, logical mtime and records,
    and a fresh handle answers head and polls from those records."""
    rows = [(i % 3 + 1, f"u{i:02d}") for i in range(12)]
    local = make_events(spark, rows)
    assert local.isLocal()
    logs = {}
    later = make_events(spark, [(5, "z")], start=EPOCH + timedelta(days=1))
    for name, as_input in (("driver", lambda df: df), ("spark", lambda df: df.repartition(2))):
        logs[name] = EventLog(spark, str(tmp_path / name))
        assert logs[name].append(as_input(local)) == 12
        assert logs[name].append(as_input(later)) == 13
    driver, spark_log = logs["driver"], logs["spark"]

    def content(log):
        return [tuple(r) for r in log.read().orderBy("event_id").collect()]

    assert content(driver) == content(spark_log)
    assert [r[0] for r in content(driver)] == list(range(1, 14))
    assert spark.read.parquet(driver.path).schema == spark.read.parquet(spark_log.path).schema

    for log in (driver, spark_log):
        for part in _parts(log):
            pf = pq.ParquetFile(part)
            assert pf.schema.column(EVENT_SCHEMA.names.index("timestamp")).physical_type == "INT96"
            assert not pf.schema_arrow.field("event_id").nullable
            assert json.loads(pf.metadata.metadata[_ROW_METADATA]) == json.loads(EVENT_SCHEMA.json())
        # the logical mtime of each append is BASE + the head it committed
        assert {os.path.getmtime(p) for p in _parts(log)} == {
            float(event_log._MTIME_BASE + 12),
            float(event_log._MTIME_BASE + 13),
        }
        got = duckdb.sql(
            f"SELECT event_id, foreign_id FROM read_parquet('{log.path}/part-*.parquet') ORDER BY 1"
        ).fetchall()
        assert got == [(r[0], r[2]) for r in content(driver)]
        recs = sorted(os.listdir(os.path.join(log.path, "_commits")))
        assert recs == ["00000000.json", "00000001.json"]
    # a fresh handle answers from the records, with no Spark scan
    monkeypatch.setattr(EventLog, "read", lambda self: pytest.fail("scanned the log with Spark"))
    for log in (driver, spark_log):
        fresh = EventLog(spark, log.path)
        assert fresh.head() == 13
        assert fresh.poll_window(0).column("event_id").to_pylist() == list(range(1, 14))


def test_append_paths_drop_order_columns_and_guard_size(spark, tmp_path):
    n = 4
    table = pa.table(
        {
            "event_type": pa.array([1] * n, pa.int32()),
            "foreign_id": [f"u{i}" for i in range(n)],
            "timestamp": pa.array([0] * n, pa.timestamp("us", tz="UTC")),
            "metadata": pa.nulls(n, pa.binary()),
            "trace": pa.nulls(n, pa.binary()),
            "__ord": [3, 2, 1, 0],  # reverses the default order
        }
    )
    ordered = spark.createDataFrame(
        table, StructType(EVENT_SCHEMA.fields[1:] + [StructField("__ord", LongType(), False)])
    )
    assert ordered.isLocal()
    for name, events in (("driver", ordered), ("spark", ordered.repartition(2))):
        log = EventLog(spark, str(tmp_path / name))
        log.append(events, order_by=["__ord"])
        got = log.read().orderBy("event_id")
        assert got.columns == EVENT_SCHEMA.names
        assert [r["foreign_id"] for r in got.collect()] == ["u3", "u2", "u1", "u0"]

    small = EventLog(spark, str(tmp_path / "small"), max_append_rows=3)
    with pytest.raises(ValueError, match="max_append_rows"):
        small.append(make_events(spark, [(1, f"u{i}") for i in range(n)]))
    assert not _parts(small)


def test_run_stream_replays_driver_files_in_id_order(spark, tmp_path):
    """run_stream's file source orders files by mtime: the driver path
    stamps each file before renaming it in, so one file per trigger
    arrives in id order."""
    log = EventLog(spark, str(tmp_path / "log"))
    for k in range(4):
        log.append(make_events(spark, [(1, f"k{k}-{i}") for i in range(3)]))
    batches = []

    def consume(df, meta):
        batches.append([r["event_id"] for r in df.select("event_id").orderBy("event_id").collect()])

    spec = Spec(log, MemCursorStore(), Consumer("s", consume))
    run_stream(spec, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    assert [b for b in batches if b] == [[1, 2, 3], [4, 5, 6], [7, 8, 9], [10, 11, 12]]


def test_poll_window_only_when_records_cover_the_log(spark, tmp_path, monkeypatch):
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"a{i}") for i in range(6)])
    window = log.poll_window(2, limit=3)
    assert window.column("event_id").to_pylist() == [3, 4, 5]
    monkeypatch.setattr(event_log, "DRIVER_WINDOW_ROWS", 5)
    assert log.poll_window(0) is None  # the record to read holds 6 rows
    monkeypatch.undo()
    # an out-of-band file no record names sends polls back to Spark
    spark.createDataFrame([(7, 1, "raw", EPOCH, None, None)], EVENT_SCHEMA).write.mode(
        "append"
    ).parquet(log.path)
    assert log.poll_window(0) is None
    # compaction adopts it: the compacted record covers the log again
    log.compact()
    assert log.poll_window(0).column("event_id").to_pylist() == list(range(1, 8))


def test_file_removed_under_a_driver_read_repolls(spark, tmp_path, monkeypatch):
    """compact() removing the files a driver-side poll is reading makes
    run() poll again, not crash; the compacted log is still served from
    its records."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"a{i}") for i in range(4)])
    log.append(make_events(spark, [(2, f"b{i}") for i in range(4)], start=EPOCH + timedelta(hours=1)))
    read_events, raced = event_log._read_events, []

    def racing_read(path):
        if not raced:
            raced.append(path)
            log.compact(target_partitions=1)
        return read_events(path)

    monkeypatch.setattr(event_log, "_read_events", racing_read)
    seen = []
    spec = Spec(
        log,
        MemCursorStore(),
        Consumer("c", lambda df, m: seen.extend(r["event_id"] for r in df.select("event_id").collect())),
        StreamOptions(to_head=True),
    )
    _run_to_head(spec)
    assert raced and sorted(seen) == list(range(1, 9))
    assert log.poll_window(0).column("event_id").to_pylist() == list(range(1, 9))


@pytest.mark.parametrize("one_task_bytes", [materialize.ONE_TASK_MERGE_BYTES, -1])
def test_materialized_counts_local_batch_reads_stored_schema(spark, tmp_path, monkeypatch, one_task_bytes):
    """A local batch's watermark comes from its ids; the rollup reads back
    at the schema it was written with, decimals included — whether the
    merge runs as one task or (-1) through a shuffle."""
    monkeypatch.setattr(materialize, "ONE_TASK_MERGE_BYTES", one_task_bytes)
    mat = MaterializedCounts(spark, str(tmp_path / "rollup"), keys=["k"], value_col="v")
    for ids, vals in (([0, 1, 2], ["1.5", "2.25", "0.125"]), ([2, 3], ["0.125", "4"])):
        batch = spark.createDataFrame(
            pa.table({"event_id": pa.array(ids, pa.int64()), "k": ["a", "b", "a"][: len(ids)], "v": vals})
        )
        assert batch.isLocal()
        mat.apply_batch(batch, {})
    assert mat.watermark() == 3
    got = {r["k"]: (r["n_events"], str(r["sum_value"])) for r in mat.read().collect()}
    assert got == {"a": (2, "1.625000"), "b": (2, "6.250000")}
    assert dict(mat.read().dtypes)["sum_value"] == "decimal(18,6)"
    assert mat.read().where(F.col("k") == "a").count() == 1


def test_concurrent_pollers_see_each_id_once_in_order(spark, tmp_path):
    """One producer and more polling threads than cores share one handle
    (its records cache and commit lock) with a short switch interval: every
    poller receives every id exactly once, in order."""
    log = EventLog(spark, str(tmp_path / "log"))
    appends, per_append, pollers = 12, 3, (os.cpu_count() or 1) + 2
    stop = threading.Event()
    seen = {k: [] for k in range(pollers)}
    stores = {k: MemCursorStore() for k in range(pollers)}
    errors = []

    def poll(k):
        def consume(df, meta):
            seen[k].extend(r["event_id"] for r in df.select("event_id").orderBy("event_id").collect())

        spec = Spec(log, stores[k], Consumer(f"p{k}", consume), StreamOptions(poll_backoff=0.01, stop=stop.is_set))
        try:
            run(spec)
        except ErrStopped:
            pass
        except Exception as exc:  # noqa: BLE001 — reported by the assertion below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=poll, args=(k,)) for k in range(pollers)]
        for t in threads:
            t.start()
        for a in range(appends):
            log.append(make_events(spark, [(1, f"a{a}-{i}") for i in range(per_append)]))
        head = appends * per_append
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and not errors:
            if all(stores[k].get_cursor(f"p{k}") == head for k in range(pollers)):
                break
            time.sleep(0.05)
        stop.set()
        for t in threads:
            t.join(timeout=60)
    finally:
        stop.set()
        sys.setswitchinterval(interval)
    assert not errors
    assert not any(t.is_alive() for t in threads)
    assert all(seen[k] == list(range(1, head + 1)) for k in range(pollers))


@pytest.mark.parametrize("as_input", [lambda df: df, lambda df: df.repartition(2)], ids=["driver", "spark"])
def test_crash_after_staging_is_invisible(spark, tmp_path, monkeypatch, as_input):
    """An append that dies after staging its file and before the rename
    leaves a ``part-*`` under ``_staging/`` that head(), read() and the
    poll window do not see; the next append reuses its ids."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, "a"), (1, "b")])

    def crash(paths, seq):
        raise OSError("crash between staging and rename")

    with monkeypatch.context() as m:
        m.setattr(event_log, "stamp_commit_order", crash)
        with pytest.raises(OSError, match="crash"):
            log.append(as_input(make_events(spark, [(9, "ghost")])))
    assert glob.glob(os.path.join(log.path, "_staging", "*", "part-*"))
    for handle in (log, EventLog(spark, log.path)):
        assert handle.head() == 2
        assert [r["event_id"] for r in handle.read().orderBy("event_id").collect()] == [1, 2]
        assert handle.poll_window(0).column("event_id").to_pylist() == [1, 2]
    assert log.append(make_events(spark, [(2, "c")])) == 3
    assert [r["foreign_id"] for r in log.read().orderBy("event_id").collect()] == ["a", "b", "c"]
