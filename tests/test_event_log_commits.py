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


def _rollup_batch(spark, ids, keys, vals, scan_dir=None):
    """A (event_id, k, v) batch: local, or (``scan_dir``) a file scan."""
    t = pa.table({"event_id": pa.array(ids, pa.int64()), "k": pa.array(keys, pa.string()), "v": vals})
    if scan_dir is None:
        return spark.createDataFrame(t)
    os.makedirs(scan_dir, exist_ok=True)
    pq.write_table(t, os.path.join(scan_dir, "part-0.parquet"))
    return spark.read.parquet(scan_dir)


def _rollup_outcome(spark, root, merge_bytes):
    """Build a rollup through local, straddling, file-scan (null key) and
    fully redelivered batches; return what a reader can observe of it."""
    with pytest.MonkeyPatch.context() as m:
        m.setattr(materialize, "DRIVER_MERGE_BYTES", merge_bytes)
        mat = MaterializedCounts(spark, os.path.join(root, "rollup"), keys=["k"], value_col="v")
        scan = _rollup_batch(spark, [4, 5, 6], [None, "a", None], ["1", "2", None], os.path.join(root, "scan"))
        assert not scan.isLocal()
        for batch in (
            _rollup_batch(spark, [0, 1, 2], ["a", "b", "a"], ["1.5", "2.25", "0.125"]),
            _rollup_batch(spark, [2, 3], ["a", "b"], ["0.125", "4"]),  # redelivers id 2
            scan,
            scan,  # fully redelivered
        ):
            mat.apply_batch(batch, {})
    with open(os.path.join(mat.path, "_watermark.json")) as f:
        ledger = json.load(f)
    footers = [json.loads(pq.ParquetFile(p).metadata.metadata[_ROW_METADATA]) for p in glob.glob(f"{mat.path}/part-*")]
    return {
        "watermark": mat.watermark(),
        "rows": sorted(((r["k"], r["n_events"], str(r["sum_value"])) for r in mat.read().collect()), key=str),
        "dtypes": mat.read().dtypes,
        "ledger_schema": ledger["schema"],
        "footers": footers,
        "duckdb": duckdb.sql(
            f"SELECT k, n_events, sum_value FROM read_parquet('{mat.path}/part-*.parquet') ORDER BY k NULLS FIRST"
        ).fetchall(),
        "driver_written": not os.path.exists(os.path.join(mat.path, "_SUCCESS")),
    }


@pytest.fixture(scope="module")
def shuffle_rollup(spark, tmp_path_factory):
    """The reference: the same batches merged by the Spark shuffle."""
    return _rollup_outcome(spark, str(tmp_path_factory.mktemp("shuffle")), -1)


@pytest.mark.parametrize("merge_bytes", [materialize.DRIVER_MERGE_BYTES, -1])
def test_materialized_counts_local_batch_reads_stored_schema(spark, tmp_path, merge_bytes, shuffle_rollup):
    """The driver merge (default threshold) and the Spark shuffle merge
    (-1) store the same rollup: the same rows (null keys form one group),
    ledger schema, footer schema and DuckDB result; the watermark comes
    from the batches' ids and redelivered rows are dropped."""
    got = _rollup_outcome(spark, str(tmp_path), merge_bytes)
    assert got.pop("driver_written") == (merge_bytes >= 0)
    assert got["watermark"] == 6
    assert got["rows"] == sorted(
        [("a", 3, "3.625000"), ("b", 2, "6.250000"), (None, 2, "1.000000")], key=str
    )
    assert dict(got["dtypes"])["sum_value"] == "decimal(18,6)"
    assert got["footers"] == [json.loads(got["ledger_schema"])]
    assert got == {k: v for k, v in shuffle_rollup.items() if k != "driver_written"}


def _jobs_in(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` runs."""
    sc, group = spark.sparkContext, f"count-jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    time.sleep(0.5)  # let the listener bus record the last jobs
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_merge_job_counts(spark, tmp_path):
    """Under the threshold a local batch merges with no Spark job and a
    file-scan batch with at most one (the collect)."""
    mat = MaterializedCounts(spark, str(tmp_path / "rollup"), keys=["k"], value_col="v")
    local = _rollup_batch(spark, [1, 2], ["a", "b"], ["1", "2"])
    assert _jobs_in(spark, lambda: mat.apply_batch(local, {})) == 0
    scan = _rollup_batch(spark, [3, 4], ["a", "c"], ["3", "4"], str(tmp_path / "scan"))
    assert _jobs_in(spark, lambda: mat.apply_batch(scan, {})) <= 1
    assert _jobs_in(spark, lambda: mat.apply_batch(local, {})) == 0  # redelivered
    assert sorted((r["k"], r["n_events"]) for r in mat.read().collect()) == [("a", 2), ("b", 1), ("c", 1)]


def test_driver_merge_hands_overflow_and_float_keys_to_spark(spark, tmp_path):
    """A decimal sum that does not fit decimal(18,6) behaves as the Spark
    merge does (whatever the session's ANSI mode makes of it), and float
    keys group as Spark groups them (0.0 == -0.0, NaN == NaN)."""

    def overflow(merge_bytes):
        with pytest.MonkeyPatch.context() as m:
            m.setattr(materialize, "DRIVER_MERGE_BYTES", merge_bytes)
            mat = MaterializedCounts(spark, str(tmp_path / f"over{merge_bytes}"), keys=["k"], value_col="v")
            mat.apply_batch(_rollup_batch(spark, [1], ["a"], ["999999999999.5"]), {})
            try:
                mat.apply_batch(_rollup_batch(spark, [2], ["a"], ["999999999999.5"]), {})
                error = None
            except Exception as exc:  # noqa: BLE001 — compared across the two paths
                error = type(exc).__name__
            return error, mat.watermark(), [tuple(r) for r in mat.read().collect()]

    assert overflow(materialize.DRIVER_MERGE_BYTES) == overflow(-1)

    mat = MaterializedCounts(spark, str(tmp_path / "floats"), keys=["x"])
    xs = [0.0, -0.0, float("nan"), float("nan"), 1.5]
    mat.apply_batch(spark.createDataFrame(pa.table({"event_id": list(range(1, 6)), "x": xs})), {})
    got = sorted((str(r["x"]), r["n_events"]) for r in mat.read().collect())
    assert got == [("0.0", 2), ("1.5", 1), ("nan", 2)]


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
