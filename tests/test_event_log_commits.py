"""Commit records and the two append / poll paths of EventLog.

A local input is appended on the driver with pyarrow and a non-local one
with a Spark write; both must store the same thing. ``run()`` polls small
windows from the commit records on the driver and falls back to the Spark
scan otherwise; both must deliver exactly the ids the cursor commits.
Control files other modules keep (cursors, ledgers, claims) become visible
through the same commit module.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import threading
import time
from datetime import timedelta
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from reflex_spark.sources import commits, event_log
from reflex_spark.sources.commits import ConcurrentCommitError
from reflex_spark.sources.event_log import EVENT_SCHEMA, EventLog
from reflex_spark.sources.memory import EPOCH, make_events, seed_log
from reflex_spark.streaming import (
    Consumer,
    ErrHeadReached,
    ErrStopped,
    FileCursorStore,
    MemCursorStore,
    Spec,
    StreamOptions,
    materialize,
    run,
)
from reflex_spark.streaming.materialize import MaterializedCounts
from reflex_spark.tables import plan_bytes
from reflex_spark.streaming.run import run_stream
from tests.conftest import jobs_in

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
        # each append is stamped one logical second past the one before
        assert {os.path.getmtime(p) for p in _parts(log)} == {
            float(event_log._MTIME_BASE + 1),
            float(event_log._MTIME_BASE + 2),
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
    return {**_observe(mat), "driver_written": not os.path.exists(os.path.join(mat.path, "_SUCCESS"))}


def _observe(mat: MaterializedCounts) -> dict:
    """What a reader can observe of a rollup: watermark, rows, dtypes,
    ledger schema, footer schemas and the DuckDB result."""
    with open(os.path.join(mat.path, "_watermark.json")) as f:
        ledger = json.load(f)
    footers = [json.loads(pq.ParquetFile(p).metadata.metadata[_ROW_METADATA]) for p in glob.glob(f"{mat.path}/part-*")]
    return {
        "watermark": mat.watermark(),
        "rows": sorted(
            (tuple(str(v) if isinstance(v, Decimal) else v for v in r) for r in mat.read().collect()), key=str
        ),
        "dtypes": mat.read().dtypes,
        "ledger_schema": ledger["schema"],
        "footers": footers,
        "duckdb": duckdb.sql(f"SELECT * FROM read_parquet('{mat.path}/part-*.parquet') ORDER BY ALL").fetchall(),
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


def test_driver_merge_job_counts(spark, tmp_path):
    """Under the threshold a local batch merges with no Spark job and a
    file-scan batch with at most one (the collect)."""
    mat = MaterializedCounts(spark, str(tmp_path / "rollup"), keys=["k"], value_col="v")
    local = _rollup_batch(spark, [1, 2], ["a", "b"], ["1", "2"])
    assert jobs_in(spark, lambda: mat.apply_batch(local, {})) == 0
    scan = _rollup_batch(spark, [3, 4], ["a", "c"], ["3", "4"], str(tmp_path / "scan"))
    assert jobs_in(spark, lambda: mat.apply_batch(scan, {})) <= 1
    assert jobs_in(spark, lambda: mat.apply_batch(local, {})) == 0  # redelivered
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


def _served_log(spark, root, appends=3, n=40):
    """A log of ``appends`` × ``n`` events over 7 foreign ids and 3 types."""
    log = EventLog(spark, os.path.join(root, "log"))
    for k in range(appends):
        log.append(make_events(spark, [(1 + i % 3, f"f{(i * 5 + k) % 7}") for i in range(n)]))
    return log


_COALESCE_CONF = "spark.sql.adaptive.coalescePartitions.enabled"


def _served_merge_bytes(mat: MaterializedCounts, batch) -> tuple[int, int]:
    """(the Arrow-side size of ``batch``'s merge input, Catalyst's estimate
    of the same input); also checks the derived schema is the analysed one."""
    ledger = mat._ledger()
    schema = mat._served_schema(batch)
    _, _, rows, merged = mat._merge_input(batch, ledger)
    assert schema == merged.schema
    fresh = mat._fresh_rows(event_log.arrow_of(batch), ledger.get("max_event_id"))
    return mat._served_bytes(fresh.num_rows, schema), plan_bytes(rows)


@pytest.mark.parametrize(
    "keys,value_col,spark_first",
    [
        (["foreign_id"], None, False),
        (["event_type", "foreign_id"], None, False),
        (["foreign_id"], "event_type", False),
        (["foreign_id"], "event_type", True),
    ],
)
def test_served_merge_size_equals_the_plan_estimate(spark, tmp_path, keys, value_col, spark_first):
    """The size a served batch's merge is routed by, computed from its
    Arrow rows and the rollup's files, equals Catalyst's estimate of the
    Spark merge input: for a first batch, for a batch that straddles the
    watermark with a rollup present, for a decimal ``sum_value`` rollup,
    and over a rollup the Spark shuffle merge wrote (part files beside
    ``_SUCCESS`` and ``.crc`` files). So the driver/Spark decision is the
    one the plan makes."""
    rows = _served_log(spark, str(tmp_path)).poll_window(0)
    mat = MaterializedCounts(spark, str(tmp_path / "rollup"), keys, value_col)
    for lo, n in ((0, 50), (30, 60), (90, 30)):  # first; straddles 50; straddles 90
        batch = event_log.local_batch(spark, rows.slice(lo, n))
        size, planned = _served_merge_bytes(mat, batch)
        assert size == planned
        if spark_first and lo == 0:
            # the shuffle merge, its partitions left uncoalesced: several part files
            coalesce = spark.conf.get(_COALESCE_CONF)
            spark.conf.set(_COALESCE_CONF, "false")
            try:
                with pytest.MonkeyPatch.context() as m:
                    m.setattr(materialize, "DRIVER_MERGE_BYTES", -1)
                    mat.apply_batch(batch, {})
            finally:
                spark.conf.set(_COALESCE_CONF, coalesce)
            names = os.listdir(mat.path)
            assert sum(n.startswith("part-") for n in names) > 1 and "_SUCCESS" in names
            assert any(n.startswith(".part-") and n.endswith(".crc") for n in names)
        else:
            mat.apply_batch(batch, {})
    assert mat.watermark() == 120
    # the last merge ran on the driver, which writes no _SUCCESS
    assert not os.path.exists(os.path.join(mat.path, "_SUCCESS"))


def test_served_merge_builds_no_jvm_plan(spark, tmp_path):
    """Served batches fed straight to apply_batch, through both run loops
    (the poll loop redelivering a straddling batch), merge without their
    JVM side ever being built, and store what the Spark shuffle merge of
    the same batches stores: rows, ledger schema, footer schema, DuckDB
    result."""
    log = _served_log(spark, str(tmp_path))

    def replay(root, merge_bytes):
        batches, out = [], {}
        with pytest.MonkeyPatch.context() as m:
            m.setattr(materialize, "DRIVER_MERGE_BYTES", merge_bytes)
            for loop in ("poll", "stream"):
                mat = MaterializedCounts(spark, os.path.join(root, loop), ["foreign_id"], "event_type")

                def consume(df, meta):
                    batches.append(df)
                    mat.apply_batch(df, meta)

                consumer = Consumer("c", consume)
                if loop == "poll":
                    run(Spec(log, MemCursorStore(), consumer, StreamOptions(batch_limit=50)), max_batches=1)
                    _run_to_head(Spec(log, MemCursorStore(), consumer, StreamOptions(to_head=True, batch_limit=70)))
                else:
                    spec = Spec(log, MemCursorStore(), consumer)
                    run_stream(spec, os.path.join(root, "ckpt"), max_files_per_trigger=1)
                out[loop] = _observe(mat)
        assert len(batches) == 6 and all(event_log.arrow_of(b) is not None for b in batches)
        return out, [b._lazy_jdf is None for b in batches]

    got, unbuilt = replay(str(tmp_path / "driver"), materialize.DRIVER_MERGE_BYTES)
    assert all(unbuilt)
    ref, unbuilt = replay(str(tmp_path / "shuffle"), -1)
    assert not any(unbuilt)  # the Spark merge plans over each batch
    assert got == ref
    assert got["poll"]["watermark"] == got["stream"]["watermark"] == 120
    assert got["poll"]["footers"] == [json.loads(got["poll"]["ledger_schema"])]


def test_a_rollup_stored_at_other_key_types_takes_the_planned_merge(spark, tmp_path):
    """A served batch whose key types differ from the rollup's stored ones
    (here a bigint ``event_type`` rollup, an int batch) is merged through
    its plan, which widens it to the stored type, as before."""
    rows = _served_log(spark, str(tmp_path), appends=1, n=6).poll_window(0)
    mat = MaterializedCounts(spark, str(tmp_path / "rollup"), ["event_type"])
    first = rows.slice(0, 3).cast(rows.schema.set(1, pa.field("event_type", pa.int64())))
    mat.apply_batch(spark.createDataFrame(first), {})
    mat.apply_batch(event_log.local_batch(spark, rows), {})
    assert dict(mat.read().dtypes)["event_type"] == "bigint"
    assert sorted(tuple(r) for r in mat.read().collect()) == [(1, 2), (2, 2), (3, 2)]
    assert mat.watermark() == 6


def test_a_served_batch_answers_spark_as_the_eager_batch_did(spark, tmp_path, monkeypatch):
    """A consumer's Spark use of a served batch builds its JVM side once,
    however many threads ask at the same time, and sees what
    ``spark.createDataFrame(rows, SCAN_SCHEMA)`` gives: the schema
    (answered before the build), a select, a grouped aggregate."""
    rows = _served_log(spark, str(tmp_path), appends=1).poll_window(0)
    lazy = event_log.local_batch(spark, rows)
    eager = spark.createDataFrame(rows, event_log.SCAN_SCHEMA)
    assert lazy.schema == eager.schema == event_log.SCAN_SCHEMA and lazy.columns == eager.columns
    assert lazy._lazy_jdf is None

    builds, create = [], spark.createDataFrame
    monkeypatch.setattr(spark, "createDataFrame", lambda *a, **k: builds.append(1) or create(*a, **k))
    got = []
    threads = [threading.Thread(target=lambda: got.append(lazy._jdf)) for _ in range(16)]
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
    assert len(builds) == 1 and len(got) == 16 and all(j is got[0] for j in got)
    monkeypatch.undo()

    def seen(df):
        picked = df.select("event_id", "foreign_id", F.col("timestamp").cast("long")).collect()
        grouped = df.groupBy("foreign_id").agg(F.count("*"), F.max("event_id"), F.sum("event_type")).collect()
        return sorted(map(tuple, picked)), sorted(map(tuple, grouped))

    assert seen(lazy) == seen(eager)
    assert lazy._lazy_jdf is got[0]
    assert event_log.arrow_of(lazy) is rows


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


_APPEND_PATHS = pytest.mark.parametrize(
    "as_input", [lambda df: df, lambda df: df.repartition(2)], ids=["driver", "spark"]
)


def _stored(log: EventLog) -> list[tuple[int, str]]:
    return [(r["event_id"], r["foreign_id"]) for r in log.read().orderBy("event_id").collect()]


@_APPEND_PATHS
def test_stale_handle_append_raises_and_leaves_the_winner(spark, tmp_path, as_input):
    """Two handles on one log: B reads head(), A appends, then B appends
    from its stale head. B's commit is refused with ConcurrentCommitError
    and nothing of it becomes visible, so every id is held once, by A's
    rows, and a fresh handle polls them from the records. B then re-reads
    the head and its retry lands after A's rows."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, "s0"), (1, "s1"), (1, "s2")])
    a, b = EventLog(spark, log.path), EventLog(spark, log.path)
    assert b.head() == 3
    assert a.append(as_input(make_events(spark, [(2, f"a{i}") for i in range(3)]))) == 6
    with pytest.raises(ConcurrentCommitError):
        b.append(as_input(make_events(spark, [(3, f"b{i}") for i in range(3)])))

    want = [(1, "s0"), (2, "s1"), (3, "s2"), (4, "a0"), (5, "a1"), (6, "a2")]
    assert _stored(log) == want
    recs = [json.load(open(p)) for p in sorted(glob.glob(os.path.join(log.path, "_commits", "*.json")))]
    assert [(r["seq"], r["min_id"], r["max_id"]) for r in recs] == [(0, 1, 3), (1, 4, 6)]
    assert not glob.glob(os.path.join(log.path, "_staging", "*", "*"))
    polled = EventLog(spark, log.path).poll_window(0)
    assert list(zip(polled.column("event_id").to_pylist(), polled.column("foreign_id").to_pylist())) == want

    assert b.head() == 6  # the refused commit cleared the stale cache
    assert b.append(as_input(make_events(spark, [(3, "b0")]))) == 7
    assert _stored(log) == want + [(7, "b0")]


@_APPEND_PATHS
def test_a_fill_below_head_from_another_handle_does_not_fail_an_append(spark, tmp_path, as_input):
    """A noop fill of a hole below the head, published by another handle
    between B's head() and B's append, holds no id B assigns: B's append
    commits."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, "s0"), (1, "s1"), (1, "s2")])
    lost = [(i, 1, "x", EPOCH, None, None) for i in (5, 6)]  # id 4 lost by a crashed writer
    spark.createDataFrame(lost, EVENT_SCHEMA).write.mode("append").parquet(log.path)
    a, b = EventLog(spark, log.path), EventLog(spark, log.path)
    assert b.head() == 6
    assert a.fill_noops([4]) == 1
    assert b.append(as_input(make_events(spark, [(2, "b0"), (2, "b1")]))) == 8
    assert [i for i, _ in _stored(log)] == list(range(1, 9))


def test_concurrent_handles_append_each_row_once(spark, tmp_path):
    """More appending threads than cores, each on its own handle (its own
    head cache and commit lock), with a short switch interval; a refused
    append re-reads the head and retries. Every appended row is stored
    exactly once, at the ids its successful append returned, and no id is
    held twice."""
    path = str(tmp_path / "log")
    EventLog(spark, path).append(make_events(spark, [(1, "seed")]))
    writers, appends, per_append = (os.cpu_count() or 1) + 2, 3, 2
    landed, refused, errors = {}, [], []

    def write(k):
        log = EventLog(spark, path)
        try:
            for a in range(appends):
                fids = [f"w{k}-{a}-{i}" for i in range(per_append)]
                while True:
                    try:
                        head = log.append(make_events(spark, [(1, f) for f in fids]))
                        break
                    except ConcurrentCommitError:
                        refused.append(k)
                landed.update(zip(fids, range(head - per_append + 1, head + 1)))
        except Exception as exc:  # noqa: BLE001 — reported by the assertion below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=write, args=(k,)) for k in range(writers)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not errors
    assert not any(t.is_alive() for t in threads)
    stored = {f: i for i, f in _stored(EventLog(spark, path))}
    assert len(stored) == len(_stored(EventLog(spark, path)))  # no row twice
    assert stored == {"seed": 1, **landed}
    assert len(set(stored.values())) == len(stored)  # no id twice


def _torn_dump(obj, f, *args, **kwargs):
    f.write('{"tor')
    raise OSError("injected: crash mid-dump")


def _failed_fsync(fd):
    raise OSError("injected: fsync failed")


_WRITE_FAILURES = pytest.mark.parametrize(
    "fail", [(json, "dump", _torn_dump), (os, "fsync", _failed_fsync)], ids=["dump", "fsync"]
)


@_WRITE_FAILURES
def test_replace_json_that_fails_keeps_the_old_file_and_no_temp(tmp_path, monkeypatch, fail):
    """A replace that fails mid-dump or at its fsync leaves the previous
    file whole and no temp file beside it."""
    path = str(tmp_path / "control.json")
    commits.replace_json(path, {"v": 1})
    with monkeypatch.context() as m:
        m.setattr(*fail)
        with pytest.raises(OSError, match="injected"):
            commits.replace_json(path, {"v": 2})
    with open(path) as f:
        assert json.load(f) == {"v": 1}
    assert os.listdir(tmp_path) == ["control.json"]
    commits.replace_json(path, {"v": 2})
    with open(path) as f:
        assert json.load(f) == {"v": 2}


@_WRITE_FAILURES
def test_file_cursor_store_set_that_fails_keeps_the_previous_cursor(tmp_path, monkeypatch, fail):
    """A cursor set is durable: one whose write fails, mid-dump or at the
    fsync, raises and keeps the previous cursor, and the store's directory
    holds only cursor files."""
    store = FileCursorStore(str(tmp_path / "cursors"))
    store.set_cursor("c", 5)
    with monkeypatch.context() as m:
        m.setattr(*fail)
        with pytest.raises(OSError, match="injected"):
            store.set_cursor("c", 9)
    assert FileCursorStore(store.path).get_cursor("c") == 5
    assert os.listdir(store.path) == ["c.json"]


def test_writer_claim_refuses_a_second_writer_until_released(tmp_path):
    """The refusal names the claim file, its holder and its age; release
    lets the next writer in and ignores a claim already gone."""
    claim = commits.WriterClaim(str(tmp_path / "_writer.claim"), "the test writer")
    with claim:
        with pytest.raises(ValueError, match=r'_writer\.claim \(holder .*"pid": \d+.*age \d+s\): the test writer is single-writer'):
            claim.acquire()
    assert os.listdir(tmp_path) == []
    claim.acquire()
    claim.release()
    claim.release()


def _record_publish_calls(monkeypatch) -> list[tuple[str, str]]:
    """Record each fsync (with the real path of its file descriptor),
    link, rename and replace, in call order."""
    calls: list[tuple[str, str]] = []
    for name in ("link", "rename", "replace"):
        real = getattr(os, name)

        def recorded(src, dest, *a, _real=real, _name=name, **kw):
            calls.append((_name, os.path.realpath(dest)))
            return _real(src, dest, *a, **kw)

        monkeypatch.setattr(os, name, recorded)
    fsync = os.fsync

    def recorded_fsync(fd):
        calls.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        return fsync(fd)

    monkeypatch.setattr(os, "fsync", recorded_fsync)
    return calls


def test_a_publish_is_durable_in_order(spark, tmp_path, monkeypatch):
    """Every publish fsyncs a file before it is renamed, linked or swapped
    into place, and the directory that gains it right after: an append's
    data file, then the log directory, then its record and the record
    directory; a cursor file and its directory; a generation's files and
    directories, then the directory of the swapped link."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, "a")])
    root = os.path.realpath(log.path)
    store = FileCursorStore(str(tmp_path / "cursors"))
    store.set_cursor("c", 1)
    batch = make_events(spark, [(2, "b")])
    with monkeypatch.context() as m:
        calls = _record_publish_calls(m)
        log.append(batch)
    staged = [c for c in calls if c[0] == "fsync" and "/_staging/" in c[1]]
    assert len(staged) == 1 and staged[0][1].endswith(".parquet")
    part = os.path.join(root, os.path.basename(staged[0][1]))
    record = os.path.join(root, "_commits", "00000001.json")
    temp = [c for c in calls if c[0] == "fsync" and c[1].startswith(os.path.join(root, "_commits", "."))]
    assert calls == [
        staged[0],
        ("rename", part),
        ("fsync", root),
        *temp,
        ("link", record),
        ("fsync", os.path.join(root, "_commits")),
    ]
    assert len(temp) == 1

    cursors = os.path.realpath(store.path)
    with monkeypatch.context() as m:
        calls = _record_publish_calls(m)
        store.set_cursor("c", 2)
    assert [c[0] for c in calls] == ["fsync", "replace", "fsync"]
    assert calls[1:] == [("replace", os.path.join(cursors, "c.json")), ("fsync", cursors)]

    def write(gen):
        os.makedirs(os.path.join(gen, "sub"))
        with open(os.path.join(gen, "sub", "f"), "w") as f:
            f.write("x")

    swapped = str(tmp_path / "swapped")
    with monkeypatch.context() as m:
        calls = _record_publish_calls(m)
        commits.swap_generation(swapped, write)
    gen = os.path.realpath(swapped)
    parent = os.path.realpath(str(tmp_path))
    assert calls == [
        ("fsync", os.path.join(gen, "sub", "f")),
        ("fsync", os.path.join(gen, "sub")),
        ("fsync", gen),
        ("replace", os.path.join(parent, "swapped")),
        ("fsync", parent),
    ]


def test_only_the_commit_module_makes_control_files_visible():
    """fsync, exclusive creates, temp files, hard links and symlinks are
    the means by which a control file becomes visible; only
    ``sources/commits.py`` uses them."""
    pkg = os.path.join(os.path.dirname(__file__), "..", "reflex_spark")
    means = re.compile(r"os\.fsync|os\.O_EXCL|tempfile\.mkstemp|os\.link\(|os\.symlink\(")
    users = set()
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            if means.search(f.read()):
                users.add(os.path.relpath(path, pkg))
    assert users == {os.path.join("sources", "commits.py")}


def test_insert_and_fill_noops_stamp_now_on_a_non_utc_host(spark, tmp_path, monkeypatch):
    """``insert`` and ``fill_noops`` stamp the current instant whatever the
    host's zone: a naive UTC wall time would be read back as local time,
    hours off, and held inside any ``lag_seconds``."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        log = EventLog(spark, str(tmp_path / "log"))
        log.insert("a", 1)
        assert log.fill_noops([2]) == 1
        now = time.time()
        stored = log.read().selectExpr("event_id", "unix_micros(timestamp) AS us").orderBy("event_id").collect()
        assert [r["event_id"] for r in stored] == [1, 2]
        assert all(abs(r["us"] / 1e6 - now) < 60 for r in stored), [r["us"] / 1e6 - now for r in stored]
    finally:
        monkeypatch.undo()
        time.tzset()
