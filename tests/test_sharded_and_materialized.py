"""Sharded event log (scale-out) and materialized rollup tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datetime import timedelta

from reflex_spark.sources.memory import EPOCH, make_events
from reflex_spark.sources.sharded_log import ShardedEventLog, shard_of
from reflex_spark.streaming import Consumer, ErrHeadReached, MemCursorStore, Spec, StreamOptions, run
from reflex_spark.streaming.materialize import MaterializedCounts
from reflex_spark.sources.memory import seed_log


def test_sharded_log_routes_and_orders(spark, tmp_path):
    from datetime import timedelta

    from reflex_spark.sources.memory import EPOCH

    log = ShardedEventLog(spark, str(tmp_path / "slog"), n_shards=3)
    log.append(make_events(spark, [(1, f"user{i % 5}") for i in range(20)]))
    # second append is later in event time too (arrival order == event time)
    log.append(
        make_events(spark, [(2, f"user{i % 5}") for i in range(10)], start=EPOCH + timedelta(hours=1))
    )

    df = log.read()
    assert df.count() == 30
    # each key lives in exactly one shard
    spread = df.groupBy("foreign_id").agg(F.countDistinct("shard").alias("s")).collect()
    assert all(r["s"] == 1 for r in spread)
    # per-key order by event_id matches timestamp order (per-shard dense ids)
    rows = df.where(F.col("foreign_id") == "user0").orderBy("event_id").collect()
    ts = [r["timestamp"] for r in rows]
    assert ts == sorted(ts)
    # ids are dense within each shard
    for m, head in enumerate(log.heads()):
        ids = sorted(
            r["event_id"] for r in df.where(F.col("shard") == m).collect()
        )
        assert ids == list(range(1, head + 1))


def test_sharded_log_stream_reads_all(spark, tmp_path):
    log = ShardedEventLog(spark, str(tmp_path / "slog"), n_shards=2)
    log.append(make_events(spark, [(1, f"k{i}") for i in range(6)]))
    q = (
        log.read_stream()
        .writeStream.format("memory")
        .queryName("sharded_t")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert spark.sql("SELECT count(*) c FROM sharded_t").collect()[0]["c"] == 6


def test_materialized_counts_incremental_and_idempotent(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, "a"), (1, "b"), (2, "a")])
    mat = MaterializedCounts(spark, str(tmp_path / "rollup"), keys=["event_type"])
    store = MemCursorStore()
    spec = Spec(log, store, Consumer("mat", mat.apply_batch), StreamOptions(to_head=True, batch_limit=2))
    with pytest.raises(ErrHeadReached):
        run(spec)
    counts = {r["event_type"]: r["n_events"] for r in mat.read().collect()}
    assert counts == {1: 2, 2: 1}

    # redelivery of the same batches is a no-op (idempotent merge)
    store2 = MemCursorStore()
    spec2 = Spec(log, store2, Consumer("mat2", mat.apply_batch), StreamOptions(to_head=True, batch_limit=2))
    with pytest.raises(ErrHeadReached):
        run(spec2)
    counts2 = {r["event_type"]: r["n_events"] for r in mat.read().collect()}
    assert counts2 == counts

    # new events merge incrementally
    log.insert("c", 1)
    with pytest.raises(ErrHeadReached):
        run(spec)
    counts3 = {r["event_type"]: r["n_events"] for r in mat.read().collect()}
    assert counts3 == {1: 3, 2: 1}
    # rollup equals batch recompute over the log (ground truth)
    truth = {
        r["event_type"]: r["n"]
        for r in log.read().groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts3 == truth


def test_sharded_log_parallel_consume_topology(spark, tmp_path):
    """The scale-out consume topology: one independent consumer per shard,
    each with its own cursor, together covering the stream exactly once
    (per-shard dense ids make each shard an ordinary EventLog)."""
    slog = ShardedEventLog(spark, str(tmp_path / "slog"), n_shards=2)
    slog.append(make_events(spark, [(1, f"user{i}") for i in range(12)]))

    seen: dict[int, list[tuple[int, str]]] = {0: [], 1: []}
    store = MemCursorStore()
    for m, shard in enumerate(slog.shards):
        def fn(df, meta, m=m):
            seen[m].extend(
                (r["event_id"], r["foreign_id"])
                for r in df.select("event_id", "foreign_id").orderBy("event_id").collect()
            )
        spec = Spec(shard, store, Consumer(f"shard_{m}", fn), StreamOptions(to_head=True))
        with pytest.raises(ErrHeadReached):
            run(spec)

    all_fids = sorted(f for rows in seen.values() for _, f in rows)
    assert all_fids == sorted(f"user{i}" for i in range(12))  # exact cover
    for m, rows in seen.items():
        ids = [i for i, _ in rows]
        assert ids == sorted(ids) == list(range(1, len(ids) + 1))  # dense, ordered
        assert store.get_cursor(f"shard_{m}") == len(ids)


def test_materialized_rebatched_redelivery_and_crash_recovery(spark, tmp_path):
    """ADVICE r1: dedup must key on event ids merged (watermark), not batch
    boundaries, and the ledger must commit atomically with the table."""
    import os

    log = seed_log(spark, str(tmp_path / "log"), [(1, "a"), (1, "b"), (2, "a"), (2, "b")])
    path = str(tmp_path / "rollup")
    mat = MaterializedCounts(spark, path, keys=["event_type"])

    # first delivery with batch_limit=3 → batches [1-3], [4]
    spec = Spec(log, MemCursorStore(), Consumer("m1", mat.apply_batch), StreamOptions(to_head=True, batch_limit=3))
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert {r["event_type"]: r["n_events"] for r in mat.read().collect()} == {1: 2, 2: 2}
    assert mat.watermark() == 4

    # redelivery RE-BATCHED with different boundaries ([1-2], [3-4]) — the
    # old min-max batch key would not match and would double-count
    spec2 = Spec(log, MemCursorStore(), Consumer("m2", mat.apply_batch), StreamOptions(to_head=True, batch_limit=2))
    with pytest.raises(ErrHeadReached):
        run(spec2)
    assert {r["event_type"]: r["n_events"] for r in mat.read().collect()} == {1: 2, 2: 2}

    # partial overlap: a batch straddling the watermark merges only the suffix
    log.append(make_events(spark, [(3, "x")], start=EPOCH + timedelta(hours=1)))
    full = log.read()  # ids 1-5: 1-4 are below watermark
    mat.apply_batch(full, {})
    assert {r["event_type"]: r["n_events"] for r in mat.read().collect()} == {1: 2, 2: 2, 3: 1}
    assert mat.watermark() == 5

    # the crash cases below run on a rollup the driver merge wrote: one
    # part file and no Spark _SUCCESS marker
    assert len([f for f in os.listdir(path) if f.startswith("part-")]) == 1
    assert not os.path.exists(os.path.join(path, "_SUCCESS"))

    # the rollup is published as a generation behind a symlink, and a
    # DuckDB glob over the path reads exactly the served table
    import duckdb

    def globbed():
        return dict(duckdb.sql(f"SELECT event_type, n_events FROM read_parquet('{path}/part-*.parquet')").fetchall())

    assert os.path.islink(path)
    assert globbed() == {r["event_type"]: r["n_events"] for r in mat.read().collect()}

    def generations():
        return [d for d in os.listdir(tmp_path) if d.startswith("rollup.data.")]

    def boom(*args, **kwargs):
        raise OSError("crash")

    # crash after the new generation is written, before the swap: the old
    # table and watermark are served; the next merge removes the orphan
    log.append(make_events(spark, [(4, "y")], start=EPOCH + timedelta(hours=2)))
    with pytest.MonkeyPatch.context() as m:
        m.setattr(os, "replace", boom)
        with pytest.raises(OSError, match="crash"):
            mat.apply_batch(log.read(), {})
    assert len(generations()) == 2
    assert mat.watermark() == 5
    assert {r["event_type"]: r["n_events"] for r in mat.read().collect()} == {1: 2, 2: 2, 3: 1}
    mat.apply_batch(log.read(), {})
    assert mat.watermark() == 6
    assert {r["event_type"]: r["n_events"] for r in mat.read().collect()} == {1: 2, 2: 2, 3: 1, 4: 1}
    assert generations() == [os.path.basename(os.path.realpath(path))]
    assert sorted(os.listdir(tmp_path)) == ["log", "rollup", generations()[0]]

    # crash after the swap, before the superseded generation is removed:
    # the new table and watermark are served
    import shutil

    log.append(make_events(spark, [(4, "z")], start=EPOCH + timedelta(hours=3)))
    with pytest.MonkeyPatch.context() as m:
        m.setattr(shutil, "rmtree", boom)
        with pytest.raises(OSError, match="crash"):
            mat.apply_batch(log.read(), {})
    assert mat.watermark() == 7
    assert {r["event_type"]: r["n_events"] for r in mat.read().collect()} == globbed() == {1: 2, 2: 2, 3: 1, 4: 2}


def test_materialized_first_batch_keeps_event_id_zero(spark, tmp_path):
    """Regression: watermark() returned 0 for "nothing merged yet", so the
    `event_id > wm` dedup filter silently dropped event_id 0 on the FIRST
    batch (fixture-adapted logs start at id 0; engine logs start at 1)."""
    import pyarrow as pa

    rows = [(0, "a"), (1, "a"), (2, "b")]
    batches = {  # a non-local batch, and a local one (watermark from its ids)
        "rdd": spark.createDataFrame(rows, "event_id long, event_type string"),
        "local": spark.createDataFrame(
            pa.table({"event_id": [r[0] for r in rows], "event_type": [r[1] for r in rows]})
        ),
    }
    for name, batch in batches.items():
        mat = MaterializedCounts(spark, str(tmp_path / f"rollup-{name}"), keys=["event_type"])
        assert mat.watermark() is None
        mat.apply_batch(batch, {})
        assert {r["event_type"]: r["n_events"] for r in mat.read().collect()} == {"a": 2, "b": 1}
        assert mat.watermark() == 2


def test_append_guardrail_routes_to_sharded(spark, tmp_path):
    """Round-1 VERDICT #7: an oversized unsharded append refuses loudly
    (single-task id window) and points at ShardedEventLog; the sharded
    path takes the same rows with per-shard dense ids. The guard holds on
    both append paths: a non-local input (Spark write) and a local one
    (driver write)."""
    from reflex_spark.sources.event_log import EventLog

    rows = [(1, f"u{i}") for i in range(20)]
    for name, as_input in (("spark", lambda df: df.repartition(2)), ("driver", lambda df: df)):
        small = EventLog(spark, str(tmp_path / name / "log"), max_append_rows=10)
        with pytest.raises(ValueError, match="ShardedEventLog"):
            small.append(as_input(make_events(spark, rows)))
        assert small.head() == 0  # nothing written

        # explicit opt-out accepts the batch
        big_ok = EventLog(spark, str(tmp_path / name / "log2"), max_append_rows=100)
        assert big_ok.append(as_input(make_events(spark, rows))) == 20

    # the recommended path: sharded log, per-shard dense ids
    sl = ShardedEventLog(spark, str(tmp_path / "slog"), n_shards=4)
    sl.append(make_events(spark, rows))
    df = sl.read()
    per_shard = {
        r["shard"]: r["ids"]
        for r in df.groupBy("shard").agg(F.sort_array(F.collect_list("event_id")).alias("ids")).collect()
    }
    for ids in per_shard.values():
        assert ids == list(range(1, len(ids) + 1))  # dense from 1 per shard
