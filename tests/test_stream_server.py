"""Remote stream bridge tests, modeled on the reference's grpctest suite
(grpctest/server.go:19-80, rsql/stream_test.go:40-44 10k backpressure run)."""

from __future__ import annotations

import threading
import time

import pytest

from reflex_spark.sources.event_log import EventLog, local_events
from reflex_spark.sources.memory import EPOCH, make_events, seed_log
from reflex_spark.sources.stream_server import (
    StreamClient,
    StreamClientOptions,
    StreamServer,
    run_remote,
)
from reflex_spark.streaming import ErrHeadReached, MemCursorStore
from reflex_spark.streaming.run import ErrStopped
from tests.conftest import jobs_started


def test_stream_server_10k_backpressure(spark, tmp_path):
    """10k events through one stream in order (the reference's gRPC
    stream_test scale); small client batches exercise the send-buffer
    backpressure path."""
    n = 10_000
    log = seed_log(spark, str(tmp_path / "log"), [(1, str(i)) for i in range(n)])
    server = StreamServer(log, batch_limit=2000)
    try:
        store = MemCursorStore()
        got: list[int] = []

        def fn(batch):
            got.extend(e["event_id"] for e in batch)

        with pytest.raises(ErrHeadReached):
            run_remote(
                *server.address,
                store,
                "remote10k",
                fn,
                batch_size=500,
                options=StreamClientOptions(to_head=True),
            )
        assert got == list(range(1, n + 1))  # all events, in id order
        assert store.get_cursor("remote10k") == n
        assert server.sent_count == n
    finally:
        server.stop()


def test_stream_server_graceful_stop_and_event_shape(spark, tmp_path):
    """Server.Stop() terminates live streams with ErrStopped
    (server.go:31-42); wire events roundtrip the reflexpb.Event fields."""
    log = seed_log(spark, str(tmp_path / "log"), [(7, "fid-a"), (8, "fid-b")])
    log.insert("fid-c", 9, metadata=b"\x01\x02")
    server = StreamServer(log)
    try:
        client = StreamClient(*server.address)
        events = [client.recv() for _ in range(3)]
        assert [e["event_id"] for e in events] == [1, 2, 3]
        assert events[0]["event_type"] == 7
        assert events[0]["foreign_id"] == "fid-a"
        assert events[2]["metadata"] == b"\x01\x02"
        assert events[0]["timestamp"] is not None

        server.stop()
        with pytest.raises(ErrStopped):
            # drain until the terminal frame (server checks stop per batch)
            for _ in range(10):
                client.recv()
    finally:
        server.stop()


def test_stream_server_cursor_resume(spark, tmp_path):
    """Reconnect resumes after the locally-committed cursor — the rgrpc
    consumer contract (at-least-once, client-side cursor)."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, str(i)) for i in range(6)])
    server = StreamServer(log)
    try:
        store = MemCursorStore()
        got: list[int] = []

        def crash_after_4(batch):
            got.extend(e["event_id"] for e in batch)
            if len(got) >= 4:
                raise RuntimeError("consumer crash")

        with pytest.raises(RuntimeError, match="consumer crash"):
            run_remote(
                *server.address,
                store,
                "res",
                crash_after_4,
                batch_size=2,
                options=StreamClientOptions(to_head=True),
            )
        assert store.get_cursor("res") == 2  # only the first batch committed

        def ok(batch):
            got.extend(e["event_id"] for e in batch)

        with pytest.raises(ErrHeadReached):
            run_remote(
                *server.address,
                store,
                "res",
                ok,
                batch_size=2,
                options=StreamClientOptions(to_head=True),
            )
        # batch [3,4] redelivered (at-least-once), then 5, 6
        assert got == [1, 2, 3, 4, 3, 4, 5, 6]
        assert store.get_cursor("res") == 6
    finally:
        server.stop()


def test_stream_server_wire_timestamp_is_the_stored_instant_off_utc(spark, tmp_path, monkeypatch):
    """On a host whose local zone is not UTC, the wire carries the stored
    instant on both read paths: rows served from the driver (a covered
    log) and rows a Spark scan collects (after an unrecorded raw file)."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, "a")])
    stored = log.poll_window(0)["timestamp"][0].as_py().replace(tzinfo=None)  # naive UTC
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    server = StreamServer(log)
    try:
        served = StreamClient(*server.address).recv()
        spark.createDataFrame([(2, 1, "b", EPOCH, None, None)], log.read().schema).write.mode(
            "append"
        ).parquet(log.path)
        assert log.poll_window(0) is None  # the raw file is unrecorded: Spark scan
        scanned = StreamClient(*server.address).recv()
        assert (served["event_id"], scanned["event_id"]) == (1, 1)
        assert served["timestamp"] == scanned["timestamp"] == stored
    finally:
        server.stop()
        monkeypatch.undo()
        time.tzset()


def test_stream_server_idle_stream_runs_no_spark_job(spark, tmp_path):
    """A stream parked at the head of a covered log runs no Spark job, and
    an append still reaches it."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, "a"), (1, "b")])
    server = StreamServer(log)
    try:
        client = StreamClient(*server.address)
        assert [client.recv()["event_id"] for _ in range(2)] == [1, 2]
        assert jobs_started(spark, lambda: time.sleep(1.0)) == 0
        log.insert("c", 1)
        assert client.recv()["event_id"] == 3
    finally:
        server.stop()


def test_stream_server_drops_a_stream_whose_client_went_away(spark, tmp_path, monkeypatch):
    """A client that closes mid-stream makes the server's next write fail
    inside the stream's consumer; the stream ends quietly, with no thread
    exception."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, str(i)) for i in range(4000)])
    log.append(make_events(spark, [(1, str(i)) for i in range(4000)]))
    errors = []
    monkeypatch.setattr(threading, "excepthook", errors.append)
    server = StreamServer(log, batch_limit=500)
    try:
        client = StreamClient(*server.address)
        assert client.recv()["event_id"] == 1
        client.close()
        deadline = time.monotonic() + 30
        while any(t.is_alive() for t in server._threads) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert not any(t.is_alive() for t in server._threads)
        assert server.sent_count < 8000
    finally:
        server.stop()
    assert errors == []


def test_stream_server_stop_drops_a_client_that_stopped_reading(spark, tmp_path, monkeypatch):
    """A client that reads one event and then stops reading, without
    closing, leaves its stream blocked on the full send buffer, short of
    run()'s stop check. stop() still returns with no server thread alive:
    the blocked write is broken and the stream is dropped quietly."""
    n = 2000  # ~4 KB each: the unread stream exceeds the loopback buffers
    log = EventLog(spark, str(tmp_path / "log"))
    log.append(local_events(spark, [1] * n, [str(i) for i in range(n)], [EPOCH] * n, [b"m" * 4096] * n))
    errors = []
    monkeypatch.setattr(threading, "excepthook", errors.append)
    server = StreamServer(log, batch_limit=500)
    client = StreamClient(*server.address)
    try:
        assert client.recv()["event_id"] == 1
        sent, deadline = -1, time.monotonic() + 60
        while server.sent_count != sent and time.monotonic() < deadline:
            sent = server.sent_count
            time.sleep(1.0)
        assert 0 < sent < n  # blocked on the client, not done
        server.stop()
        assert not server._accept.is_alive()
        assert not any(t.is_alive() for t in server._threads)
    finally:
        server.stop()
        client.close()
    assert errors == []
