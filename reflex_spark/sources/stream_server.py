"""Remote stream bridge: the reference's gRPC server/client pair (S4/S5)
re-expressed over a stdlib TCP socket.

Reference parity (server.go:49-107, client.go:16-35, reflexpb/reflex.proto):
- ``StreamServer`` serves the Stream RPC: a client sends one JSON request
  line ``{"after": ..., "options": {fromHead, toHead, lag}}`` (the proto's
  StreamRequest) and receives a stream of newline-delimited JSON events
  shaped like reflexpb.Event (string id, int type, foreign_id, timestamp,
  b64 metadata/trace).
- Graceful stop: ``Server.Stop()`` → every live stream terminates with an
  ``ErrStopped`` frame and new connections are refused (server.go:31-42).
  A stream blocked on a client that stopped reading never reaches its
  stop check; ``stop()`` shuts its socket down and drops it.
- ``to_head`` exhaustion → an ``ErrHeadReached`` frame (options.go:27-39).
- Backpressure: the server thread blocks on the TCP send buffer exactly as
  gRPC streams block on their 64KB window (server.go:46-48 note) — a slow
  consumer throttles the producer, nothing is buffered unboundedly.

Each connection is a ``run()`` over the log from the request's cursor, so
it reads the head as every consumer does: on the driver with no Spark job
for a covered log, parked on the insert notifier when idle, and through
the gap filler past an id hole. Events go on the wire from Arrow rows.

Why a socket and not Spark-native: cross-service consumption at scale goes
through the shared lake (any cluster reads the same EventLog path); this
bridge is the reflex-parity peer-to-peer path for small control-plane
consumers outside the cluster, throughput-bounded by one socket exactly as
the reference is bounded by one gRPC stream. The gRPC framing itself is not
reproduced (no grpc dependency in this environment); the protocol semantics
— request shape, event shape, error taxonomy, backpressure model — are.
"""

from __future__ import annotations

import base64
import contextlib
import json
import socket
import threading
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any, Callable

import pyarrow as pa

from reflex_spark.sources.event_log import ARROW_SCHEMA, EventLog, rows_of
from reflex_spark.streaming.consumer import Consumer, ConsumerError
from reflex_spark.streaming.cursors import MemCursorStore
from reflex_spark.streaming.run import ErrHeadReached, ErrStopped, Spec, StreamOptions, run

_GONE = (BrokenPipeError, ConnectionResetError)


def _wire_events(rows: pa.Table) -> list[dict[str, Any]]:
    """Rows as reflexpb.Event shapes (proto fields 3-8; id is a string
    there), timestamps as the stored epoch µs whatever the host's zone."""
    rows = rows.select(ARROW_SCHEMA.names).cast(ARROW_SCHEMA)
    rows = rows.set_column(3, "timestamp", rows["timestamp"].cast(pa.int64()))
    b64 = lambda v: base64.b64encode(v).decode() if v else None  # noqa: E731
    return [
        {"id": str(r["event_id"]), "type": r["event_type"], "foreign_id": r["foreign_id"],
         "timestamp": r["timestamp"], "metadata": b64(r["metadata"]), "trace": b64(r["trace"])}
        for r in rows.to_pylist()
    ]


def wire_to_event(msg: dict[str, Any]) -> dict[str, Any]:
    """Decode a wire event back to engine types."""
    return {
        "event_id": int(msg["id"]),
        "event_type": msg["type"],
        "foreign_id": msg["foreign_id"],
        "timestamp": datetime.fromtimestamp(msg["timestamp"] / 1_000_000, tz=timezone.utc).replace(tzinfo=None),
        "metadata": base64.b64decode(msg["metadata"]) if msg["metadata"] else None,
        "trace": base64.b64decode(msg["trace"]) if msg["trace"] else None,
    }


class StreamServer:
    """Serve an EventLog's stream to remote consumers (reference Server).

    One thread per connection; each is a ``run()`` over the log that
    writes events to the socket, blocking on the send buffer when the
    consumer is slow (backpressure). stop() is the graceful shutdown:
    live streams send an ErrStopped frame and close (server.go:31-42); a
    stream still blocked on its client after the join timeout is dropped.
    """

    def __init__(
        self,
        log: EventLog,
        host: str = "127.0.0.1",
        port: int = 0,
        batch_limit: int = 1000,
        poll_backoff: float = 0.05,
    ):
        self.log = log
        self.batch_limit = batch_limit
        self.poll_backoff = poll_backoff
        self._stop = threading.Event()
        self._sock = socket.create_server((host, port))
        self._sock.settimeout(0.1)
        self.host, self.port = self._sock.getsockname()[:2]
        self.sent_count = 0  # grpctest sentCounter parity
        self._threads: dict[threading.Thread, socket.socket] = {}  # live connections
        self._accept = threading.Thread(target=self._accept_loop, daemon=True)
        self._accept.start()

    @property
    def address(self) -> tuple[str, int]:
        return (self.host, self.port)

    def stop(self) -> None:
        """Graceful stop: streams end with ErrStopped (panics if called
        twice in the reference; idempotent here)."""
        self._stop.set()
        with contextlib.suppress(OSError):
            self._sock.close()
        self._accept.join()
        for t, conn in self._threads.items():
            t.join(timeout=5)
            if t.is_alive():
                # blocked writing to a client that stopped reading: the
                # write raises and the stream ends as a went-away client
                with contextlib.suppress(OSError):
                    conn.shutdown(socket.SHUT_RDWR)
                t.join(timeout=5)

    # -- internals ---------------------------------------------------------

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._sock.accept()
            except (socket.timeout, OSError):
                continue
            t = threading.Thread(target=self._serve_conn, args=(conn,), daemon=True)
            t.start()
            live = {c: s for c, s in self._threads.items() if c.is_alive()}
            live[t] = conn
            self._threads = live  # whole: readers iterate it unlocked

    def _serve_conn(self, conn: socket.socket) -> None:
        """One stream: a ``run()`` from the request's cursor whose consumer
        writes each batch's events to the socket."""
        try:
            with conn, conn.makefile("rw") as f:
                try:
                    req = json.loads(f.readline())
                    opts = req.get("options") or {}
                    options = StreamOptions(
                        from_head=bool(opts.get("fromHead")),
                        to_head=bool(opts.get("toHead")),
                        lag_seconds=float(opts.get("lag") or 0.0),
                        batch_limit=self.batch_limit,
                        drop_noops=False,  # noops go on the wire
                        poll_backoff=self.poll_backoff,
                        stop=self._stop.is_set,
                    )
                    cstore = MemCursorStore({"stream": int(req.get("after") or 0)})
                except ValueError:
                    return  # bad request: drop the stream

                def send(batch, meta) -> None:
                    for event in _wire_events(rows_of(batch)):
                        # write blocks on the TCP send buffer: backpressure
                        f.write(json.dumps({"event": event}) + "\n")
                        self.sent_count += 1
                    f.flush()

                try:
                    run(Spec(self.log, cstore, Consumer("stream", send), options))
                except ErrStopped:
                    error = "stopped"
                except ErrHeadReached:
                    error = "head_reached"
                f.write(json.dumps({"error": error}) + "\n")
                f.flush()
        except ConsumerError as exc:
            if not isinstance(exc.__cause__, _GONE):
                raise
        except _GONE:
            return  # the client went away: drop the stream


@dataclass
class StreamClientOptions:
    from_head: bool = False
    to_head: bool = False
    lag_seconds: float = 0.0


class StreamClient:
    """Client for StreamServer (reference WrapStreamPB / StreamClientPB):
    ``recv()`` returns one event dict at a time; stream-terminal frames
    raise ErrHeadReached / ErrStopped like the reference error taxonomy."""

    def __init__(self, host: str, port: int, after: int = 0, options: StreamClientOptions | None = None):
        opts = options or StreamClientOptions()
        self._sock = socket.create_connection((host, port))
        self._f = self._sock.makefile("rw")
        self._f.write(
            json.dumps(
                {
                    "after": after,
                    "options": {
                        "fromHead": opts.from_head,
                        "toHead": opts.to_head,
                        "lag": opts.lag_seconds,
                    },
                }
            )
            + "\n"
        )
        self._f.flush()
        self._closed = False

    def recv(self) -> dict[str, Any]:
        if self._closed:
            raise ErrStopped("client closed")
        line = self._f.readline()
        if not line:
            self.close()
            raise ErrStopped("connection closed")
        msg = json.loads(line)
        if "error" in msg:
            self.close()
            if msg["error"] == "head_reached":
                raise ErrHeadReached("remote stream reached head")
            raise ErrStopped("remote stream stopped")
        return wire_to_event(msg["event"])

    def close(self) -> None:
        """Close the connection now: the socket's own close waits for its
        file object to close too."""
        if not self._closed:
            self._closed = True
            try:
                self._f.close()
                self._sock.close()
            except OSError:
                pass


def run_remote(
    host: str,
    port: int,
    cstore,
    name: str,
    fn: Callable[[list[dict]], None],
    batch_size: int = 100,
    options: StreamClientOptions | None = None,
) -> int:
    """Consume a remote stream with a local cursor (the reference's
    rgrpc-consumer shape: StreamFunc + CursorStore + consumer → Run).

    At-least-once: the cursor commits only after ``fn(batch)`` returns.
    ErrHeadReached / ErrStopped propagate to the caller like run().
    Returns the last committed cursor.
    """
    after = int(cstore.get_cursor(name) or 0)
    client = StreamClient(host, port, after=after, options=options)
    try:
        batch: list[dict] = []
        while True:
            try:
                batch.append(client.recv())
            except (ErrHeadReached, ErrStopped):
                if batch:
                    fn(batch)
                    cstore.set_cursor(name, batch[-1]["event_id"])
                raise
            if len(batch) >= batch_size:
                fn(batch)
                after = batch[-1]["event_id"]
                cstore.set_cursor(name, after)
                batch = []
    finally:
        client.close()
        cstore.flush()
