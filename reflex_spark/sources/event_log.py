"""EventLog: an append-only parquet event table with the canonical schema.

Reference parity (SURVEY.md §1.1-§1.2):
- Event shape {ID, Type, ForeignID, Timestamp, MetaData, Trace}
  (reference api.go:12-19) → fixed StructType below.
- EventsTable.Insert inserts exactly-one-event-per-state-change in the
  caller's txn (rsql/eventstable.go:226-246); here an append() call is the
  txn boundary — one parquet file set per append, ids assigned densely
  before the write becomes visible.
- Noop events are (foreign_id='0', type=0) (rsql/eventstable.go:497-505);
  `without_noops` filters them like the reference's noop filter
  (rsql/loader.go:64-94).

One commit step for every writer (``EventLog._commit``): ``append`` (both
paths), ``fill_noops`` and ``compact`` stage their data files under
``<log>/_staging/`` (the ``_`` prefix hides them from Spark's listing,
DuckDB ``part-*`` globs and ``_snapshot``), then, under the handle's
commit lock, stamp them one logical second past the previous commit's
files, move them durably into place and publish one commit record
``_commits/<seq>.json`` = ``{seq, min_id, max_id, files, commit_ts}``
(``sources.commits``). ``seq`` is always one past the log's last record,
across compactions too. A crash before the rename leaves only invisible
``_staging/`` debris. While the records name every visible data file,
``head()`` and ``poll_window()`` answer from the records and the files they
name without a Spark job; an unrecorded file (a raw out-of-band write, a
log written before records existed, a crash between rename and record)
sends them back to the Spark scan, which stays correct for any layout.

Appends are conditional, so many handles may append to one log: a commit
whose ids a record already holds (another handle appended first) makes
nothing visible and raises ``ConcurrentCommitError``; re-read ``head()``
and retry, as with TxTable's versions.

Two append paths, one stored format:
- a local input (``events.isLocal()``: a DataFrame created from pandas or
  Arrow) on an unpartitioned log is collected (no job on a
  ``LocalRelation``), sorted and id'd with pyarrow and written as one
  ``part-*.parquet`` with Spark's footer schema and INT96 timestamps — the
  small-append hot path runs no Spark job;
- anything else goes through a Spark write.

Scale posture: a single append() is a serialized id-assignment point, like
the reference's MySQL auto-increment. At 100 TB you shard the log (one
directory per shard, per-shard dense ids — exactly Kafka's partition model,
which the reference README cites as its inspiration) and Spark reads the
union; per-shard ordering is preserved, global ordering is (shard, id).
"""

from __future__ import annotations

import copy
import os
import shutil
import threading
import uuid
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DateType,
    IntegerType,
    LongType,
    NumericType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.window import Window

from reflex_spark.sources import commits
from reflex_spark.tables import empty_df, write_spark_parquet

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), False),
        StructField("event_type", IntegerType(), False),
        StructField("foreign_id", StringType(), False),
        StructField("timestamp", TimestampType(), False),
        StructField("metadata", BinaryType(), True),
        StructField("trace", BinaryType(), True),
    ]
)

NOOP_FOREIGN_ID = "0"
NOOP_TYPE = 0

#: The events as the Spark scan returns them (file sources read nullable).
SCAN_SCHEMA = StructType([StructField(f.name, f.dataType, True) for f in EVENT_SCHEMA.fields])
#: The same columns as a driver-side pyarrow table.
ARROW_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("event_type", pa.int32()),
        ("foreign_id", pa.string()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("metadata", pa.binary()),
        ("trace", pa.binary()),
    ]
)
#: Largest poll window ``poll_window`` serves from the driver, counted as
#: the rows of the commit records it reads; bigger windows are scanned
#: with Spark. The driver path was measured faster up to 8,000-row windows
#: (two 4,000-row appends); larger ones were not measured.
DRIVER_WINDOW_ROWS = 8_192
#: Sort-key types whose Spark ascending order pyarrow reproduces.
_SORTABLE = (NumericType, StringType, TimestampType, DateType, BooleanType)


@dataclass(frozen=True)
class Gap:
    """A hole in the dense event-id sequence: ids in (prev, next) are
    absent (reference rsql/gapfill.go:15-24 — no gap iff prev+1 == next)."""

    prev: int
    next: int


def without_noops(df: DataFrame) -> DataFrame:
    """Drop noop/gap-filler events (reference rsql/loader.go:69-94)."""
    return df.where(
        ~((F.col("foreign_id") == NOOP_FOREIGN_ID) & (F.col("event_type") == NOOP_TYPE))
    )


def adapt_events(
    df: DataFrame,
    *,
    event_id: str,
    event_type: str,
    foreign_id: str,
    timestamp: str,
    metadata: str | None = None,
    trace: str | None = None,
    type_mapping: dict[str, int] | None = None,
) -> DataFrame:
    """Map an arbitrary physical events table to the canonical schema.

    Reference parity: the functional column-remapping options
    (WithEventIDField/WithEventTypeField/..., rsql/eventstable.go:67-118,
    defaults rsql/db.go:21-38) — point the engine at any existing table.
    ``type_mapping`` converts string type labels to the int enum (the
    reference's EventType is an int enum, api.go:45-49).
    """
    type_col = F.col(event_type)
    if type_mapping is not None:
        expr = F.lit(None).cast("int")
        for label, code in type_mapping.items():
            expr = F.when(type_col == label, code).otherwise(expr)
        type_col = expr
    return df.select(
        F.col(event_id).cast("long").alias("event_id"),
        type_col.cast("int").alias("event_type"),
        F.col(foreign_id).cast("string").alias("foreign_id"),
        F.col(timestamp).cast("timestamp").alias("timestamp"),
        (F.col(metadata) if metadata else F.lit(None)).cast("binary").alias("metadata"),
        (F.col(trace) if trace else F.lit(None)).cast("binary").alias("trace"),
    )


def _epoch_us(dt) -> int | None:
    """A collected TimestampType value as UTC epoch microseconds. pyspark
    hands timestamps to Python as naive local-time datetimes (``fold`` set
    inside a DST overlap), and ``datetime.timestamp`` maps them back
    exactly; whole seconds keep the float exact."""
    if dt is None:
        return None
    return int(dt.replace(microsecond=0).timestamp()) * 1_000_000 + dt.microsecond


_ARROW_OF = {IntegerType: pa.int32(), LongType: pa.int64(), StringType: pa.string(), BinaryType: pa.binary()}


def _to_arrow(values: list, dtype) -> pa.Array:
    """Collected column values as an Arrow array ordered like Spark orders
    them (other types are inferred)."""
    if isinstance(dtype, TimestampType):
        return pa.array([_epoch_us(v) for v in values], pa.int64()).cast(ARROW_SCHEMA.field("timestamp").type)
    return pa.array(values, _ARROW_OF.get(type(dtype)))


def local_events(
    spark: SparkSession,
    event_types: list[int],
    foreign_ids: list[str],
    timestamps: list,
    metadata: list[bytes | None] | None = None,
) -> DataFrame:
    """Events to append (no event_id) as a local, Arrow-backed DataFrame.
    Naive ``timestamps`` are local wall-clock times, as in
    ``spark.createDataFrame`` from Python rows."""
    n = len(event_types)
    table = pa.table(
        [
            pa.array(event_types, pa.int32()),
            pa.array(foreign_ids, pa.string()),
            _to_arrow(timestamps, TimestampType()),
            pa.array(metadata or [None] * n, pa.binary()),
            pa.nulls(n, pa.binary()),
        ],
        names=EVENT_SCHEMA.names[1:],
    )
    return spark.createDataFrame(table, StructType(EVENT_SCHEMA.fields[1:]))


_ROWS_TAG = "_reflex_local_rows"  # the instance attribute ``local_batch`` sets


class _ServedBatch(ClassicDataFrame):
    """A classic DataFrame over driver-side Arrow rows whose JVM side is
    built on first use: ``_jdf`` runs ``spark.createDataFrame(rows,
    SCAN_SCHEMA)`` once, under a lock, the first time any Spark operation
    needs it. ``schema`` (and so ``columns``/``dtypes``) is preset and
    answers without the JVM."""

    def __new__(cls, spark: SparkSession, rows: pa.Table):
        return object.__new__(cls)  # skip DataFrame.__new__, which wants a jdf

    def __init__(self, spark: SparkSession, rows: pa.Table):
        self._jdf_lock = threading.Lock()
        ClassicDataFrame.__init__(self, None, spark)  # no jdf yet: the setter stores None
        vars(self)["schema"] = copy.deepcopy(SCAN_SCHEMA)  # the cached_property's slot
        vars(self)[_ROWS_TAG] = rows

    @property
    def _jdf(self):
        with self._jdf_lock:
            if self._lazy_jdf is None:
                self._lazy_jdf = self._session.createDataFrame(vars(self)[_ROWS_TAG], SCAN_SCHEMA)._jdf
            return self._lazy_jdf

    @_jdf.setter
    def _jdf(self, jdf):
        self._lazy_jdf = jdf


def local_batch(spark: SparkSession, rows: pa.Table) -> DataFrame:
    """``rows`` (``ARROW_SCHEMA`` columns) as the local DataFrame a run loop
    hands its consumer, tagged with ``rows`` for ``arrow_of``. Its JVM side
    (the ``spark.createDataFrame(rows, SCAN_SCHEMA)`` it stands for) is
    built on its first Spark use, so a consumer that reads the batch only
    through ``arrow_of`` never touches the JVM."""
    return _ServedBatch(spark, rows)


def arrow_of(df: DataFrame) -> pa.Table | None:
    """The Arrow rows ``df`` was built from by ``local_batch``; None for any
    other DataFrame. The tag lives on that exact object: a filter or a
    ``withColumn`` makes a new (eager) DataFrame, which carries none."""
    return vars(df).get(_ROWS_TAG)


def rows_of(batch: DataFrame) -> pa.Table:
    """A delivered batch's rows as Arrow: its served rows (``arrow_of``),
    else one ``toArrow()`` collect in id order."""
    rows = arrow_of(batch)
    return rows if rows is not None else batch.orderBy("event_id").toArrow()


def dense_prefix(rows: pa.Table, after: int) -> pa.Table:
    """The leading id-ordered ``rows`` whose ids run ``after + 1, after +
    2, …`` with no hole (a zero-copy slice): the dense-only guard of
    ``read_after`` on driver-side rows."""
    ids = rows["event_id"].to_numpy()
    holes = np.flatnonzero(ids != after + 1 + np.arange(len(ids)))
    return rows.slice(0, int(holes[0])) if holes.size else rows


def _driver_appendable(schema: StructType, keys: list) -> bool:
    """Can pyarrow write exactly what the Spark path would: every event
    column at its canonical type, and plain sortable ordering columns?"""
    have = {f.name: f.dataType for f in schema.fields}
    return all(
        have.get(f.name) == f.dataType for f in EVENT_SCHEMA.fields if f.name != "event_id"
    ) and all(isinstance(k, str) and isinstance(have.get(k), _SORTABLE) for k in keys)


def _read_events(path: str) -> pa.Table:
    """One data file as ``ARROW_SCHEMA`` columns."""
    t = pq.ParquetFile(path, coerce_int96_timestamp_unit="us").read(columns=ARROW_SCHEMA.names)
    return t.select(ARROW_SCHEMA.names).cast(ARROW_SCHEMA)


#: Logical-mtime epoch of commit order (2001-09-09; any fixed epoch works —
#: FileStreamSource ages files relative to the NEWEST file it has seen, not
#: the wall clock, so a fixed base plus seconds-apart offsets never trips
#: maxFileAge).
_MTIME_BASE = 1_000_000_000


def stamp_commit_order(paths, seq: int) -> None:
    """Give each file in ``paths`` the logical mtime ``_MTIME_BASE + seq``.

    Structured Streaming's file source processes files oldest-mtime first,
    so files stamped with strictly increasing ``seq`` replay in that order
    whatever the filesystem clock recorded — no ``sleep`` between writes,
    and robust on coarse-mtime filesystems. The commit step passes one
    past the previous commit's stamp (``_next_stamp``), so file order ==
    id order."""
    t = float(_MTIME_BASE + seq)
    for p in paths:
        os.utime(p, (t, t))


def _next_stamp(root: str, records: list[dict]) -> int:
    """The ``stamp_commit_order`` seq of the next commit to a log whose
    records are ``records``: one second past the mtime of the last
    record's files, whatever stamped them, or 1 for the first commit.

    One second per commit, not the commit's highest id: ext4 clamps any
    mtime above 15032385535 (year 2446), so id-valued stamps would collide
    past about 1.4e10 ids and the file source would fall back to path
    order. Counting on from the previous stamp keeps a log stamped the old
    way monotone too: a file stamped more than maxFileAge (7 days) behind
    a stream's newest file is never read."""
    if not records:
        return 1
    return int(os.path.getmtime(os.path.join(root, records[-1]["files"][0]))) - _MTIME_BASE + 1


def _staging_dir(root: str) -> str:
    """A fresh directory under ``root/_staging/`` for one commit's files."""
    return os.path.join(root, "_staging", uuid.uuid4().hex)


def _visible_files(root: str) -> set[str]:
    """The data files a Spark scan of ``root`` lists, as paths relative to
    it (``event_date=…/part-*`` in a partitioned log): one recursive
    ``os.scandir`` pass that skips ``_``/``.`` names, as Spark does."""
    out: set[str] = set()

    def walk(d: str, prefix: str) -> None:
        try:
            entries = list(os.scandir(d))
        except FileNotFoundError:
            return
        for e in entries:
            if e.name.startswith(("_", ".")):
                continue
            if e.is_dir():
                walk(e.path, f"{prefix}{e.name}/")
            else:
                out.add(prefix + e.name)

    walk(root, "")
    return out


class EventLog:
    """Append-only event log at a directory path.

    With ``partitioned=True`` the log is laid out as
    ``event_date=YYYY-MM-DD/`` subdirectories (hive-style): time-bounded
    scans prune whole partitions at the file listing — the layout a 100 TB
    event log needs. Unpartitioned mode keeps single-directory simplicity
    for small logs and tests.
    """

    #: Refusal threshold for a single unsharded append: id assignment runs
    #: one global row_number window = one task, the deliberate
    #: auto-increment analogue. Tens of millions of rows through one task
    #: serializes the write; that's a sharding problem, not an append.
    DEFAULT_MAX_APPEND_ROWS = 10_000_000

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partitioned: bool = False,
        max_append_rows: int | None = None,
        notifier=None,
    ):
        self.spark = spark
        self.path = path
        self.partitioned = partitioned
        self.max_append_rows = (
            max_append_rows if max_append_rows is not None else self.DEFAULT_MAX_APPEND_ROWS
        )
        #: Optional insert notifier (reference EventsNotifier,
        #: rsql/eventstable.go:554-571): append() fires it, the poll run
        #: loop parks on it at head instead of sleeping the backoff.
        self.notifier = notifier
        self._gap_listeners: list[Callable[[Gap], None]] = []
        #: In-instance head cache (re-reading the log before every append
        #: was the largest cost of small appends). First use reads storage;
        #: each append updates it. Another handle's append makes it stale,
        #: which the conditional commit catches (``_commit``).
        self._head_cache: int | None = None
        #: Parsed commit records by path (a published record never changes).
        self._records: dict[str, dict] = {}
        #: Held across a file's rename and its record's publish, and across
        #: a snapshot's listing: a poller on this handle never sees a
        #: visible file without its record.
        self._commit_lock = threading.Lock()
        #: ``stream_plan``'s plans by ``max_files_per_trigger``.
        self._stream_plans: dict[int | None, DataFrame] = {}

    def _guard_append_size(self, n: int) -> None:
        if n > self.max_append_rows:
            raise ValueError(
                f"append of {n} rows exceeds max_append_rows="
                f"{self.max_append_rows}: a single append assigns ids through "
                "one global window task (the auto-increment analogue). Use "
                "ShardedEventLog for write scale-out (per-shard dense ids), "
                "or raise max_append_rows explicitly if you accept the "
                "single-task serialization."
            )

    # -- producer side ----------------------------------------------------

    def head(self) -> int:
        """Max assigned event_id, 0 if empty (reference rsql/db.go:112-120).

        Real read errors PROPAGATE: swallowing a transient storage failure
        here would restart id assignment at base=0 in append() and silently
        corrupt the dense-id invariant. Emptiness is handled structurally
        in read() (missing/empty directory → empty DataFrame), not by
        catching exceptions.

        Cached per instance after the first read; a fresh EventLog handle
        re-reads storage: the commit records when they cover the log, else
        a Spark scan. A head cached before another handle appended is
        caught at commit: the append raises ``ConcurrentCommitError`` and
        clears the cache, so no id is assigned twice.
        """
        if self._head_cache is not None:
            return self._head_cache
        records = self._snapshot()
        if records is not None:
            self._head_cache = max((r["max_id"] for r in records), default=0)
            return self._head_cache
        row = self.read().agg(F.max("event_id").alias("m")).collect()[0]
        self._head_cache = row["m"] if row["m"] is not None else 0
        return self._head_cache

    def append(self, events: DataFrame, order_by: list[str] | None = None) -> int:
        """Append events (no event_id column), assigning dense monotonic ids.

        Ids are `head + row_number ordered by (timestamp, foreign_id)` —
        dense and gap-free like MySQL auto_increment under the reference's
        gap-filling (rsql/gapfill.go); visibility is atomic at the parquet
        commit. Returns the new head id.

        ``order_by`` overrides the id-assignment sort for producers whose
        events carry an explicit intra-commit ordering (the CDC bridge
        orders update pre-images before post-images); extra ordering
        columns are dropped from the stored rows.

        A local input on an unpartitioned log takes the driver path (module
        docstring): no Spark job. Other inputs run the Spark write. Either
        way the staged files go through the commit step (``_commit``).
        """
        keys = list(order_by or ["timestamp", "foreign_id"])
        if not self.partitioned and events.isLocal() and _driver_appendable(events.schema, keys):
            return self._append_rows(events.collect(), events.schema, keys)
        base = self.head()
        n = events.count()
        self._guard_append_size(n)
        if not n:
            return base
        w = F.row_number().over(Window.orderBy(*keys))
        out = events.withColumn("event_id", (F.lit(base) + w).cast("long")).select(EVENT_SCHEMA.names)
        self._commit(self._stage(out), base + 1, base + n, append=True)
        return self._committed(base + n)

    def _append_rows(self, rows: list, schema: StructType, keys: list[str]) -> int:
        """The driver path of ``append`` over collected rows."""
        n = len(rows)
        self._guard_append_size(n)
        base = self.head()
        if not n:
            return base
        at = {f.name: i for i, f in enumerate(schema.fields)}
        cols = {
            k: _to_arrow([r[at[k]] for r in rows], schema[k].dataType)
            for k in dict.fromkeys(EVENT_SCHEMA.names[1:] + keys)
        }
        order = pc.sort_indices(
            pa.table({k: cols[k] for k in keys}),
            sort_keys=[(k, "ascending") for k in keys],
            null_placement="at_start",  # Spark's ascending order: nulls first
        )
        arrays = [pa.array(np.arange(base + 1, base + n + 1), pa.int64())]
        arrays += [cols[k].take(order) for k in EVENT_SCHEMA.names[1:]]
        stored = StructType(
            [EVENT_SCHEMA["event_id"]]
            + [
                StructField(f.name, f.dataType, schema[f.name].nullable or a.null_count > 0)
                for f, a in zip(EVENT_SCHEMA.fields[1:], arrays[1:])
            ]
        )
        staged = _staging_dir(self.path)
        os.makedirs(staged)
        write_spark_parquet(self.spark, arrays, stored, staged)
        self._commit(staged, base + 1, base + n, append=True)
        return self._committed(base + n)

    def _stage(self, df: DataFrame, root: str | None = None) -> str:
        """Write ``df``'s events with Spark into a fresh staging directory
        under ``root`` (default: the log), laid out like the log."""
        staged = _staging_dir(root or self.path)
        if self.partitioned:
            df = df.withColumn("event_date", F.col("timestamp").cast("date"))
            df.write.partitionBy("event_date").parquet(staged)
        else:
            df.write.parquet(staged)
        return staged

    def _commit(self, staged: str, min_id: int, max_id: int, root: str | None = None, append: bool = False) -> None:
        """The commit step of every writer. Under the commit lock, stamp
        the data files staged under ``staged`` one logical second past the
        previous commit (``_next_stamp``), move them durably into ``root``
        (default: the log) at the same relative paths and publish their
        record, whose seq is one past the log's last record; then drop the
        staging directory.

        An ``append`` whose ids a published record already holds renames
        nothing in. One that loses its seq to another handle between the
        listing and the (exclusive) publish unlinks its renamed files.
        Either clears the head cache and raises ConcurrentCommitError."""
        root = root or self.path
        files = sorted(_visible_files(staged))
        with self._commit_lock:
            records = commits.read_records(self._commits_dir, self._records)
            lost = append and any(r["max_id"] >= min_id for r in records)
            if not lost:
                stamp_commit_order([os.path.join(staged, f) for f in files], _next_stamp(self.path, records))
                commits.move_in(staged, root, files)
                seq = records[-1]["seq"] + 1 if records else 0
                try:
                    commits.publish(os.path.join(root, commits.COMMITS_DIR), seq, min_id, max_id, files)
                except commits.ConcurrentCommitError:
                    for f in files:
                        os.unlink(os.path.join(root, f))
                    lost = True
        shutil.rmtree(staged, ignore_errors=True)
        if lost:
            self._head_cache = None
            raise commits.ConcurrentCommitError(f"ids {min_id}-{max_id} of {self.path} were committed by another writer")

    def _committed(self, head: int) -> int:
        self._head_cache = head
        if self.notifier is not None:
            self.notifier.notify()
        return head

    @property
    def _commits_dir(self) -> str:
        return os.path.join(self.path, commits.COMMITS_DIR)

    def _snapshot(self) -> list[dict] | None:
        """The commit records in seq order, when they name exactly the
        data files a Spark scan of the log sees; None when a visible file
        is unrecorded."""
        with self._commit_lock:
            visible = _visible_files(self.path)
            records = commits.read_records(self._commits_dir, self._records)
        named = {f for r in records for f in r["files"]}
        return records if named == visible else None

    def poll_window(self, after: int, limit: int | None = None) -> pa.Table | None:
        """The committed events with ids above ``after`` (the first
        ``limit`` of them), in id order, read with pyarrow on the driver
        from the files the commit records name — no Spark job, and a
        snapshot later appends cannot change. The rows carry the canonical
        columns only (no ``event_date`` partition column).

        None when the records do not cover the log (``_snapshot``) or the
        records to read hold more than ``DRIVER_WINDOW_ROWS`` rows: scan
        with ``read_after`` instead. A data file removed while it is read
        (compaction) raises FileNotFoundError; poll again."""
        records = self._snapshot()
        if records is None:
            return None
        hi = after + limit if limit else None
        want = [r for r in records if r["max_id"] > after and (hi is None or r["min_id"] <= hi)]
        t = self._read_recorded(want, [f for r in want for f in r["files"]])
        if t is None:
            return None
        t = t.filter(pc.greater(t["event_id"], after))
        return t.slice(0, limit) if limit else t

    def read_files(self, paths: list[str]) -> pa.Table | None:
        """The events in the data files at ``paths`` (absolute local paths
        inside the log, e.g. a ``run_stream`` micro-batch's files), in id
        order, read with pyarrow on the driver — no Spark job.

        None when a file is not named by a commit record (a raw out-of-band
        write, a crash between rename and record) or the records naming the
        files hold more than ``DRIVER_WINDOW_ROWS`` rows: read the files
        with Spark instead. A removed file raises FileNotFoundError."""
        root = os.path.abspath(self.path) + os.sep
        if not all(p.startswith(root) for p in paths):
            return None
        rel = [p[len(root) :] for p in paths]
        by_file = {f: r for r in commits.read_records(self._commits_dir, self._records) for f in r["files"]}
        if not all(f in by_file for f in rel):
            return None
        want = list({r["seq"]: r for r in map(by_file.get, rel)}.values())
        return self._read_recorded(want, rel)

    def _read_recorded(self, records: list[dict], files: list[str]) -> pa.Table | None:
        """``files`` (relative to the log) read with pyarrow and sorted by
        id; None when ``records``, those naming them, hold more than
        ``DRIVER_WINDOW_ROWS`` rows."""
        if sum(r["max_id"] - r["min_id"] + 1 for r in records) > DRIVER_WINDOW_ROWS:
            return None
        parts = [_read_events(os.path.join(self.path, f)) for f in files]
        t = pa.concat_tables(parts) if parts else ARROW_SCHEMA.empty_table()
        return t.sort_by("event_id")

    def insert(
        self,
        foreign_id: str,
        event_type: int,
        metadata: bytes | None = None,
        timestamp=None,
    ) -> int:
        """Insert one event (reference EventsTable.Insert,
        rsql/eventstable.go:226-246). Noop inserts are rejected like
        rsql/eventstable.go:231-233. The event goes in as a local
        DataFrame, so ``append`` takes its driver path. The default
        ``timestamp`` is now, as an aware UTC datetime; a naive one is local
        wall-clock time (``local_events``)."""
        if foreign_id == NOOP_FOREIGN_ID and event_type == NOOP_TYPE:
            raise ValueError("noop event insert not allowed")
        ts = timestamp or datetime.now(timezone.utc)
        return self.append(local_events(self.spark, [event_type], [foreign_id], [ts], [metadata]))

    # -- consumer side ----------------------------------------------------

    def read(self) -> DataFrame:
        """Batch scan of the full log (empty DataFrame before first append).
        Partitioned logs expose the extra ``event_date`` partition column —
        filter on it to prune partitions at the listing."""
        if not os.path.exists(self.path):
            return empty_df(self.spark, EVENT_SCHEMA)
        if self.partitioned:
            # Partition discovery needs >=1 visible data file; a directory
            # without one (hidden staging or _temporary debris) is an empty
            # log, not an error.
            if not _visible_files(self.path):
                return empty_df(self.spark, EVENT_SCHEMA)
            return self.spark.read.parquet(self.path)
        return self.spark.read.schema(EVENT_SCHEMA).parquet(self.path)

    def scan_bytes(self) -> int:
        """The bytes of the data files a Spark scan of the log reads, from
        one listing: Catalyst's size estimate of ``read()``'s plan, with no
        plan built."""
        return sum(os.path.getsize(os.path.join(self.path, f)) for f in _visible_files(self.path))

    def read_after(
        self, after: int, limit: int | None = None, dense_only: bool = False
    ) -> DataFrame:
        """Ordered scan after a cursor (reference base loader SQL
        rsql/db.go:122-182: WHERE id > ? ORDER BY id ASC LIMIT n).
        The id predicate pushes down to the parquet scan.

        ``dense_only=True`` is the reference's gap detection
        (rsql/loader.go:96-134): return only the contiguous id prefix after
        the cursor. A reader that lists the directory while a multi-file
        append is mid-commit can observe id k+1 without id k; advancing the
        cursor past the hole would silently lose k. Truncating at the first
        gap blocks until the missing file lands — at-least-once preserved.
        The poll run loop enables this guard.
        """
        df = self.read().where(F.col("event_id") > after).orderBy("event_id")
        if limit:
            df = df.limit(limit)
        if dense_only:
            w = Window.orderBy("event_id")
            df = (
                df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("event_id") == F.lit(after) + F.col("__rn"))
                .drop("__rn")
            )
        return df

    # -- gap filling (G2) --------------------------------------------------

    def listen_gaps(self, fn: Callable[[Gap], None]) -> None:
        """Register a gap listener (reference EventsTable.ListenGaps,
        rsql/eventstable.go:289-304). The poll run loop calls ``emit_gap``
        when the window it read starts past its cursor; listeners (e.g. the
        noop filler from ``sources.gapfill.fill_gaps``) unblock the
        stream."""
        self._gap_listeners.append(fn)

    def emit_gap(self, gap: Gap) -> None:
        for fn in self._gap_listeners:
            fn(gap)

    def missing_ids(self, gap: Gap) -> list[int]:
        """Ids in (prev, next) not yet committed (a writer may land files
        during the filler's grace wait). The present ids come from the
        driver window after ``prev`` (``poll_window``), or from a Spark scan
        where the log has none."""
        rows = self.poll_window(gap.prev, gap.next - gap.prev - 1)
        if rows is None:
            inside = (F.col("event_id") > gap.prev) & (F.col("event_id") < gap.next)
            rows = self.read().where(inside).select("event_id").toArrow()
        present = set(rows["event_id"].to_pylist())
        return [i for i in range(gap.prev + 1, gap.next) if i not in present]

    def fill_noops(self, ids: list[int]) -> int:
        """Insert noop events at exactly these ids (reference fillGap,
        rsql/gapfill.go:70-95: noop = foreign_id '0', type 0). Re-checks
        committed ids immediately before the write, so a racing writer's
        rows are kept (the file-log analogue of the reference tolerating
        the duplicate-key error when someone got there first). The noops
        are staged with a Spark write and go through the commit step; their
        record spans the lowest to the highest filled id. Returns the number
        of noops written."""
        if not ids:
            return 0
        still_missing = self.missing_ids(Gap(prev=min(ids) - 1, next=max(ids) + 1))
        fill = sorted(set(ids) & set(still_missing))
        if not fill:
            return 0
        ts = datetime.now(timezone.utc)
        df = self.spark.createDataFrame(
            [(i, NOOP_TYPE, NOOP_FOREIGN_ID, ts, None, None) for i in fill],
            EVENT_SCHEMA,
        )
        self._commit(self._stage(df.coalesce(1)), fill[0], fill[-1])
        # gaps sit below head by construction, but stay defensive: a fill
        # at/above a stale cached head must never corrupt id assignment
        self._head_cache = None
        if self.notifier is not None:
            self.notifier.notify()
        return len(fill)

    def compact(self, target_partitions: int | None = None) -> None:
        """Rewrite the log into ``target_partitions`` files (default: one
        per ~128MB). Every append creates a file set; at high append rates
        the small-files problem dominates scan cost, so periodic compaction
        is part of operating a file-backed log (Delta/Iceberg do this as
        OPTIMIZE).

        Swap protocol: the rewrite goes through the commit step into a new
        generation of the log — stamped one logical second past the last
        commit, so later appends keep sorting after it, and with one record
        covering every id (out-of-band files are adopted) whose seq
        continues the log's — published by ``commits.swap_generation``:
        the symlink at ``self.path`` is replaced atomically, so concurrent
        head()/read() always resolve a complete log, never an absent or
        partial one, and polls stay on the driver path. The FIRST
        compaction converts a plain directory to the symlink layout and has
        a sub-millisecond non-atomic window; quiesce readers around that
        one conversion.

        Compaction must NOT run while checkpointed *streaming* readers
        (read_stream) are attached: they track processed files, so the
        rewritten files would be re-ingested wholesale as duplicates. Poll
        consumers (run()) are safe — their cursor is an event id and
        compaction preserves ids.
        """
        df = self.read()
        lo, hi = df.agg(F.min("event_id"), F.max("event_id")).first()
        if hi is None:
            return  # nothing to rewrite
        if target_partitions is None:
            target_partitions = max(1, self.scan_bytes() // (128 << 20))
        df = df.coalesce(int(target_partitions))
        commits.swap_generation(self.path, lambda gen: self._commit(self._stage(df, gen), lo, hi, root=gen))
        # ids are preserved, so the cached head is numerically still right —
        # but stay defensive: a compact() racing an external state change
        # must never leave a stale cache behind (ADVICE r12).
        self.invalidate_head_cache()

    def invalidate_head_cache(self) -> None:
        """Force the next head() to re-read storage.

        Another handle's appends need no call (the conditional commit
        catches them). Writes that publish no commit record — raw parquet
        writes into the log directory (crash-injection fixtures do this),
        restore-from-backup — must call this before the next append, or
        dense-id assignment would reuse ids."""
        self._head_cache = None
        self._records.clear()

    def read_stream(self, max_files_per_trigger: int | None = None) -> DataFrame:
        """Structured Streaming source over the log (reference
        EventsTable.Stream, rsql/eventstable.go:259-287). The checkpoint's
        file ledger is the cursor; maxFilesPerTrigger ≈ WithEventLookupLimit."""
        reader = self.spark.readStream.schema(EVENT_SCHEMA)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader.parquet(self.path)

    def stream_plan(self, max_files_per_trigger: int | None = None) -> DataFrame:
        """The ``read_stream`` plan ``run_stream`` starts. An unpartitioned
        log builds it once per ``max_files_per_trigger`` and keeps it on the
        handle: each query creates its own source from the plan, so queries
        can share it, and the build's listing of the log is paid once. A
        partitioned log builds it per call, because its partition columns
        come from that listing."""
        if self.partitioned:
            return self.read_stream(max_files_per_trigger)
        plan = self._stream_plans.get(max_files_per_trigger)
        if plan is None:
            plan = self._stream_plans[max_files_per_trigger] = self.read_stream(max_files_per_trigger)
        return plan
