"""ManifestEventLog: atomic appends via a commit manifest.

A plain parquet directory exposes files as they are renamed in, one by one
— a reader listing mid-append can observe half a batch (the race the poll
loop's gap guard defends against). A manifest log removes the race, the
way Delta/Iceberg's transaction logs do, with two invariants:

1. Data files live under ``batches/<seq>/`` and are never listed directly;
   a batch becomes visible only when its manifest entry
   ``manifest/<seq>.json`` appears — a single atomic rename that happens
   strictly after every data file is fully written.
2. Manifest entries carry the id range, so ``head()`` is O(1) file reads
   (no data scan) — on an object store this is the difference between a
   metadata GET and a full-table LIST+scan per append.

A manifest entry is a commit record in the format EventLog publishes under
``_commits/`` (``sources.commits``: ``{seq, min_id, max_id, files,
commit_ts}``), written and read by the same code. Since the manifest names
every visible file, ``run()`` polls small windows from it on the driver
(``EventLog.poll_window``).

Compaction commits by atomically repointing a ``CURRENT`` file at a new
manifest generation (``manifest-<gen>/``), LevelDB-style: there is never a
moment where the manifest is absent, so a concurrent ``head()``/``read()``
sees either the old batch set or the new one — no window where head()=0
could corrupt id assignment.

**Compaction vs streaming readers**: compaction rewrites committed events
into NEW files under ``batches/``. A checkpointed streaming reader
(``read_stream``) tracks processed *files*, so it will re-ingest the
compacted copies as duplicates — full duplicate delivery of the whole log.
Do NOT run ``compact()`` while streaming consumers are attached; quiesce
them and reset (or discard) their checkpoints afterwards. Poll-path
consumers (``run()``) are safe: their cursor is an event id, and compaction
preserves ids.

Single-writer per log, like EventLog's dense-id assignment; shard with
ShardedEventLog for write scale-out (it accepts any EventLog-shaped ctor).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from reflex_spark.sources import commits
from reflex_spark.sources.event_log import EVENT_SCHEMA, EventLog
from reflex_spark.tables import empty_df


class ManifestEventLog(EventLog):
    def __init__(self, spark: SparkSession, path: str):
        super().__init__(spark, path)
        self._batches_dir = os.path.join(path, "batches")
        self._current_file = os.path.join(path, "CURRENT")

    # -- manifest bookkeeping ---------------------------------------------

    @property
    def _manifest_dir(self) -> str:
        """Resolve the live manifest generation via CURRENT (absent CURRENT
        = generation 0 at the legacy path ``manifest/``)."""
        if os.path.exists(self._current_file):
            with open(self._current_file) as f:
                return os.path.join(self.path, f.read().strip())
        return os.path.join(self.path, "manifest")

    def _entries(self) -> list[dict]:
        return commits.read_records(self._manifest_dir, self._records)

    def _snapshot(self) -> list[dict]:
        """The manifest is the visibility point: it always covers the log."""
        return self._entries()

    def _files(self, entries: list[dict]) -> list[str]:
        return [p for e in entries for p in commits.record_files(self.path, e)]

    def _parts(self, batch_dir: str) -> list[str]:
        """A freshly written batch directory's data files, relative to the
        log root (a commit record's ``files``)."""
        return sorted(
            os.path.relpath(os.path.join(batch_dir, f), self.path)
            for f in os.listdir(batch_dir)
            if f.startswith("part-")
        )

    def head(self) -> int:
        entries = self._entries()
        return entries[-1]["max_id"] if entries else 0

    # -- producer ----------------------------------------------------------

    def append(self, events: DataFrame) -> int:
        base = self.head()
        self._guard_append_size(events.count())
        seq = len(self._entries())
        batch_dir = os.path.join(self._batches_dir, f"{seq:08d}")
        w = F.row_number().over(Window.orderBy("timestamp", "foreign_id"))
        out = events.withColumn("event_id", (F.lit(base) + w).cast("long")).select(
            [f.name for f in EVENT_SCHEMA.fields]
        )
        out.write.mode("overwrite").parquet(batch_dir)  # fully written first
        n = self.spark.read.parquet(batch_dir).count()
        # the commit point: one atomic rename makes the whole batch visible
        commits.publish(self._manifest_dir, seq, base + 1, base + n, self._parts(batch_dir))
        return base + n

    def fill_noops(self, ids: list[int]) -> int:
        """Gap filling is structurally unnecessary here: a batch's ids are
        assigned from the committed head and become visible in one atomic
        manifest rename, so the id sequence can never have holes (a
        crashed writer's uncommitted batch dir is invisible and its ids
        are re-assigned by the next append)."""
        raise NotImplementedError(
            "ManifestEventLog cannot have id holes; gap filling applies to "
            "plain EventLog directories only"
        )

    # -- consumer ----------------------------------------------------------

    def read(self) -> DataFrame:
        files = self._files(self._entries())
        if not files:
            return empty_df(self.spark, EVENT_SCHEMA)
        return self.spark.read.schema(EVENT_SCHEMA).parquet(*files)

    def read_stream(self, max_files_per_trigger: int | None = None) -> DataFrame:
        """Streaming over the batches tree. The file source's per-file
        ledger tolerates mid-append discovery (no loss, only deferral), so
        streaming does not need the manifest. See the module docstring for
        the compaction hazard: compact() rewrites events into new files and
        a checkpointed streaming reader would re-ingest all of them."""
        reader = self.spark.readStream.schema(EVENT_SCHEMA)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader.option("pathGlobFilter", "*.parquet").parquet(
            os.path.join(self._batches_dir, "*")
        )

    def compact(self, target_partitions: int | None = None) -> None:
        """Rewrite every committed batch into one, then atomically repoint
        CURRENT at a new single-entry manifest generation — a concurrent
        reader sees either the old batch set or the new one, never an empty
        manifest. Must not run with streaming consumers attached (module
        docstring); poll consumers are unaffected (ids are preserved)."""
        entries = self._entries()
        if not entries:
            return
        head = self.head()
        old_mdir = self._manifest_dir
        base = os.path.basename(old_mdir)
        gen = int(base.rsplit("-", 1)[1]) + 1 if "-" in base else 1
        df = self.read()
        # unique dir per compaction: never clobber a dir the live manifest
        # might still reference (e.g. the previous compaction's output)
        new_dir = os.path.join(self._batches_dir, f"compact-{os.urandom(6).hex()}")
        df.coalesce(int(target_partitions or 1)).write.mode("overwrite").parquet(new_dir)
        new_mdir = os.path.join(self.path, f"manifest-{gen}")
        commits.publish(new_mdir, 0, 1, head, self._parts(new_dir))
        # commit point: atomically repoint CURRENT at the new generation
        fd, tmp = tempfile.mkstemp(dir=self.path, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(f"manifest-{gen}")
        os.replace(tmp, self._current_file)
        shutil.rmtree(old_mdir)
        # drop the now-unreferenced batch dirs; checkpointed streaming
        # readers have already processed them (their ledger is per-file)
        for d in {os.path.dirname(p) for p in self._files(entries)}:
            shutil.rmtree(d, ignore_errors=True)
