"""Incrementally-maintained aggregates: the streaming rollup.

The classic warehouse pattern the reference leaves to consumers (a consumer
maintaining a projection table from events): a foreachBatch consumer merges
each microbatch's partial aggregate into a persistent parquet table, so the
rollup is always queryable and each batch costs O(batch + touched keys) —
never a recompute of history.

Exactly-once on at-least-once delivery: dedup is keyed on the event ids
actually merged, not on batch boundaries. A high-watermark (max event_id
merged so far) is committed *inside* the staged table directory, so the
single directory rename that publishes the new table also publishes the
ledger — there is no window where the table is swapped but the ledger is
stale (the prior design marked the ledger after the swap, so a crash
between the two double-counted the batch; and its min-max batch key was
not stable when a restarted stream re-batched with different boundaries).

The ledger also records the Spark schema the table was written with, so
reads skip Parquet schema inference (a Spark job of its own).

Assumption (holds for both run() and run_stream() over an EventLog): events
are delivered in non-decreasing event_id order across batches — redelivery
replays a suffix, never an arbitrary subset. Rows at or below the watermark
are dropped; rows above it are merged and the watermark advances.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_WATERMARK_FILE = "_watermark.json"  # "_" prefix → invisible to parquet scans

#: Merges whose input (current rollup + fresh rows) Catalyst estimates at
#: or below this many bytes run as one task without a shuffle. Measured
#: faster at the benchmark backfill's 25-323 KB estimates (4 cores); larger
#: merges keep the shuffle, whose parallelism was not measured against.
ONE_TASK_MERGE_BYTES = 512 << 10


def _plan_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate for ``df`` (no job runs)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


class MaterializedCounts:
    """Persistent per-key (count, decimal-sum) rollup over an event stream."""

    def __init__(self, spark: SparkSession, path: str, keys: list[str], value_col: str | None = None):
        self.spark = spark
        self.path = path.rstrip("/")
        self.keys = keys
        self.value_col = value_col

    # -- crash recovery ----------------------------------------------------

    def _recover(self) -> None:
        """Finish or undo an interrupted swap (idempotent).

        The swap sequence is: write staging (table + watermark) → rename
        path→old → rename staging→path → rmtree old. Staging is complete
        before the first rename, so a crash that left `path` absent rolls
        FORWARD (publish staging); a crash with `path` present means the
        staging dir is unpublished garbage (or `old` is) — delete it.
        """
        old, tmp = self.path + ".old", self.path + ".staging"
        if not os.path.exists(self.path):
            if os.path.exists(tmp):
                os.rename(tmp, self.path)  # roll forward: staging was complete
            elif os.path.exists(old):
                os.rename(old, self.path)  # staging already gone: roll back
        for leftover in (old, tmp):
            if os.path.exists(self.path) and os.path.exists(leftover):
                shutil.rmtree(leftover)

    # -- consumer side -----------------------------------------------------

    def _ledger(self) -> dict:
        """The published table's ``_watermark.json`` ({} before the first
        merge): ``max_event_id`` and the ``schema`` the table was written
        with."""
        self._recover()
        wf = os.path.join(self.path, _WATERMARK_FILE)
        if os.path.exists(wf):
            with open(wf) as f:
                return json.load(f)
        return {}

    def watermark(self) -> int | None:
        """Max event_id merged into the published table (None = nothing
        merged yet — NOT 0: fixture-adapted logs may contain event_id 0,
        and a zero sentinel would silently drop it on the first batch)."""
        return self._ledger().get("max_event_id")

    def apply_batch(self, batch: DataFrame, meta: dict) -> None:
        """foreachBatch/poll consumer fn: merge one batch's partials.

        Idempotent under redelivery and re-batching: only rows above the
        committed watermark are merged, and the new watermark is committed
        in the same rename that publishes the merged table.
        """
        wm = self.watermark()
        fresh = batch if wm is None else batch.where(F.col("event_id") > wm)
        if batch.isLocal():
            # a filter over a LocalRelation collects on the driver, no job
            hi = max((r[0] for r in fresh.select("event_id").collect()), default=None)
        else:
            hi = fresh.agg(F.max("event_id").alias("hi")).collect()[0]["hi"]
        if hi is None:
            return  # fully redelivered batch — already merged

        # One aggregation over the current rollup and the fresh rows: its
        # map-side partial aggregate already pre-sums the batch per key.
        cols = [*self.keys, F.lit(1).cast("long").alias("n_events")]
        sums = [F.sum("n_events").cast("long").alias("n_events")]
        if self.value_col:
            cols.append(F.col(self.value_col).cast("decimal(18,6)").alias("sum_value"))
            sums.append(F.sum("sum_value").cast("decimal(18,6)").alias("sum_value"))
        rows = fresh.select(*cols)
        if os.path.exists(self.path):
            # at its stored schema: no schema-inference job
            rows = self.read().unionByName(rows)
        if _plan_bytes(rows) <= ONE_TASK_MERGE_BYTES:
            # Aggregate in one task without a shuffle: one Spark job
            # instead of two.
            rows = rows.coalesce(1)
        merged = rows.groupBy(*self.keys).agg(*sums)

        tmp = self.path + ".staging"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        merged.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, _WATERMARK_FILE), "w") as f:
            json.dump({"max_event_id": int(hi), "schema": merged.schema.json()}, f)
        old = self.path + ".old"
        if os.path.exists(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)  # commit point: table + watermark together
        if os.path.exists(old):
            shutil.rmtree(old)

    # -- query side --------------------------------------------------------

    def read(self) -> DataFrame:
        """The rollup, read at the schema it was written with (tables
        written before the ledger kept it infer theirs)."""
        schema = self._ledger().get("schema")
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(json.loads(schema)))
        return reader.parquet(self.path)
