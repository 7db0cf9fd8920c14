"""Incrementally-maintained aggregates: the streaming rollup.

The classic warehouse pattern the reference leaves to consumers (a consumer
maintaining a projection table from events): a foreachBatch consumer merges
each microbatch's partial aggregate into a persistent parquet table, so the
rollup is always queryable and history is never recomputed. Each merge
still rewrites the whole rollup: a batch costs O(batch + rollup), not
O(batch + touched keys).

Two merge paths, one stored format. A merge whose input (current rollup +
fresh rows) Catalyst estimates at or below ``DRIVER_MERGE_BYTES`` runs on
the driver: the fresh rows are summed per key with the rollup read by
pyarrow and written as one file with the Spark merge's footer.

A batch a run loop served from the driver (``event_log.arrow_of``: every
small poll window and stream micro-batch), with groupable keys and no
value column or a 32-bit or narrower integer one, is merged from its
Arrow rows alone (``_merge_served``): no Spark job and no JVM plan, so
the batch's JVM side is never built. Its merged schema is derived from
the keys' types, and Catalyst's size estimate is computed from the fresh
row count and the rollup's file sizes. Any other batch goes through its
Catalyst plan (``_merge_planned``): a ``collect()`` of a local batch (no
job) or one ``toArrow()`` job for a batch Spark read feeds the driver
merge. Larger merges, key types Arrow does not group the way Spark does,
and sums that overflow ``decimal(18,6)`` run the Spark shuffle merge.

Exactly-once on at-least-once delivery: dedup is keyed on the event ids
actually merged, not on batch boundaries. A high-watermark (max event_id
merged so far) is written inside each new generation of the table, and
one ``sources.commits.swap_generation`` publishes table and watermark
together: a crash before the swap leaves both old, one after it both new.

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

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from reflex_spark.sources import commits
from reflex_spark.sources.event_log import arrow_of
from reflex_spark.tables import plan_bytes, write_spark_parquet

_WATERMARK_FILE = "_watermark.json"  # "_" prefix → invisible to parquet scans

#: Merges whose input (current rollup + fresh rows) Catalyst estimates at
#: or below this many bytes run on the driver with pyarrow. For a served
#: batch the same number is computed from its fresh row count and the
#: rollup's file sizes (``_served_bytes``), with no plan. Measured faster
#: at the benchmark backfill's 25-323 KB estimates (4 cores); larger merges
#: keep the shuffle, whose parallelism was not measured against.
DRIVER_MERGE_BYTES = 512 << 10

#: Key types whose Arrow grouping equals Spark's: no float keys (Spark
#: folds NaNs and -0.0), and strings only at the default binary collation.
_GROUPABLE = (BooleanType, ByteType, ShortType, IntegerType, LongType, DateType)

_EVENT_ID = "__event_id"  # the collected ids, named apart from any key

#: Value-column types pyarrow casts to ``decimal(18,6)`` exactly as Spark
#: does, because every value fits (a served batch's other types are merged
#: from a ``collect()``).
_NARROW_INTS = (pa.int8(), pa.int16(), pa.int32())

#: Catalyst's ``defaultSize`` of each type a served merge projects: its
#: keys are ``SCAN_SCHEMA`` columns (``event_id``, ``event_type``,
#: ``foreign_id``), then ``n_events`` and ``sum_value`` (decimals of at
#: most 18 digits are stored as a long).
_DEFAULT_SIZE = {IntegerType: 4, LongType: 8, StringType: 20, DecimalType: 8}


def _groupable(schema: StructType, keys: list[str]) -> bool:
    return all(type(schema[k].dataType) in _GROUPABLE or schema[k].dataType == StringType() for k in keys)


class MaterializedCounts:
    """Persistent per-key (count, decimal-sum) rollup over an event stream."""

    def __init__(self, spark: SparkSession, path: str, keys: list[str], value_col: str | None = None):
        self.spark = spark
        self.path = path.rstrip("/")
        self.keys = keys
        self.value_col = value_col

    # -- consumer side -----------------------------------------------------

    def _ledger(self) -> dict:
        """The published table's ``_watermark.json`` ({} before the first
        merge): ``max_event_id`` and the ``schema`` the table was written
        with."""
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
        in the same swap that publishes the merged table.
        """
        ledger = self._ledger()
        if not self._merge_served(batch, ledger):
            self._merge_planned(batch, ledger)

    def _served_schema(self, batch: DataFrame) -> StructType | None:
        """The merged rollup's schema for a batch a run loop served
        (``arrow_of``), derived without Catalyst: the keys' fields, then
        ``n_events`` and ``sum_value``, all nullable, as the Spark merge
        writes them. None when the batch is not served, a key type does
        not group in Arrow as in Spark, or the value column is not one
        ``_fresh_rows`` casts exactly."""
        served = arrow_of(batch)
        if served is None:
            return None
        have = batch.schema  # preset on a served batch: no JVM
        if not set(self.keys) <= set(have.names) or not _groupable(have, self.keys):
            return None
        fields = [StructField(k, have[k].dataType, True) for k in self.keys]
        fields.append(StructField("n_events", LongType(), True))
        if self.value_col is not None:
            value = served.schema.field(self.value_col) if self.value_col in served.column_names else None
            if value is None or value.type not in _NARROW_INTS:
                return None
            fields.append(StructField("sum_value", DecimalType(18, 6), True))
        return StructType(fields)

    def _served_bytes(self, fresh_rows: int, schema: StructType) -> int:
        """``plan_bytes`` of a served batch's merge input, computed as
        Catalyst computes it: the fresh rows become a local relation of
        (8 + default size of each column) bytes a row, and the rollup scan
        counts its visible files' bytes."""
        row = 8 + sum(_DEFAULT_SIZE[type(f.dataType)] for f in schema.fields)
        table = 0
        if os.path.exists(self.path):
            with os.scandir(self.path) as it:
                table = sum(e.stat().st_size for e in it if not e.name.startswith(("_", ".")))
        return row * fresh_rows + table

    def _merge_served(self, batch: DataFrame, ledger: dict) -> bool:
        """Merge a served batch from its Arrow rows alone (no JVM plan);
        False, having done nothing, when ``_merge_planned`` must decide:
        a batch that is not served or not mergeable in Arrow, a rollup
        stored at another schema, a merge above ``DRIVER_MERGE_BYTES``,
        or a sum that overflows its stored type."""
        schema = self._served_schema(batch)
        if schema is None or (os.path.exists(self.path) and ledger.get("schema") != schema.json()):
            return False
        got = self._fresh_rows(arrow_of(batch), ledger.get("max_event_id"))
        if got.num_rows == 0:
            return True  # fully redelivered batch — already merged
        if self._served_bytes(got.num_rows, schema) > DRIVER_MERGE_BYTES:
            return False
        summed = self._driver_merge(got.drop_columns(_EVENT_ID), schema)
        if summed is None:
            return False
        self._publish(pc.max(got.column(_EVENT_ID)).as_py(), schema, summed=summed)
        return True

    def _merge_input(self, batch: DataFrame, ledger: dict):
        """The Spark merge's plans: (fresh rows, their projection, the
        merge input = rollup ∪ projection, the merged aggregate)."""
        wm = ledger.get("max_event_id")
        fresh = batch if wm is None else batch.where(F.col("event_id") > wm)
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
            rows = self._read(ledger).unionByName(rows)
        return fresh, cols, rows, rows.groupBy(*self.keys).agg(*sums)

    def _merge_planned(self, batch: DataFrame, ledger: dict) -> None:
        """Merge any batch through its Catalyst plan: on the driver from a
        ``collect()`` or one ``toArrow()`` job when the plan is small, or
        with the Spark shuffle."""
        fresh, cols, rows, merged = self._merge_input(batch, ledger)
        schema = merged.schema  # what the Spark merge writes (no job)
        est = plan_bytes(rows)
        on_driver = est is not None and est <= DRIVER_MERGE_BYTES and _groupable(schema, self.keys)

        picked = fresh.select(F.col("event_id").alias(_EVENT_ID), *cols)
        got = None
        if batch.isLocal():
            # a filter over a LocalRelation collects on the driver, no job
            collected = picked.collect()
            hi = max((r[0] for r in collected), default=None)
            if on_driver:
                got = pa.table(
                    {
                        f.name: pa.array([r[i] for r in collected], to_arrow_type(f.dataType))
                        for i, f in enumerate(picked.schema.fields)
                    }
                )
        elif on_driver:
            got = picked.toArrow()  # the one Spark job of a driver merge
            hi = pc.max(got.column(_EVENT_ID)).as_py()
        else:
            hi = fresh.agg(F.max("event_id")).collect()[0][0]
        if hi is None:
            return  # fully redelivered batch — already merged
        summed = None if got is None else self._driver_merge(got.drop_columns(_EVENT_ID), schema)
        self._publish(hi, schema, summed=summed, merged=merged)

    def _publish(self, hi: int, schema: StructType, summed: list | None, merged: DataFrame | None = None) -> None:
        """Write the merged rollup (``summed`` columns with pyarrow, else
        ``merged`` with Spark) and its ledger as a new generation, then
        swap it in."""

        def write(gen: str) -> None:
            if summed is None:
                merged.write.parquet(gen)
            else:
                os.makedirs(gen)
                write_spark_parquet(self.spark, summed, schema, gen)
            with open(os.path.join(gen, _WATERMARK_FILE), "w") as f:
                json.dump({"max_event_id": int(hi), "schema": schema.json()}, f)

        commits.swap_generation(self.path, write)  # commit point: table + watermark together

    def _fresh_rows(self, rows: pa.Table, wm: int | None) -> pa.Table:
        """``apply_batch``'s ``picked`` rows, computed from a served batch's
        Arrow rows instead of through the JVM."""
        if wm is not None:
            rows = rows.filter(pc.greater(rows["event_id"], wm))
        cols = {_EVENT_ID: rows["event_id"], **{k: rows[k] for k in self.keys}}
        cols["n_events"] = pa.repeat(pa.scalar(1, pa.int64()), rows.num_rows)
        if self.value_col:
            cols["sum_value"] = rows[self.value_col].cast(pa.decimal128(18, 6))
        return pa.table(cols)

    def _driver_merge(self, fresh: pa.Table, schema: StructType) -> list[pa.Array] | None:
        """The merged rollup's columns in ``schema``'s order, summed with
        pyarrow over the published table and ``fresh``; None when a sum
        does not fit its stored type (the Spark merge decides then)."""
        types = [to_arrow_type(f.dataType) for f in schema.fields]
        # decimal sums widen to 38 digits, so an overflow shows on the way back
        wide = pa.schema(
            [
                pa.field(n, pa.decimal128(38, t.scale) if pa.types.is_decimal(t) else t)
                for n, t in zip(schema.names, types)
            ]
        )
        parts = [fresh]
        if os.path.exists(self.path):
            parts.append(pq.read_table(self.path))
        table = pa.concat_tables([p.select(wide.names).cast(wide) for p in parts])
        values = schema.names[len(self.keys) :]
        out = table.group_by(self.keys).aggregate([(v, "sum") for v in values])
        names = self.keys + [f"{v}_sum" for v in values]
        try:
            return [out.column(n).cast(t) for n, t in zip(names, types)]
        except pa.ArrowInvalid:
            return None

    # -- query side --------------------------------------------------------

    def read(self) -> DataFrame:
        """The rollup, read at the schema it was written with (tables
        written before the ledger kept it infer theirs)."""
        return self._read(self._ledger())

    def _read(self, ledger: dict) -> DataFrame:
        reader = self.spark.read
        if "schema" in ledger:
            reader = reader.schema(StructType.fromJson(json.loads(ledger["schema"])))
        return reader.parquet(self.path)
