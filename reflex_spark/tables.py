"""Fixture-table catalog: load the driver's parquet tables and register views.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under a scale-factor dir.
Also the shared table helpers: a zero-partition ``empty_df``,
``write_spark_parquet``, the driver-side write of a Spark-footed file, and
``plan_bytes``, Catalyst's size estimate of a plan.
"""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import LongType, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
# (region/nation are fixed-size; supplier/part/customer grow with SF but stay
# several orders of magnitude below lineitem/orders — AQE will still convert
# to broadcast when their runtime size is below the threshold.)
BROADCAST_DIMS = ("region", "nation", "supplier")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # Parquet TIMESTAMP(NANOS) is read as long (nanosAsLong); convert to
        # a microsecond timestamp with integer division — double division
        # would lose precision at ~1e18 ns magnitudes.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


# (applicationId, sf_dir) → {table: DataFrame}. Building the 10 scans costs
# ~0.8s of driver-side file listing + footer reads per call; across a
# many-query run that dwarfs several queries' execution. DataFrames are
# plans, not data — reusing them is safe within a session, and keying on
# applicationId drops entries from stopped sessions.
_TABLE_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def empty_df(spark: SparkSession, schema) -> DataFrame:
    """A truly empty DataFrame with ZERO partitions.

    ``spark.createDataFrame([], schema)`` parallelizes the empty list over
    ``defaultParallelism`` slices, so every downstream action schedules
    one no-op task per core (measured on local[32]: a count over it is a
    32-task job; an exceptAll against it shuffles 32 empty map outputs —
    the empty side of a CDC window was the biggest job in the publish).
    ``emptyRDD()`` has no partitions at all: jobs over it schedule zero
    tasks and unions with it add nothing."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate for ``df`` (no job runs);
    None when the plan has no statistics (e.g. an RDD-backed plan)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — any py4j failure means no estimate
        return None


def write_spark_parquet(spark: SparkSession, columns: list, schema: StructType, directory: str) -> None:
    """Write ``columns`` (Arrow arrays in ``schema``'s field order) with
    pyarrow as one ``part-00000-<uuid>-c000.snappy.parquet`` file in
    ``directory``. The footer is the one a Spark write of ``schema``
    leaves: the Spark schema Spark reads back (no inference), its
    nullability, snappy pages and INT96 timestamps. Decimals keep
    pyarrow's fixed-length encoding, which Spark and DuckDB read alike."""
    fields = [pa.field(f.name, to_arrow_type(f.dataType), f.nullable) for f in schema.fields]
    footer = {
        "org.apache.spark.version": spark.version,
        "org.apache.spark.sql.parquet.row.metadata": json.dumps(schema.jsonValue(), separators=(",", ":")),
    }
    table = pa.Table.from_arrays(
        [c.cast(f.type) for c, f in zip(columns, fields)], schema=pa.schema(fields, metadata=footer)
    )
    path = os.path.join(directory, f"part-00000-{uuid.uuid4()}-c000.snappy.parquet")
    pq.write_table(table, path, compression="snappy", use_deprecated_int96_timestamps=True)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every fixture table as a DataFrame (lazy: just scan metadata).

    Spark 4 rejects parquet TIMESTAMP(NANOS) unless it is surfaced as a
    long; `events.ts` is nanos, so we enable the legacy read and rebuild
    the timestamp (truncation to micros matches DuckDB's own ns→us cast).
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return dict(cached)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin timestamp semantics to UTC even when the caller's session (e.g. the
    # external driver) was built without it — otherwise date_trunc/day
    # boundaries shift with the host timezone and diverge from the
    # timezone-naive oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    dfs = {name: _read(spark, sf_dir, name) for name in TABLES}
    _TABLE_CACHE[key] = dfs
    return dict(dfs)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for spark.sql queries."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
