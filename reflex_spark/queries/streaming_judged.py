"""Judged queries that exercise the streaming + storage machinery
end-to-end, each hash-checked against a first-principles SQL oracle:

- `stream_rollup_counts`   — poll run loop (cursor store, batch limits,
  at-least-once) into an incrementally-merged rollup;
- `stream_restart_rollup`  — Structured Streaming with a checkpoint
  restart across a stopped query (multi-batch resume);
- `stream_watermark_rollup`— REAL withWatermark late-data drops; the
  oracle replays the measured drop rule (round 4);
- `stream_sharded_rollup`  — 3-shard ShardedEventLog, per-shard cursors
  and rollups merged exactly (round 4);
- `tx_merge_orders`        — MERGE INTO on the transactional TxTable
  (round 4);
- `stream_stateful_sessions` — custom per-user state via
  applyInPandasWithState, keyed-sink merged (rounds 5-6);
- `cdc_rollup`             — TxTable commits → typed CDC events → live
  rows rebuilt from the feed alone (round 6);
- `blob_source_rollup`     — the bucket as a registered Python
  DataSource format with planning-time cursor pruning (round 6).

Decimal sums make every incremental/merged path bit-identical to the
one-shot aggregate regardless of batch or shard boundaries — if a loop
dropped, duplicated, or mis-merged anything, the hash check fails.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reflex_spark.queries import query
from reflex_spark.queries.helpers import sql_dsum
from reflex_spark.streaming import Consumer, ErrHeadReached, MemCursorStore, Spec, StreamOptions, run
from reflex_spark.streaming.materialize import MaterializedCounts
from reflex_spark.streaming.run import run_query, run_stream
from reflex_spark.streaming.statestore import python_state_floor
from reflex_spark.tables import load_tables


class _FixtureEventsLog:
    """Adapter: the read-only events fixture viewed as an event log
    (duck-typed for the run loop: head / read / read_after)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self._df = load_tables(spark, sf_dir)["events"]

    def head(self) -> int:
        row = self._df.agg(F.max("event_id").alias("m")).collect()[0]
        return row["m"] if row["m"] is not None else 0

    def read(self) -> DataFrame:
        return self._df

    def read_after(
        self, after: int, limit: int | None = None, dense_only: bool = False
    ) -> DataFrame:
        # fixture ids are dense and static; the gap guard is a no-op here
        df = self._df.where(F.col("event_id") > after).orderBy("event_id")
        return df.limit(limit) if limit else df


@query(
    "stream_rollup_counts",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY event_type
    """,
)
def stream_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consume the fixture through run() in 2000-event batches, merging
    each batch into a persistent rollup; return the rollup. Exactness of
    the incremental path against the one-shot SQL aggregate IS the test."""
    log = _FixtureEventsLog(spark, sf_dir)
    rollup_path = tempfile.mkdtemp(prefix="stream_rollup_") + "/table"
    mat = MaterializedCounts(spark, rollup_path, keys=["event_type"], value_col="value")
    # A fixed count of incremental merges at any SF (≈5 batches): the
    # correctness value is the merge across batch boundaries, not the
    # number of loop rounds — a constant limit made the bench O(SF) in
    # driver round-trips (50 rounds × rollup read-modify-write at sf0.1).
    batch_limit = max(2000, log.head() // 5 + 1)
    spec = Spec(
        log,  # type: ignore[arg-type] — duck-typed log
        # fixture ids start at 0 (the engine's own logs start at 1), so the
        # initial exclusive cursor must sit below the first id
        MemCursorStore({"stream_rollup": -1}),
        Consumer("stream_rollup", mat.apply_batch),
        StreamOptions(to_head=True, batch_limit=batch_limit, drop_noops=False),
    )
    try:
        run(spec)
    except ErrHeadReached:
        pass
    return mat.read().select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
    )


class _BatchSink:
    """Parquet accumulation sink for judged ``foreachBatch`` streams
    (VERDICT r10 #8): each micro-batch APPENDS its (optionally
    pre-aggregated) emissions tagged with the batch id, and the final
    answer is resolved DISTRIBUTED after the stream finishes — the
    driver holds a path string, never per-key state.  This is the 100 TB
    posture the judged streaming queries exist to prove: emissions are
    data-plane-sized, so the old per-query driver-dict pattern (bounded
    only by fixture cardinality) is replaced with append-to-sink + a
    final distributed resolve, mirroring ``stream_stateful_sessions``.

    ``writer(prepare)`` returns the foreachBatch callable; ``prepare``
    (if given) runs inside the batch — typically a per-batch partial
    aggregate so the sink stores one row per key per batch, not raw
    join output.  Resolve with ``latest_per_key`` (update-mode
    cumulative emissions: newest batch wins) or ``sum_per_key``
    (append-mode deltas: fold by summation).  Both resolvers
    ``persist()`` + count before returning so callers can remove the
    temp sink directory afterwards (in production the sink itself is
    the durable output and that step disappears)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def writer(self, prepare=None):
        path = self.path

        def merge(bdf: DataFrame, bid: int) -> None:
            out = prepare(bdf) if prepare is not None else bdf
            out.withColumn("__bid", F.lit(bid)).write.mode("append").parquet(path)

        return merge

    def read(self) -> DataFrame:
        import os

        if not os.path.exists(self.path):
            raise AssertionError(
                f"_BatchSink at {self.path}: no batch ever wrote a row — "
                "the stream emitted nothing, which every judged streaming "
                "query treats as a failure, not an empty result"
            )
        return self.spark.read.parquet(self.path)

    def _materialize(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        df.count()
        return df

    def latest_per_key(self, key_cols: list[str], cols: list[str]) -> DataFrame:
        from reflex_spark.operators.upsert import latest_by_key

        return self._materialize(
            latest_by_key(self.read(), key_cols, "__bid").select(*key_cols, *cols)
        )

    def sum_per_key(self, key_cols: list[str], sums: dict[str, str]) -> DataFrame:
        """``sums`` maps output alias -> sink column summed over batches."""
        return self._materialize(
            self.read()
            .groupBy(*key_cols)
            .agg(*[F.sum(src).alias(dst) for dst, src in sums.items()])
        )


def _canonical_events(ev: DataFrame):
    """Map the fixture's string event types onto the canonical log schema
    (int event_type; 0 reserved for noops) with the double ``value`` riding
    the opaque metadata bytes (reference api.go:18 MetaData []byte).
    Returns (canonical_df with __orig_id, label→code dict). Java's
    double<->string round-trip is exact, so decimal rollup sums stay
    bit-identical to the oracle's."""
    labels = sorted(r[0] for r in ev.select("event_type").distinct().collect())
    code_of = {lbl: i + 1 for i, lbl in enumerate(labels)}
    type_code = F.lit(None).cast("int")
    for lbl, code in code_of.items():
        type_code = F.when(F.col("event_type") == lbl, code).otherwise(type_code)
    canonical = ev.select(
        type_code.alias("event_type"),
        F.col("user_id").cast("string").alias("foreign_id"),
        F.col("ts").cast("timestamp").alias("timestamp"),
        F.col("value").cast("string").cast("binary").alias("metadata"),
        F.lit(None).cast("binary").alias("trace"),
        F.col("event_id").alias("__orig_id"),
    )
    return canonical, code_of


def _label_back(code_of: dict):
    """Inverse of _canonical_events' type coding, as a Column."""
    label_col = F.lit(None).cast("string")
    for lbl, code in code_of.items():
        label_col = F.when(F.col("event_type") == code, lbl).otherwise(label_col)
    return label_col


@query(
    "stream_restart_rollup",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY event_type
    """,
)
def stream_restart_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged end-to-end Structured Streaming run WITH a checkpoint restart
    (reference cursor contract, rsql/cursorstable.go:46-53: a restarted
    consumer resumes exactly after its committed cursor).

    The fixture events are replayed into a real EventLog in two phases; the
    SAME checkpoint consumes both via ``run_stream`` (foreachBatch →
    incremental rollup merge). Between the phases the streaming query fully
    stops and restarts — the checkpoint's file ledger is the cursor. Any
    checkpoint defect shows up as lost phase-1 files (missing counts) or a
    re-read (the rollup's monotonic watermark would mask a re-read, but the
    watermark itself then proves delivery stayed in order). The oracle is
    the one-shot SQL aggregate over the same fixture.

    Value payloads ride the canonical schema's opaque ``metadata`` bytes
    (reference api.go:18 MetaData []byte): double → string → binary on
    append, and back on consume. Java's double<->string round-trip is exact,
    so the decimal rollup sum is bit-identical to the oracle's.
    """
    import shutil

    ev = load_tables(spark, sf_dir)["events"]
    canonical, code_of = _canonical_events(ev)
    mid = ev.agg(F.expr("percentile_approx(event_id, 0.5)")).collect()[0][0]

    from reflex_spark.sources.event_log import EventLog

    base = tempfile.mkdtemp(prefix="stream_restart_")
    log = EventLog(spark, f"{base}/log")
    mat = MaterializedCounts(
        spark, f"{base}/rollup", keys=["event_type"], value_col="value"
    )

    def consume(batch: DataFrame, meta: dict) -> None:
        mat.apply_batch(
            batch.withColumn("value", F.col("metadata").cast("string").cast("double")),
            meta,
        )

    spec = Spec(
        log,
        MemCursorStore(),
        Consumer("stream_restart", consume),
        StreamOptions(drop_noops=False),
    )
    ckpt = f"{base}/ckpt"
    try:
        # Phase 1: first half (two appends → two file sets), consume to head.
        half1 = canonical.where(F.col("__orig_id") <= mid).drop("__orig_id")
        log.append(half1.where(F.col("event_type") % 2 == 1))
        log.append(half1.where(F.col("event_type") % 2 == 0))
        run_stream(spec, ckpt, available_now=True)
        # Phase 2: append the rest as TWO appends (each append is one
        # part-file, so one file would mean one micro-batch), then RESTART
        # the stopped query on the same checkpoint; maxFilesPerTrigger=1
        # makes the resumed run genuinely multi-batch.
        half2 = canonical.where(F.col("__orig_id") > mid).drop("__orig_id")
        log.append(half2.where(F.col("event_type") % 2 == 1))
        log.append(half2.where(F.col("event_type") % 2 == 0))
        run_stream(spec, ckpt, available_now=True, max_files_per_trigger=1)

        out = mat.read().select(
            _label_back(code_of).alias("event_type"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sum_value").cast("double").alias("sum_value"),
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "stream_watermark_rollup",
    # The oracle REPLAYS Spark's watermark semantics, measured empirically
    # on this engine (see tests/test_streaming_windows.py watermark-rule
    # test): with per-file micro-batches, the late filter for batch k uses
    # the watermark computed from event time seen through batch k-2 (the
    # reported watermark itself lags one batch), and a row is dropped iff
    # its window END <= that cutoff (equality drops — verified at the
    # boundary). All ts math is CAST to microseconds: Spark truncates the
    # fixture's nanos to micros, and ntile order / cutoff comparisons must
    # agree to the exact tie.
    oracle=f"""
    WITH base AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value,
             (event_id % 23 = 0) AS late
      FROM events
    ),
    ontime AS (
      SELECT event_id, ts, value,
             ntile(2) OVER (ORDER BY ts, event_id) - 1 AS b
      FROM base WHERE NOT late
    ),
    batched AS (
      SELECT ts, value, b FROM ontime
      UNION ALL
      SELECT ts, value, 2 AS b FROM base WHERE late
    ),
    batch_max AS (SELECT b, MAX(ts) AS mx FROM batched GROUP BY b),
    phi AS (
      SELECT b,
             MAX(mx) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
               - INTERVAL 30 MINUTE AS cutoff
      FROM batch_max
    ),
    kept AS (
      SELECT bd.ts, bd.value
      FROM batched bd JOIN phi ON bd.b = phi.b
      WHERE phi.cutoff IS NULL
         OR date_trunc('hour', bd.ts) + INTERVAL 1 HOUR > phi.cutoff
    )
    SELECT date_trunc('hour', ts) AS window_start,
           COUNT(*) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM kept
    GROUP BY date_trunc('hour', ts)
    """,
)
def stream_watermark_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged event-time streaming with a REAL watermark and injected late
    data (VERDICT r3 #6; reference anchor: the lag/at-least-once contract,
    run.go:79-87 and README "Characteristics" — reflex delays delivery
    rather than dropping, so the watermark late-drop rule is the Spark-side
    dual of that contract and is pinned here end-to-end).

    Every 23rd fixture event is held back and appended LAST (the straggler
    batch); the on-time remainder is appended in two event-time halves so
    the watermark genuinely advances between micro-batches
    (maxFilesPerTrigger=1 → one batch per append, mtimes strictly ordered).
    The streaming query is withWatermark('timestamp', '30 minutes') →
    hourly tumbling window agg in update mode; stragglers whose window fell
    behind the watermark are dropped by Spark itself. The DuckDB oracle
    recomputes the same batch schedule and drop rule from first principles,
    so a hash match proves the engine's REAL late-data behavior, not a
    mock of it.

    The foreachBatch merge appends update-mode (cumulative) emissions to
    a parquet sink keyed by batch id; the final per-window row is the
    latest batch's — resolved distributed via ``_BatchSink``, driver O(1).
    """
    from reflex_spark.streaming.statestore import apply_state_store_conf

    apply_state_store_conf(spark)  # session/env-pinned provider (statestore.py)
    import shutil

    from pyspark.sql import Window

    from reflex_spark.sources.event_log import EventLog

    ev = load_tables(spark, sf_dir)["events"]
    late = F.col("event_id") % 23 == 0
    w = Window.orderBy("ts", "event_id")  # bounded fixture: single-pass ntile
    # materialize the ntile ONCE: each per-batch filter below would
    # otherwise replay the global-order window (r12: the three appends
    # were paying the sort 3x)
    ontime = ev.where(~late).withColumn("__b", F.ntile(2).over(w) - 1).localCheckpoint()
    parts = [
        ontime.where(F.col("__b") == 0),
        ontime.where(F.col("__b") == 1),
        ev.where(late),
    ]

    base = tempfile.mkdtemp(prefix="stream_wm_")
    log = EventLog(spark, f"{base}/log")
    # update-mode emissions are cumulative per window: latest batch wins,
    # resolved distributed from the sink (no driver-side window dict).
    sink = _BatchSink(spark, f"{base}/sink")
    merge = sink.writer()

    try:
        for p in parts:
            log.append(
                p.select(
                    F.lit(1).alias("event_type"),
                    F.col("user_id").cast("string").alias("foreign_id"),
                    F.col("ts").cast("timestamp").alias("timestamp"),
                    F.col("value").cast("string").cast("binary").alias("metadata"),
                    F.lit(None).cast("binary").alias("trace"),
                )
            )
        agg = (
            log.read_stream(max_files_per_trigger=1)
            .withColumn("value", F.col("metadata").cast("string").cast("double"))
            .withWatermark("timestamp", "30 minutes")
            .groupBy(F.window("timestamp", "1 hour"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            )
            .select(F.col("window.start").alias("window_start"), "n_events", "sum_value")
        )
        # State-partition sizing (SCALE_NOTES §29, made scale-adaptive in
        # r16): the store count is frozen from spark.sql.shuffle.partitions
        # at checkpoint CREATION, so it must be sized to the DATA — the
        # session default (32) commits 32 state stores per micro-batch for
        # KB of fixture state, and a hard-coded 8 is just a smaller wrong
        # constant at 100 TB. scaled_stream_shuffle derives the count from
        # the log's size (one partition per ~32 MB, capped at 4x cluster
        # width) and restores the session conf after the run.
        writer = agg.writeStream.outputMode("update").foreachBatch(merge)
        run_query(spark, writer, f"{base}/ckpt", "stream_watermark_rollup", 120, log.read())
        out = sink.latest_per_key(["window_start"], ["n_events", "sum_value"])
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "stream_sharded_rollup",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY event_type
    """,
)
def stream_sharded_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged end-to-end sharded-log consume (VERDICT r3 #7): the
    Kafka-partition scale-out model the reference README cites, proven the
    way stream_rollup_counts proves the single log.

    Fixture events are routed into a 3-shard ShardedEventLog by foreign_id
    hash (per-shard dense ids → per-key order, sharded_log.py); each shard
    is consumed by its OWN poll-loop Spec with its own cursor and its own
    MaterializedCounts rollup, in ~3 batches per shard (at-least-once,
    cursor store, batch limits — the full consume machinery per shard).
    The merged result re-aggregates the per-shard rollups; decimal sums
    make the shard merge bit-identical to the one-shot SQL aggregate, so
    the oracle catches any event lost to mis-routing, any double-consume,
    and any shard whose cursor skipped a batch.
    """
    import shutil

    from reflex_spark.sources.sharded_log import ShardedEventLog

    ev = load_tables(spark, sf_dir)["events"]
    canonical, code_of = _canonical_events(ev)

    n_shards = 3
    base = tempfile.mkdtemp(prefix="stream_sharded_")
    slog = ShardedEventLog(spark, f"{base}/log", n_shards=n_shards)
    try:
        slog.append(canonical.drop("__orig_id"), key_col="foreign_id")

        mats = []
        specs = []
        for m, shard in enumerate(slog.shards):
            mat = MaterializedCounts(
                spark, f"{base}/rollup/shard={m}", keys=["event_type"], value_col="value"
            )
            mats.append(mat)

            def consume(batch: DataFrame, meta: dict, _mat=mat) -> None:
                _mat.apply_batch(
                    batch.withColumn(
                        "value", F.col("metadata").cast("string").cast("double")
                    ),
                    meta,
                )

            head = shard.head()
            specs.append(
                Spec(
                    shard,
                    MemCursorStore(),
                    Consumer(f"sharded_rollup_{m}_of_{n_shards}", consume),
                    StreamOptions(
                        to_head=True,
                        batch_limit=max(1, head // 3 + 1),
                        drop_noops=False,
                    ),
                )
            )

        def consume_to_head(spec: Spec) -> None:
            try:
                run(spec)
            except ErrHeadReached:
                pass

        # The shards are INDEPENDENT consumers — own log, own cursor, own
        # rollup table — and in production each runs as its own process.
        # Driving them sequentially left the cluster idle through every
        # shard's per-batch control plane (guide §2.6: overlap independent
        # jobs so the next consumer's tasks back-fill the current one's
        # tail). Spark's scheduler runs concurrent driver-thread jobs
        # natively; shard state never crosses threads (distinct paths,
        # MemCursorStore per shard). Measured at sf0.1: 7.4s -> ~4s.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=n_shards) as pool:
            list(pool.map(consume_to_head, specs))

        merged = None
        for mat in mats:
            df = mat.read().select("event_type", "n_events", "sum_value")
            merged = df if merged is None else merged.unionByName(df)
        out = (
            merged.groupBy("event_type")
            .agg(
                F.sum(F.col("n_events").cast("long")).alias("n_events"),
                # per-shard sums are decimal-exact; their merge re-enters
                # decimal so the 3-way shard split can't perturb the total
                F.sum(F.col("sum_value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            )
            .select(
                _label_back(code_of).alias("event_type"),
                "n_events",
                "sum_value",
            )
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "tx_merge_orders",
    # Oracle replays the MERGE from first principles: latest row per key
    # (version desc, then the deterministic remaining-column tie-break of
    # latest_by_key) over base UNION updates, then the rollup aggregate.
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price, 1 AS ver
      FROM orders
    ),
    updates AS (
      SELECT o_orderkey AS k, 'R' AS status, o_totalprice * 1.1 AS price, 2 AS ver
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 1000000000 AS k, 'N' AS status, o_totalprice AS price, 1 AS ver
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    merged AS (
      SELECT k, status, price FROM (
        SELECT k, status, price,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY ver DESC, status DESC, price DESC) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM updates))
      WHERE rn = 1
    )
    SELECT status, COUNT(*) AS n_orders, {sql_dsum('price', 'sum_price')}
    FROM merged GROUP BY status
    """,
)
def tx_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged MERGE INTO on the transactional table (round 4): append the
    orders fixture to a TxTable, merge a deterministic update set (every
    7th key re-priced + re-statused at a higher version; every 13th key
    offset to an unmatched key → insert), then aggregate the merged
    snapshot. The oracle recomputes the merge in SQL, so a hash match
    proves the commit log + copy-on-write file rewrite produced exactly
    the rows MERGE INTO semantics demand — no lost updates, no stale
    winners, no dropped inserts.
    """
    import shutil

    from reflex_spark.sources.tx_table import TxTable

    orders = load_tables(spark, sf_dir)["orders"]
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(1).alias("ver"),
    )
    updates = (
        orders.where(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.lit("R").alias("status"),
            (F.col("o_totalprice") * 1.1).alias("price"),
            F.lit(2).alias("ver"),
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 1000000000).alias("k"),
                F.lit("N").alias("status"),
                F.col("o_totalprice").alias("price"),
                F.lit(1).alias("ver"),
            )
        )
    )
    base_dir = tempfile.mkdtemp(prefix="tx_merge_")
    try:
        t = TxTable(spark, f"{base_dir}/orders")
        t.append(base)
        t.merge_by_key(updates, ["k"], "ver")
        out = (
            t.read()
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("price").cast("decimal(18,6)")).cast("double").alias("sum_price"),
            )
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return out


@query(
    "stream_stateful_sessions",
    # Classic lag-gap sessionization: a user starts a new session when the
    # gap since their previous event exceeds 30 minutes (strict >). The
    # streaming side recomputes this with CUSTOM per-user state
    # (applyInPandasWithState) over time-ordered micro-batches; equal
    # timestamps give gap 0, so batch-boundary ties cannot change the
    # session count and the result is deterministic.
    oracle="""
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    s AS (
      SELECT user_id,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM e)
    SELECT user_id,
           CAST(SUM(new_s) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id
    """,
)
def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming with a FULL SQL oracle: per-user
    sessionization (30-minute inactivity gap) computed by
    applyInPandasWithState — state = (last event ns, session count, event
    count) per user — over three time-ordered micro-batches, update-mode
    emissions overwrite-merged per user. The reference's stateful-consumer
    surface (SURVEY §2.2) judged end-to-end, not just pytest-smoke: the
    hash check proves the state store, batch boundaries, and the pandas
    state fn reproduce the exact lag-gap SQL semantics."""
    import os
    import shutil

    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from reflex_spark.sources.event_log import stamp_commit_order
    from reflex_spark.streaming.statestore import apply_state_store_conf

    apply_state_store_conf(spark)  # session/env-pinned provider (statestore.py)

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id"
    )
    w = Window.orderBy("ts", "event_id")
    # cached: the 3 per-batch writes below each filter this frame; an
    # uncached plan re-runs the scan + global ntile sort once per write
    parts = ev.withColumn("__b", F.ntile(3).over(w)).cache()
    base = tempfile.mkdtemp(prefix="stream_sess_")
    src = f"{base}/in"
    try:
        # Pin file-source batch order without wall-clock sleeps: the file
        # source processes files oldest-mtime-first, so each batch's new
        # files get the logical mtime of seq=b (SCALE_NOTES §24).
        seen: set[str] = set()
        for b in (1, 2, 3):  # strictly time-ordered batches
            parts.where(F.col("__b") == b).select("user_id", "ts").coalesce(
                1
            ).write.mode("append").parquet(src)
            new = {f for f in os.listdir(src) if f.startswith("part-")} - seen
            stamp_commit_order([os.path.join(src, f) for f in new], b)
            seen |= new
        parts.unpersist()  # batches are on disk; free before the stream

        GAP_NS = 30 * 60 * 1_000_000_000

        def update(key, pdfs, state: GroupState):
            last_ns, sessions, events = (
                state.get if state.exists else (-1, 0, 0)
            )
            # normalize to ns regardless of the Arrow-side unit (pandas 2
            # may deliver datetime64[us]; int64 of that would be microseconds)
            ts_ns = (
                pd.concat(list(pdfs))["ts"]
                .sort_values()
                .astype("datetime64[ns]")
                .astype("int64")
            )
            for t in ts_ns:
                if last_ns < 0 or t - last_ns > GAP_NS:
                    sessions += 1
                last_ns = int(t)
                events += 1
            state.update((last_ns, sessions, events))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_sessions": [sessions], "n_events": [events]}
            )

        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy("user_id")
            .applyInPandasWithState(
                update,
                "user_id long, n_sessions long, n_events long",
                "last_ns long, sessions long, events long",
                "update",
                GroupStateTimeout.NoTimeout,
            )
        )
        # Update-mode emissions land in a KEYED PARQUET SINK, not a driver
        # dict: active users are data-plane-sized at 100 TB, so the driver
        # must stay O(1). Each batch appends with its batch id; the final
        # per-user row is resolved distributed (latest batch wins) — the
        # MaterializedCounts upsert posture, driver never holds the keys.
        sink = _BatchSink(spark, f"{base}/sink")

        # Data-sized state partitioning (statestore.scaled_stream_shuffle)
        # with the Python-stage floor: the per-user state is KBs, but the
        # state fn is per-group Python — one partition would serialize
        # every group through a single worker (see python_state_floor —
        # cores-derived, r17).
        writer = agg.writeStream.outputMode("update").foreachBatch(sink.writer())
        floor = python_state_floor(spark)
        run_query(spark, writer, f"{base}/ckpt", "stream_stateful_sessions", 120, ev, floor=floor)
        return sink.latest_per_key(["user_id"], ["n_sessions", "n_events"])
    finally:
        parts.unpersist()  # idempotent; covers the exception path too
        shutil.rmtree(base, ignore_errors=True)


@query(
    "cdc_rollup",
    # The full reference loop — table commits → CDC events → consumer
    # projection (doc.go:7 "tables emit events"; rsql/db.go binlog-shaped
    # event tables) — judged end-to-end: the Spark side reconstructs the
    # table's final state FROM THE PUBLISHED EVENT FEED ONLY (last event
    # per key wins; insert/update_postimage = live, delete = dead), while
    # the oracle computes the same state declaratively from orders. A hash
    # match proves publish_changes emitted exactly one correctly-typed,
    # correctly-ordered event stream for the merge window.
    oracle="""
    WITH final AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 2 = 0 THEN 'U' ELSE o_orderstatus END AS status
      FROM orders
      WHERE o_orderkey % 3 <> 0 OR o_orderkey % 2 = 0
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
    FROM final
    GROUP BY status
    """,
)
def cdc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture rollup: seed a TxTable from orders (keys with
    k % 3 != 0), MERGE an update set (all even keys, status 'U'), publish
    both version windows through the CDC bridge into an EventLog — update
    pre/post-images typed and ordered within one commit — then rebuild
    the live-row set purely from the event feed and aggregate it. Every
    step (commit log, change feed multiset diff, event typing, dense id
    ordering, JSON metadata round-trip) is load-bearing for the hash."""
    import shutil
    from datetime import datetime

    from pyspark.sql import Window

    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.sources.tx_table import TxTable
    from reflex_spark.streaming.cdc import (
        CDC_DELETE_TYPE,
        CDC_UPDATE_PRE_TYPE,
        publish_changes_many,
    )

    orders = load_tables(spark, sf_dir)["orders"]
    base = orders.where(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.lit(1).alias("ver"),
    )
    updates = orders.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("U").alias("status"),
        F.lit(2).alias("ver"),
    )
    base_dir = tempfile.mkdtemp(prefix="cdc_rollup_")
    try:
        t = TxTable(spark, f"{base_dir}/t")
        log = EventLog(spark, f"{base_dir}/log")
        v0 = t.append(base)
        v1 = t.merge_by_key(updates, ["k"], "ver")
        # both windows are committed before either publishes: overlap
        # their change-feed jobs, appends stay in window order (§2.6;
        # byte-identical log to two sequential publish_changes calls)
        publish_changes_many(
            t,
            log,
            "k",
            [
                (-1, v0, datetime(2024, 1, 1)),
                (v0, v1, datetime(2024, 1, 2)),
            ],
        )

        ev = log.read().select(
            "event_id",
            "event_type",
            F.get_json_object(F.col("metadata").cast("string"), "$.k")
            .cast("long")
            .alias("k"),
            F.get_json_object(F.col("metadata").cast("string"), "$.status").alias(
                "status"
            ),
        )
        last = ev.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("k").orderBy(F.col("event_id").desc())
            ),
        ).where(F.col("__rn") == 1)
        live = last.where(
            ~F.col("event_type").isin(CDC_DELETE_TYPE, CDC_UPDATE_PRE_TYPE)
        )
        out = live.groupBy("status").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("k").alias("sum_keys"),
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return out


@query(
    "blob_source_rollup",
    # The Spark side writes the bucket, prunes the first day via the
    # after_key cursor AT PLANNING TIME, and aggregates what the custom
    # format yields; the oracle recomputes the same rollup declaratively
    # with the same day>min(day) cut.
    oracle="""
    WITH e AS (SELECT event_type, value,
                      strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
               FROM events),
    mn AS (SELECT MIN(day) AS d FROM e)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
    FROM e, mn
    WHERE e.day > mn.d
    GROUP BY event_type
    """,
)
def blob_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blob bucket as a REGISTERED SPARK FORMAT (Spark 4 Python
    DataSource API, sources/blob_datasource.py; reference rblob/blob.go):
    events are laid out as date-partitioned JSON blobs, then read back
    with ``format("reflex_blob")`` — one input partition per blob, and
    the ``after_key`` cursor pruning the entire first day's blobs at
    planning time (the reference's resume contract expressed as skip-
    files, not read-and-filter). The rollup over what the custom scan
    yields is hash-checked against the declarative oracle, so listing
    order, pruning boundary, JSON round-trip and partition parallelism
    are all load-bearing."""
    import shutil

    from reflex_spark.sources.blob_datasource import register

    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("day"),
    )
    min_day = ev.agg(F.min("day")).collect()[0][0]  # control-plane scalar
    base = tempfile.mkdtemp(prefix="blob_ds_")
    try:
        bucket = f"{base}/bucket"
        ev.repartition("day").write.partitionBy("day").json(bucket)
        register(spark)
        blobs = (
            spark.read.format("reflex_blob")
            .option("path", bucket)
            .option("after_key", f"day={min_day}/zzzz")
            .option("day_from_dir", "true")
            .option(
                "schema",
                "event_id long, user_id long, event_type string, "
                "value double, day string",
            )
            .load()
        )
        out = blobs.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            F.countDistinct("day").alias("n_days"),
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "blob_stream_rollup",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY event_type
    """,
)
def blob_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reflex_blob STREAMING reader judged end-to-end WITH a restart:
    events land as date-partitioned JSON blobs in two phases; the same
    checkpoint consumes both (offsets = blob keys, so phase 2 reads only
    the new blobs while the checkpointed aggregation state carries the
    phase-1 counts). The final rollup must equal the one-shot SQL
    aggregate — blob listing order, key offsets, restart resume, JSON
    round-trip and streaming-state recovery are all load-bearing.
    Update-mode emissions merge into a keyed parquet sink (driver O(1))."""
    import shutil

    from reflex_spark.operators.upsert import latest_by_key
    from reflex_spark.sources.blob_datasource import register
    from reflex_spark.streaming.statestore import apply_state_store_conf

    apply_state_store_conf(spark)  # session/env-pinned provider (statestore.py)

    ev = load_tables(spark, sf_dir)["events"].select(
        "event_type",
        "value",
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("day"),
    )
    days = sorted(r["day"] for r in ev.select("day").distinct().collect())
    cut = days[max(0, len(days) // 2 - 1)]
    base = tempfile.mkdtemp(prefix="blob_stream_")
    bucket, sink, ckpt = f"{base}/bucket", f"{base}/sink", f"{base}/ckpt"
    register(spark)

    def run_phase(phase_df) -> None:
        phase_df.repartition("day").write.mode("append").partitionBy("day").json(
            bucket
        )
        stream = (
            spark.readStream.format("reflex_blob")
            .option("path", bucket)
            .option("schema", "event_type string, value double, day string")
            .load()
        )
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )

        def merge(bdf: DataFrame, bid: int) -> None:
            bdf.withColumn("__bid", F.lit(bid)).write.mode("append").parquet(sink)

        # data-sized state partitioning (see statestore module note);
        # deterministic across both phases, so the checkpoint-pinned
        # count the resumed phase restores matches what it derives
        writer = agg.writeStream.outputMode("update").foreachBatch(merge)
        run_query(spark, writer, ckpt, "blob_stream_rollup", 120, ev)

    try:
        run_phase(ev.where(F.col("day") <= cut))
        run_phase(ev.where(F.col("day") > cut))  # same checkpoint: resume
        final = (
            latest_by_key(spark.read.parquet(sink), ["event_type"], "__bid")
            .select("event_type", "n_events", "sum_value")
            .persist()
        )
        final.count()
        return final
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "stream_dedup_rollup",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged end-to-end streaming DEDUPLICATION (round 8): the fixture
    events are replayed into a real EventLog three times over — the full
    set, then every 3rd event again, then every 5th event again (so some
    events arrive 3×, across DIFFERENT micro-batches:
    maxFilesPerTrigger=1 keeps each append its own batch) — and the
    streaming query's ``dropDuplicates`` on the ORIGINAL event id (ridden
    in foreign_id; the log assigns fresh dense ids to the replays) must
    deliver every event exactly once. The oracle is the one-shot
    aggregate over the fixture: any duplicate that leaks inflates a
    count and fails the hash; any over-drop deflates it.

    State posture: exact streaming dedup state is O(distinct keys) — the
    canonical case for the RocksDB provider (SCALE_NOTES §20: 4M keys
    under a 600m heap), and this query runs under whatever provider
    ``apply_state_store_conf`` pins. No watermark is set DELIBERATELY:
    the replays carry old event times, so a watermark would expire their
    dedup state and let duplicates through — bounded-state dedup is only
    sound when duplicates arrive within the lateness bound."""
    from reflex_spark.streaming.statestore import apply_state_store_conf

    apply_state_store_conf(spark)
    import shutil

    from reflex_spark.sources.event_log import EventLog

    ev = load_tables(spark, sf_dir)["events"]
    labels = sorted(r[0] for r in ev.select("event_type").distinct().collect())
    code_of = {lbl: i + 1 for i, lbl in enumerate(labels)}
    type_code = F.lit(None).cast("int")
    for lbl, code in code_of.items():
        type_code = F.when(F.col("event_type") == lbl, code).otherwise(type_code)
    canonical = ev.select(
        type_code.alias("event_type"),
        F.col("event_id").cast("string").alias("foreign_id"),  # dedup key
        F.col("ts").cast("timestamp").alias("timestamp"),
        F.col("value").cast("string").cast("binary").alias("metadata"),
        F.lit(None).cast("binary").alias("trace"),
        F.col("event_id").alias("__orig_id"),
    )

    base = tempfile.mkdtemp(prefix="stream_dedup_")
    log = EventLog(spark, f"{base}/log")
    # per-batch partial aggregate inside foreachBatch; batch deltas fold
    # by (exact decimal) summation at resolve time — no driver dict.
    sink = _BatchSink(spark, f"{base}/sink")
    merge = sink.writer(
        lambda bdf: bdf.withColumn(
            "value", F.col("metadata").cast("string").cast("double")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
        )
    )

    try:
        for part in (
            canonical,
            canonical.where(F.col("__orig_id") % 3 == 0),
            canonical.where(F.col("__orig_id") % 5 == 0),
        ):
            log.append(part.drop("__orig_id"))
        deduped = log.read_stream(max_files_per_trigger=1).dropDuplicates(
            ["foreign_id"]
        )
        # State-partition sizing is a deliberate knob, not an accident:
        # the store count is frozen from spark.sql.shuffle.partitions at
        # checkpoint CREATION, and a plain 200-partition session would
        # mint 200 state stores per micro-batch for KB of fixture state
        # (r11: state-store commit cost scales with store count; r16:
        # derived from the log's size instead of a hard-coded 8 — at
        # 100 TB the same formula sizes UP with data volume).
        writer = deduped.writeStream.foreachBatch(merge)
        run_query(spark, writer, f"{base}/ckpt", "stream_dedup_rollup", 120, log.read())
        label_of = {code: lbl for lbl, code in code_of.items()}
        decode = F.create_map(
            *[F.lit(x) for code, lbl in sorted(label_of.items()) for x in (code, lbl)]
        )
        out = (
            sink.sum_per_key(["event_type"], {"n_events": "n", "sum_value": "s"})
            .select(
                decode[F.col("event_type")].alias("event_type"),
                F.col("n_events").cast("long").alias("n_events"),
                F.col("sum_value").cast("double").alias("sum_value"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "stream_stream_join_attribution",
    oracle="""
    SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    GROUP BY c.user_id
    """,
)
def stream_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged STREAM-STREAM interval join — the symmetric stateful-join
    operator (Spark's StreamingSymmetricHashJoin), distinct from every
    aggregation-state entry: clicks and purchases are replayed into TWO
    real EventLogs, each in two micro-batches (maxFilesPerTrigger=1), and
    the streaming query inner-joins them on user with the event-time
    band `click.ts ∈ [purchase.ts − 1h, purchase.ts]` — click→purchase
    attribution pairs. Matches whose two sides arrive in DIFFERENT
    micro-batches only exist if the join state buffers correctly; the
    oracle is the one-shot batch interval join, so a lost or duplicated
    buffered match fails the hash.

    Both sides carry watermarks (event-time + 14 days — the fixture
    replay delivers old timestamps, so the bound must cover the replay
    skew; in production the delay matches real arrival skew and bounds
    state). Append-mode inner join emits each match exactly once. Runs
    under the pinned state-store provider — two per-key join-state
    stores is exactly the RocksDB posture's case (SCALE_NOTES §20)."""
    from reflex_spark.streaming.statestore import apply_state_store_conf

    apply_state_store_conf(spark)
    import shutil

    from reflex_spark.sources.event_log import EventLog

    ev = load_tables(spark, sf_dir)["events"]

    def canonical(kind: str) -> DataFrame:
        return ev.where(F.col("event_type") == kind).select(
            F.lit(1).alias("event_type"),
            F.col("user_id").cast("string").alias("foreign_id"),
            F.col("ts").cast("timestamp").alias("timestamp"),
            F.lit(None).cast("binary").alias("metadata"),
            F.lit(None).cast("binary").alias("trace"),
            F.col("event_id").alias("__orig_id"),
        )

    base = tempfile.mkdtemp(prefix="stream_ssj_")
    clog = EventLog(spark, f"{base}/clicks")
    plog = EventLog(spark, f"{base}/purchases")
    sink = _BatchSink(spark, f"{base}/sink")
    merge = sink.writer(
        lambda bdf: bdf.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    )

    try:
        for kind, log in (("click", clog), ("purchase", plog)):
            c = canonical(kind)
            mid = c.agg(F.expr("percentile_approx(__orig_id, 0.5)")).collect()[0][0]
            log.append(c.where(F.col("__orig_id") <= mid).drop("__orig_id"))
            log.append(c.where(F.col("__orig_id") > mid).drop("__orig_id"))
        cs = (
            clog.read_stream(max_files_per_trigger=1)
            .withWatermark("timestamp", "14 days")
            .select(
                F.col("foreign_id").alias("c_user"),
                F.col("timestamp").alias("c_ts"),
            )
        )
        ps = (
            plog.read_stream(max_files_per_trigger=1)
            .withWatermark("timestamp", "14 days")
            .select(
                F.col("foreign_id").alias("p_user"),
                F.col("timestamp").alias("p_ts"),
            )
        )
        joined = cs.join(
            ps,
            F.expr(
                "c_user = p_user AND "
                "c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
            ),
        ).select(F.col("c_user").cast("long").alias("user_id"))
        # same data-sized state partitioning as stream_dedup_rollup: two
        # join-state stores per batch x the partition count — derived from
        # the log size (r11 measured commit cost scaling with store count;
        # r16 replaced the hard-coded 8 with the size-derived count).
        writer = joined.writeStream.foreachBatch(merge)
        run_query(spark, writer, f"{base}/ckpt", "stream_stream_join_attribution", 180, clog.read())
        out = sink.sum_per_key(["user_id"], {"n_pairs": "n"})
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "stream_cdc_scd2_history",
    # The reference-faithful end-to-end composition (VERDICT r8 #1):
    # "events are pointers to state changes of mutable data" (doc.go:7).
    # Three TxTable commits (seed, merge-update, delete) publish typed
    # CDC windows into an EventLog; a STREAMING consumer maintains a
    # type-2 dimension across micro-batches (foreachBatch + SCD2 MERGE
    # — close the superseded version, open the new one); the oracle
    # computes the expected version intervals declaratively from the
    # deterministic change schedule. Any lost/duplicated/misordered
    # event, broken merge, or failed checkpoint resume changes a
    # validity interval and fails the hash.
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             (o_orderkey % 3) <> 0 AS in_base,
             (o_orderkey % 2) = 0 AS updated,
             (o_orderkey % 5) = 0 AS del5
      FROM orders),
    r1 AS (
      SELECT k, status, DATE '2024-01-01' AS valid_from,
             CASE WHEN updated THEN DATE '2024-02-01'
                  WHEN del5 THEN DATE '2024-03-01'
                  ELSE NULL END AS valid_to
      FROM base WHERE in_base),
    r2 AS (
      SELECT k, 'U' AS status, DATE '2024-02-01' AS valid_from,
             CASE WHEN del5 THEN DATE '2024-03-01' ELSE NULL END AS valid_to
      FROM base WHERE updated)
    SELECT k, status, valid_from, valid_to FROM r1
    UNION ALL
    SELECT k, status, valid_from, valid_to FROM r2
    """,
)
def stream_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC → SCD2 dimension maintenance, judged end-to-end.

    Change history (all deterministic functions of o_orderkey):
      w1 @2024-01-01  seed keys k%3!=0 with status=o_orderstatus;
      w2 @2024-02-01  MERGE all even keys → status 'U' (update for keys
                      in the seed, insert for the rest);
      w3 @2024-03-01  DELETE keys k%5==0 (TxTable.delete_by_key — the
                      third CDC verb).
    Each window publishes through the CDC bridge as ONE EventLog commit
    (typed insert/delete/update-pre/update-post, dense ordered ids).

    The streaming side consumes the feed with maxFilesPerTrigger=1 (one
    micro-batch per window) and maintains the dimension as a TxTable
    keyed (k, valid_from): every non-pre-image event CLOSES the key's
    open version (valid_to = event time) via a churn-sized join against
    the open rows, and insert/update-post events OPEN a new version —
    one MERGE per batch, rev = the dense event id, so replayed windows
    (at-least-once) lose to the rows they already produced and the
    maintenance is idempotent. This is the canonical production shape:
    stateless streaming + transactional MERGE, state lives in the
    dimension table itself, O(churn) per batch never O(dimension).

    Checkpoint-restart chaos: the stream runs availableNow over w1+w2,
    finishes, then w3 is published and a NEW query resumes from the
    same checkpoint — it must process EXACTLY the one new window
    (asserted in-query: a replay of w1/w2 or a skipped w3 raises).
    Runs under the pinned state-store provider like every streaming
    entry. Final dimension rows (k, status, valid_from, valid_to) cast
    to DATE; the oracle replays the schedule per key residue."""
    import shutil
    from datetime import datetime

    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.sources.tx_table import TxTable
    from reflex_spark.streaming.cdc import (
        CDC_INSERT_TYPE,
        CDC_UPDATE_POST_TYPE,
        CDC_UPDATE_PRE_TYPE,
        publish_changes,
        publish_changes_many,
    )
    from reflex_spark.streaming.statestore import apply_state_store_conf

    apply_state_store_conf(spark)
    orders = load_tables(spark, sf_dir)["orders"]
    base_dir = tempfile.mkdtemp(prefix="stream_scd2_")
    dim_path = f"{base_dir}/dim"
    data_batches: list[int] = []

    def apply_scd2(batch_df: DataFrame, bid: int) -> None:
        b = (
            batch_df.where(F.col("event_type") != CDC_UPDATE_PRE_TYPE)
            .select(
                "event_id",
                "event_type",
                F.col("timestamp").alias("ts"),
                F.get_json_object(F.col("metadata").cast("string"), "$.k")
                .cast("long")
                .alias("k"),
                F.get_json_object(
                    F.col("metadata").cast("string"), "$.status"
                ).alias("status"),
            )
            .localCheckpoint()
        )
        if b.isEmpty():
            return
        data_batches.append(bid)
        dim = TxTable(spark, dim_path)
        new_opens = b.where(
            F.col("event_type").isin(CDC_INSERT_TYPE, CDC_UPDATE_POST_TYPE)
        ).select(
            "k",
            "status",
            F.col("ts").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.col("event_id").alias("rev"),
        )
        if dim.latest_version() >= 0:
            open_rows = dim.read().where(F.col("valid_to").isNull())
            closes = open_rows.select("k", "status", "valid_from").join(
                b.select("k", "ts", "event_id"), "k"
            ).select(
                "k",
                "status",
                "valid_from",
                F.col("ts").alias("valid_to"),
                F.col("event_id").alias("rev"),
            )
            ups = new_opens.unionByName(closes)
        else:
            ups = new_opens
        dim.merge_by_key(ups, ["k", "valid_from"], "rev")

    try:
        t = TxTable(spark, f"{base_dir}/t")
        log = EventLog(spark, f"{base_dir}/log")
        seed = orders.where(F.col("o_orderkey") % 3 != 0).select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.lit(1).alias("ver"),
        )
        updates = orders.where(F.col("o_orderkey") % 2 == 0).select(
            F.col("o_orderkey").alias("k"),
            F.lit("U").alias("status"),
            F.lit(2).alias("ver"),
        )
        v0 = t.append(seed)
        v1 = t.merge_by_key(updates, ["k"], "ver")
        # both windows are committed before either publishes: overlap
        # their change-feed jobs, appends stay in window order (§2.6;
        # byte-identical log to two sequential publish_changes calls).
        # w3 (the delete) depends on the phase-A stream having finished
        # first — that one stays a lone publish_changes below.
        publish_changes_many(
            t,
            log,
            "k",
            [
                (-1, v0, datetime(2024, 1, 1)),
                (v0, v1, datetime(2024, 2, 1)),
            ],
        )

        def run_phase(timeout: int) -> None:
            # size the per-batch MERGE shuffles to the feed (statestore
            # module note); the stream itself is stateless, but every
            # foreachBatch merge pays the batch-side shuffle count
            writer = log.read_stream(max_files_per_trigger=1).writeStream.foreachBatch(apply_scd2)
            run_query(spark, writer, f"{base_dir}/ckpt", "stream_cdc_scd2_history", timeout, log.read())

        run_phase(120)
        n_phase_a = len(data_batches)
        if n_phase_a != 2:
            raise AssertionError(
                f"phase A must see w1+w2 as 2 micro-batches, saw {n_phase_a}"
            )
        # -- chaos: the query is gone; publish the delete window and
        # resume a NEW query from the same checkpoint.
        del_keys = orders.where(F.col("o_orderkey") % 5 == 0).select(
            F.col("o_orderkey").alias("k")
        )
        v2 = t.delete_by_key(del_keys, ["k"])
        publish_changes(t, log, "k", v1, v2, at=datetime(2024, 3, 1))
        run_phase(120)
        if len(data_batches) != n_phase_a + 1:
            raise AssertionError(
                "checkpoint resume must process EXACTLY the one new "
                f"window; data batches = {data_batches}"
            )
        out = (
            TxTable(spark, dim_path)
            .read()
            .select(
                "k",
                "status",
                F.col("valid_from").cast("date").alias("valid_from"),
                F.col("valid_to").cast("date").alias("valid_to"),
            )
            .localCheckpoint()  # materialize before temp-dir cleanup
        )
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return out


@query(
    "stream_stream_left_join",
    # The LEFT OUTER stream-stream interval join (VERDICT r8 #2) — the
    # operator whose semantics genuinely differ from the judged inner
    # form: an unmatched click may only emit its null-padded row once
    # the watermark passes its eviction bound (c_ts + 1h), so the
    # null rows' VALUES and their TIMING both depend on state eviction
    # being correct. Oracle = the one-shot batch left join.
    oracle="""
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT c.user_id,
           CAST(COUNT(p.user_id) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN p.user_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unmatched
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id
     AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 1 HOUR
    GROUP BY c.user_id
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged stream-stream LEFT OUTER interval join: clicks left-joined
    to purchases on user with the band `p_ts ∈ [c_ts, c_ts + 1h]`, both
    sides replayed through real EventLogs in TWO time-ordered
    micro-batches (split at the corpus ts median, maxFilesPerTrigger=1)
    plus a far-future sentinel batch.

    Why this is a different operator from the judged inner join
    (`stream_stream_join_attribution`): the inner form only ever emits
    rows both of whose sides exist; correctness is "state buffers
    matches". The left-outer form must ALSO emit a null-padded row for
    every click that never matches — and Spark may only emit it once
    the global watermark passes the click's eviction bound (no future
    purchase can land in [c_ts, c_ts+1h]), the classic outer-join
    correctness trap. Mechanics this query pins:

    - time-ordered splits + a 1-minute watermark delay make the
      watermark ADVANCE between micro-batches (the inner query's
      14-day delay would freeze it and no null row would ever emit);
    - one sentinel event per side at max(ts) + 30 days (user −1,
      filtered from the result) pushes the final watermark past every
      real click's eviction bound, and availableNow's closing no-data
      micro-batch performs the final eviction — prototyped: without
      the sentinel, every unmatched click in the last hour of the
      range would be silently dropped and the hash would fail;
    - the in-query assertion requires every null-padded row to emit in
      micro-batch ≥ 1 (batch 0 starts at the epoch watermark, so a
      null row there would mean broken eviction) and at least one to
      emit at batch ≥ 2 — i.e. after BOTH its own arrival batch and
      the data batches entirely — proving null emission crossed a
      micro-batch boundary, the verdict's required evidence.

    The oracle is the one-shot batch left join: a null row emitted
    early (row still matchable), late (dropped by shutdown), or twice
    changes (user_id, n_matched, n_unmatched) and fails the hash.
    Runs under the pinned state-store provider; join state is two
    per-key stores exactly as SCALE_NOTES §20 argues. State partitions
    pinned to 8 like every stateful entry (SCALE_NOTES §29: store-commit
    cost scales with store count; KB of fixture state)."""
    import shutil

    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.streaming.statestore import apply_state_store_conf

    apply_state_store_conf(spark)
    ev = load_tables(spark, sf_dir)["events"]
    mid_ts, max_ts = (
        ev.agg(
            F.expr("percentile_approx(CAST(ts AS TIMESTAMP), 0.5)"),
            F.max(F.col("ts").cast("timestamp")),
        ).collect()[0]
    )

    def canonical(kind: str) -> DataFrame:
        return ev.where(F.col("event_type") == kind).select(
            F.lit(1).alias("event_type"),
            F.col("user_id").cast("string").alias("foreign_id"),
            F.col("ts").cast("timestamp").alias("timestamp"),
            F.lit(None).cast("binary").alias("metadata"),
            F.lit(None).cast("binary").alias("trace"),
        )

    base = tempfile.mkdtemp(prefix="stream_ssloj_")
    clog = EventLog(spark, f"{base}/clicks")
    plog = EventLog(spark, f"{base}/purchases")
    sent = spark.range(1).select(
        F.lit(1).alias("event_type"),
        F.lit("-1").alias("foreign_id"),
        (F.lit(max_ts) + F.expr("INTERVAL 30 DAYS")).alias("timestamp"),
        F.lit(None).cast("binary").alias("metadata"),
        F.lit(None).cast("binary").alias("trace"),
    )
    sink = _BatchSink(spark, f"{base}/sink")
    merge = sink.writer(
        lambda bdf: bdf.where(F.col("c_user") != "-1")
        .groupBy("c_user")
        .agg(
            F.count("p_user").alias("m"),
            F.sum(F.when(F.col("p_user").isNull(), 1).otherwise(0)).alias("u"),
        )
    )

    try:
        for kind, log in (("click", clog), ("purchase", plog)):
            c = canonical(kind)
            log.append(c.where(F.col("timestamp") <= F.lit(mid_ts)))
            log.append(c.where(F.col("timestamp") > F.lit(mid_ts)))
            log.append(sent)
        cs = (
            clog.read_stream(max_files_per_trigger=1)
            .withWatermark("timestamp", "1 minute")
            .select(
                F.col("foreign_id").alias("c_user"),
                F.col("timestamp").alias("c_ts"),
            )
        )
        ps = (
            plog.read_stream(max_files_per_trigger=1)
            .withWatermark("timestamp", "1 minute")
            .select(
                F.col("foreign_id").alias("p_user"),
                F.col("timestamp").alias("p_ts"),
            )
        )
        joined = cs.join(
            ps,
            F.expr(
                "c_user = p_user AND "
                "p_ts BETWEEN c_ts AND c_ts + INTERVAL 1 HOUR"
            ),
            "leftOuter",
        ).select("c_user", "p_user")
        # data-sized join-state partitioning (see statestore module note)
        writer = joined.writeStream.foreachBatch(merge)
        run_query(spark, writer, f"{base}/ckpt", "stream_stream_left_join", 240, clog.read())
        # watermark-timing probe, resolved from the sink's batch ids
        # (distributed min/max over the rows that carried null padding)
        null_batches = sorted(
            r["__bid"]
            for r in sink.read()
            .where(F.col("u") > 0)
            .select("__bid")
            .distinct()
            .collect()  # bounded: one row per micro-batch id
        )
        if null_batches and min(null_batches) < 1:
            raise AssertionError(
                "null-padded rows emitted in micro-batch 0 — eviction "
                "fired under the epoch watermark, which is impossible "
                f"for correct state timing (null batches: {null_batches})"
            )
        if not null_batches or max(null_batches) < 2:
            raise AssertionError(
                "no null-padded row crossed a micro-batch boundary past "
                "the data batches — the watermark-timed emission this "
                f"query exists to prove (null batches: {null_batches})"
            )
        out = sink.sum_per_key(["c_user"], {"n_matched": "m", "n_unmatched": "u"}).select(
            F.col("c_user").cast("long").alias("user_id"),
            "n_matched",
            "n_unmatched",
        )
        out = out.persist()
        out.count()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "stream_bottomk_quantiles_rollup",
    # The mergeable-sketch x streaming composition: a bottom-k sample
    # sketch MAINTAINED ACROSS MICRO-BATCHES must equal the one-shot
    # batch sketch EXACTLY — bottom-k is a semilattice, so incremental
    # merge loses nothing, and the oracle is the same direct whole-
    # corpus SQL as the batch twin (events_sample_bottomk_quantiles).
    # This is the rollup story end-to-end: per-batch partial sketches,
    # k-row state, exact any-time quantile answers.
    oracle="""
    WITH s AS (
      SELECT value, event_id,
             ROW_NUMBER() OVER (
               ORDER BY CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                             1, 13)) AS BIGINT), event_id
             ) AS hr
      FROM events),
    samp AS (SELECT value, event_id FROM s WHERE hr <= 256),
    r AS (SELECT value,
                 ROW_NUMBER() OVER (ORDER BY value, event_id) AS vr
          FROM samp)
    SELECT CAST(COUNT(*) AS BIGINT) AS k_sample,
           MAX(CASE WHEN vr = 128 THEN value END) AS p50_est,
           MAX(CASE WHEN vr = 231 THEN value END) AS p90_est,
           MAX(CASE WHEN vr = 254 THEN value END) AS p99_est
    FROM r
    """,
)
def stream_bottomk_quantiles_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged STREAMING quantile-sketch maintenance: events replayed
    through a real EventLog in three micro-batches (event_id terciles,
    maxFilesPerTrigger=1); each batch computes its own bottom-256 (k
    smallest md5(event_id) — a per-batch partial sketch via TakeOrdered)
    and the driver folds it into a k-row running sample. Because
    bottom-k is a semilattice, the incrementally-merged sample is
    IDENTICAL to the one-shot whole-corpus sample — the oracle is the
    batch twin's direct SQL, so a batch lost, duplicated, or merged
    wrong changes the sampled membership and fails the hash.

    This is the production rollup loop: state is k rows (not O(n)), any
    micro-batch boundary layout gives the same answer, and quantiles
    are readable at ANY time from the running sample. In-query
    assertion: exactly 3 data micro-batches contributed, and the final
    sample contains rows from more than one batch (the merge actually
    crossed boundaries). Quantile picks are raw sampled values at
    integer ranks — selection only, no float arithmetic."""
    import json
    import shutil

    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.streaming.statestore import apply_state_store_conf

    apply_state_store_conf(spark)
    K = 256
    ev = load_tables(spark, sf_dir)["events"]
    t1, t2 = (
        ev.agg(
            F.expr("percentile_approx(event_id, 0.33)"),
            F.expr("percentile_approx(event_id, 0.66)"),
        ).collect()[0]
    )
    base = tempfile.mkdtemp(prefix="stream_bk_")
    log = EventLog(spark, f"{base}/log")
    state: list = []  # (h, event_id, value) — at most K entries
    batch_of: dict = {}  # event_id -> bid that delivered it
    n_batches: list = []

    def merge(batch_df: DataFrame, bid: int) -> None:
        new = (
            batch_df.select(
                F.col("foreign_id").cast("long").alias("event_id"),
                F.conv(F.substring(F.md5(F.col("foreign_id")), 1, 13), 16, 10)
                .cast("long")
                .alias("h"),
                F.col("metadata").cast("string").alias("m"),
            )
            .orderBy("h", "event_id")
            .limit(K)
            .collect()  # bounded: K rows per batch
        )
        if not new:
            return
        n_batches.append(bid)
        for r in new:
            batch_of[r["event_id"]] = bid
            state.append((r["h"], r["event_id"], json.loads(r["m"])["v"]))
        state.sort()
        del state[K:]

    try:
        canon = ev.select(
            F.lit(1).alias("event_type"),
            F.col("event_id").cast("string").alias("foreign_id"),
            F.col("ts").cast("timestamp").alias("timestamp"),
            F.to_json(F.struct(F.col("value").alias("v"))).cast("binary").alias("metadata"),
            F.lit(None).cast("binary").alias("trace"),
            F.col("event_id").alias("__oid"),
        )
        log.append(canon.where(F.col("__oid") <= t1).drop("__oid"))
        log.append(
            canon.where((F.col("__oid") > t1) & (F.col("__oid") <= t2)).drop("__oid")
        )
        log.append(canon.where(F.col("__oid") > t2).drop("__oid"))
        # size the per-batch shuffles to the data (statestore module note)
        writer = log.read_stream(max_files_per_trigger=1).writeStream.foreachBatch(merge)
        run_query(spark, writer, f"{base}/ckpt", "stream_bottomk_quantiles_rollup", 120, log.read())
    finally:
        shutil.rmtree(base, ignore_errors=True)
    if len(n_batches) != 3:
        raise AssertionError(
            f"expected exactly 3 data micro-batches, saw {n_batches}"
        )
    contributing = {batch_of[eid] for _, eid, _ in state}
    if len(contributing) < 2:
        raise AssertionError(
            "final sample drawn from a single micro-batch — the "
            f"cross-batch merge never mattered (batches: {contributing})"
        )
    sample = sorted((v, eid) for _, eid, v in state)
    picks = {
        "p50_est": (len(sample) * 1 + 1) // 2,
        "p90_est": (len(sample) * 9 + 9) // 10,
        "p99_est": (len(sample) * 99 + 99) // 100,
    }
    row = tuple([len(sample)] + [sample[r - 1][0] for r in picks.values()])
    return spark.createDataFrame(
        [row], "k_sample long, p50_est double, p90_est double, p99_est double"
    )


@query(
    "stream_stream_full_join",
    # The FULL OUTER stream-stream interval join — the third member of
    # the judged join family (inner r8, left-outer r9): BOTH sides must
    # emit watermark-timed null-padded rows — an unmatched click once
    # the watermark passes c_ts + 1h, an unmatched purchase once no
    # future click could still reach back to it. Oracle = the one-shot
    # batch full outer join.
    oracle="""
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    j AS (SELECT c.user_id AS cu, p.user_id AS pu
          FROM c FULL JOIN p
            ON c.user_id = p.user_id
           AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 1 HOUR)
    SELECT COALESCE(cu, pu) AS user_id,
           CAST(SUM(CASE WHEN cu IS NOT NULL AND pu IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN pu IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click_unmatched,
           CAST(SUM(CASE WHEN cu IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase_unmatched
    FROM j GROUP BY COALESCE(cu, pu)
    """,
)
def stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged stream-stream FULL OUTER interval join: clicks ⟗ purchases
    on user with the band p_ts ∈ [c_ts, c_ts + 1h], both sides replayed
    through real EventLogs in two time-ordered micro-batches plus a
    far-future sentinel (the left-outer query's harness, symmetric
    semantics).

    What makes FULL the genuinely distinct third operator: the join
    state must produce null-padded rows for BOTH directions, and each
    side's eviction bound differs — an unmatched CLICK emits when the
    watermark passes c_ts + 1h (no future purchase can land in its
    band), but an unmatched PURCHASE emits when the watermark passes
    p_ts (its band reaches BACKWARD: any click able to match it, with
    c_ts ∈ [p_ts − 1h, p_ts], has already arrived or never will).
    Asymmetric eviction bounds from one symmetric-looking condition is
    exactly where a hand-rolled outer-join state machine goes wrong;
    Spark derives both bounds from the band predicate. In-query
    assertions require null-padded rows ON EACH SIDE to emit only
    after micro-batch 0 and at least one per side at batch >= 2 —
    cross-boundary, watermark-timed emission proven for both
    directions. The oracle is the one-shot batch full join grouped by
    COALESCE(cu, pu): an early, dropped, or doubled null row on either
    side changes its user's (n_matched, n_click_unmatched,
    n_purchase_unmatched) and fails the hash. Runs under the pinned
    state-store provider; state partitions pinned to 8 like every
    stateful entry (SCALE_NOTES §29; KB of fixture state)."""
    import shutil

    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.streaming.statestore import apply_state_store_conf

    apply_state_store_conf(spark)
    ev = load_tables(spark, sf_dir)["events"]
    mid_ts, max_ts = (
        ev.agg(
            F.expr("percentile_approx(CAST(ts AS TIMESTAMP), 0.5)"),
            F.max(F.col("ts").cast("timestamp")),
        ).collect()[0]
    )

    def canonical(kind: str) -> DataFrame:
        return ev.where(F.col("event_type") == kind).select(
            F.lit(1).alias("event_type"),
            F.col("user_id").cast("string").alias("foreign_id"),
            F.col("ts").cast("timestamp").alias("timestamp"),
            F.lit(None).cast("binary").alias("metadata"),
            F.lit(None).cast("binary").alias("trace"),
        )

    base = tempfile.mkdtemp(prefix="stream_ssfoj_")
    clog = EventLog(spark, f"{base}/clicks")
    plog = EventLog(spark, f"{base}/purchases")
    sent = spark.range(1).select(
        F.lit(1).alias("event_type"),
        F.lit("-1").alias("foreign_id"),
        (F.lit(max_ts) + F.expr("INTERVAL 30 DAYS")).alias("timestamp"),
        F.lit(None).cast("binary").alias("metadata"),
        F.lit(None).cast("binary").alias("trace"),
    )
    sink = _BatchSink(spark, f"{base}/sink")
    merge = sink.writer(
        lambda bdf: bdf.where(
            (F.coalesce(F.col("c_user"), F.col("p_user")) != "-1")
        )
        .groupBy(F.coalesce(F.col("c_user"), F.col("p_user")).alias("u"))
        .agg(
            F.sum(
                F.when(
                    F.col("c_user").isNotNull() & F.col("p_user").isNotNull(),
                    1,
                ).otherwise(0)
            ).alias("m"),
            F.sum(F.when(F.col("p_user").isNull(), 1).otherwise(0)).alias("cu"),
            F.sum(F.when(F.col("c_user").isNull(), 1).otherwise(0)).alias("pu"),
        )
    )

    try:
        for kind, log in (("click", clog), ("purchase", plog)):
            c = canonical(kind)
            log.append(c.where(F.col("timestamp") <= F.lit(mid_ts)))
            log.append(c.where(F.col("timestamp") > F.lit(mid_ts)))
            log.append(sent)
        cs = (
            clog.read_stream(max_files_per_trigger=1)
            .withWatermark("timestamp", "1 minute")
            .select(
                F.col("foreign_id").alias("c_user"),
                F.col("timestamp").alias("c_ts"),
            )
        )
        ps = (
            plog.read_stream(max_files_per_trigger=1)
            .withWatermark("timestamp", "1 minute")
            .select(
                F.col("foreign_id").alias("p_user"),
                F.col("timestamp").alias("p_ts"),
            )
        )
        joined = cs.join(
            ps,
            F.expr(
                "c_user = p_user AND "
                "p_ts BETWEEN c_ts AND c_ts + INTERVAL 1 HOUR"
            ),
            "fullOuter",
        ).select("c_user", "p_user")
        # data-sized join-state partitioning (see statestore module note)
        writer = joined.writeStream.foreachBatch(merge)
        run_query(spark, writer, f"{base}/ckpt", "stream_stream_full_join", 240, clog.read())
        # watermark-timing probe per side, from the sink's batch ids
        sunk = sink.read()
        click_null_batches = sorted(
            r["__bid"]
            for r in sunk.where(F.col("cu") > 0).select("__bid").distinct().collect()
        )  # bounded: one row per micro-batch id
        purchase_null_batches = sorted(
            r["__bid"]
            for r in sunk.where(F.col("pu") > 0).select("__bid").distinct().collect()
        )
        for side, batches in (
            ("click", click_null_batches),
            ("purchase", purchase_null_batches),
        ):
            if batches and min(batches) < 1:
                raise AssertionError(
                    f"{side}-side null rows emitted in micro-batch 0 — "
                    "eviction fired under the epoch watermark "
                    f"(batches: {batches})"
                )
            if not batches or max(batches) < 2:
                raise AssertionError(
                    f"no {side}-side null-padded row crossed a micro-batch "
                    "boundary past the data batches — the watermark-timed "
                    f"emission this query exists to prove (batches: {batches})"
                )
        out = sink.sum_per_key(
            ["u"],
            {"n_matched": "m", "n_click_unmatched": "cu", "n_purchase_unmatched": "pu"},
        ).select(
            F.col("u").cast("long").alias("user_id"),
            "n_matched",
            "n_click_unmatched",
            "n_purchase_unmatched",
        )
        out = out.persist()
        out.count()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def _hll_oracle() -> str:
    from reflex_spark.queries.events import _SQL_HLL_ORACLE

    return _SQL_HLL_ORACLE


@query(
    "stream_hll_distinct_rollup",
    # The flagship mergeable sketch maintained ACROSS micro-batches:
    # per-batch HLL register frames max-merged into 1024-entry running
    # state must equal the one-shot whole-corpus sketch EXACTLY
    # (register max is a semilattice, like bottom-k), so the oracle is
    # the SAME direct whole-corpus SQL as the batch twins
    # (events_hll_distinct_users / events_hll_merged_daily).
    oracle=_hll_oracle(),
)
def stream_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged STREAMING distinct-count sketch maintenance under
    AT-LEAST-ONCE delivery: events replayed through a real EventLog in
    three micro-batches that deliberately OVERLAP (user residues
    {0,1}, {1,2}, {2,0} mod 3 — every event is delivered, a third of
    them twice, the backfill-overlap shape at-least-once systems
    produce); each batch computes its own 1024-register HLL frame over
    its user ids (operators/dedup.hll_registers — one
    map-side-combinable max aggregation per batch) and the driver
    max-merges it into a bounded running register table. Register max
    is associative, commutative, and IDEMPOTENT, so the merged sketch
    is IDENTICAL to the one-shot whole-corpus sketch despite the
    duplicated deliveries — the oracle is the batch twin's direct SQL
    (the same contract events_hll_merged_daily judges across DAY
    shards, now across overlapping arrival shards). A count-based
    merge would double-count the overlap and fail the estimate hash;
    so would a lost batch or a wrong max.

    This is the production streaming-rollup loop for COUNT(DISTINCT):
    state is exactly 1024 integers regardless of stream length
    (vs dropDuplicates' O(distinct keys) state in
    stream_dedup_rollup), any-time reads estimate through the same
    tail as the batch path (hll_estimate_from_registers), and
    duplicate arrivals — users recur across batches by construction —
    are absorbed by idempotence rather than tracked. In-query
    assertions: exactly 3 data micro-batches contributed; at least one
    register entered the state AFTER the first data batch (the merge
    grows across boundaries); and at least one register received the
    SAME contribution from two different batches (a recurring user —
    idempotent absorption is doing real work, where a count-based
    merge would have double-counted)."""
    import shutil

    from reflex_spark.operators.dedup import (
        hll_estimate_from_registers,
        hll_registers,
    )
    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.streaming.statestore import apply_state_store_conf

    apply_state_store_conf(spark)
    ev = load_tables(spark, sf_dir)["events"]
    base = tempfile.mkdtemp(prefix="stream_hll_")
    log = EventLog(spark, f"{base}/log")
    regs: dict[int, int] = {}  # __idx -> max rho; bounded at 1024 entries
    first_seen: dict[int, int] = {}  # __idx -> bid of first contribution
    absorbed = [False]  # identical contribution from two distinct batches
    n_batches: list[int] = []

    def merge(batch_df: DataFrame, bid: int) -> None:
        frame = hll_registers(
            batch_df.select(F.col("foreign_id").cast("long").alias("user_id")),
            "user_id",
            p=10,
        ).collect()  # bounded: <= 1024 rows per batch
        if not frame:
            return
        n_batches.append(bid)
        for r in frame:
            idx, m = r["__idx"], r["__m"]
            if idx not in regs:
                regs[idx] = m
                first_seen[idx] = bid
            else:
                # absorption = the SAME rho arrives again from a LATER
                # batch and changes nothing (m > regs[idx] would be a new
                # max, not an idempotent absorb — must not count)
                if m == regs[idx] and bid != first_seen[idx]:
                    absorbed[0] = True
                regs[idx] = max(regs[idx], m)

    try:
        canon = ev.select(
            F.lit(1).alias("event_type"),
            F.col("user_id").cast("string").alias("foreign_id"),
            F.col("ts").cast("timestamp").alias("timestamp"),
            F.lit(None).cast("binary").alias("metadata"),
            F.lit(None).cast("binary").alias("trace"),
            (F.col("user_id") % 3).alias("__res"),
        )
        for pair in ((0, 1), (1, 2), (2, 0)):
            log.append(canon.where(F.col("__res").isin(*pair)).drop("__res"))
        # size the per-batch shuffles to the data (statestore module note)
        writer = log.read_stream(max_files_per_trigger=1).writeStream.foreachBatch(merge)
        run_query(spark, writer, f"{base}/ckpt", "stream_hll_distinct_rollup", 120, log.read())
    finally:
        shutil.rmtree(base, ignore_errors=True)
    if len(n_batches) != 3:
        raise AssertionError(
            f"expected exactly 3 data micro-batches, saw {n_batches}"
        )
    first_bid = min(n_batches)
    if not any(b > first_bid for b in first_seen.values()):
        raise AssertionError(
            "no register entered the state after the first data batch — "
            "the cross-batch merge never grew the sketch"
        )
    if not absorbed[0]:
        raise AssertionError(
            "no register received the same contribution from two distinct "
            "batches — idempotent absorption was never exercised"
        )
    merged = spark.createDataFrame(
        sorted(regs.items()), "__idx long, __m int"
    )
    return hll_estimate_from_registers(merged, p=10)


@query(
    "stream_dedup_within_watermark",
    # dropDuplicatesWithinWatermark: the BOUNDED-STATE streaming dedup
    # (plain dropDuplicates keeps every key forever; this one evicts
    # state once the watermark passes eventTime + delay — the only dedup
    # a 100 TB stream can run).  The oracle replays the operator's exact
    # timing, pinned empirically this round (tests/test_streaming_windows
    # probes + this hash):
    #   * late filter uses the CURRENT batch's watermark W_b (max event
    #     time over batches < b, minus delay; W_0 = epoch 0);
    #   * duplicates are dropped whenever the key is in state — and
    #     state cleanup LAGS one batch: entries are evicted at the END
    #     of batch b using W_b, so a key expired under W_b still dedups
    #     rows DURING batch b and only frees for batch b+1;
    #   * duplicates do NOT extend the stored expiry (it stays
    #     firstEventTime + delay).
    # delay = 149 minutes: event times are whole hours, so every
    # comparison (h vs W, expiry vs W) has a non-zero hour-fraction gap
    # and no strict-vs-non-strict boundary ambiguity exists.
    oracle="""
    WITH e AS (SELECT user_id, ts, event_id,
                      epoch_ms(date_trunc('hour', ts)) AS h
               FROM events),
    r AS (SELECT user_id, h,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY user_id) AS n
          FROM e),
    p AS (SELECT user_id,
                 MAX(CASE WHEN rn = 1 THEN h END) AS h0,
                 MAX(CASE WHEN rn = (n + 1) // 2 THEN h END) AS h1,
                 MAX(CASE WHEN rn = n THEN h END) AS h2
          FROM r GROUP BY user_id),
    m AS (SELECT (SELECT MAX(h0) FROM p WHERE user_id % 3 <> 0)
                   - 8940000 AS w1,
                 (SELECT MAX(h1) FROM p) - 8940000 AS w2),
    f AS (SELECT user_id,
            CASE WHEN user_id % 3 <> 0 THEN
              1 + CASE WHEN h2 >= w2 AND h0 + 8940000 < w1
                       THEN 1 ELSE 0 END
            ELSE
              CASE WHEN h1 >= w1 THEN 1 ELSE 0 END
              + CASE WHEN h1 < w1 AND h2 >= w2 THEN 1 ELSE 0 END
            END AS n_emitted,
            CASE WHEN user_id % 3 <> 0 THEN 0
                 WHEN h1 >= w1 THEN 1
                 WHEN h2 >= w2 THEN 2
                 ELSE NULL END AS first_emit
          FROM p, m)
    SELECT user_id,
           CAST(n_emitted AS BIGINT) AS n_emitted,
           CAST(first_emit AS BIGINT) AS first_emit
    FROM f
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged dropDuplicatesWithinWatermark end-to-end: three
    deterministic micro-batches per user — batch 0 carries the first
    event's hour for users with user_id % 3 != 0, batch 1 carries every
    user's median-event hour, batch 2 every user's last-event hour (one
    row per user per batch, so the in-batch anchor is unique and no row
    order can change state).  The replay exercises every state
    transition the operator has: first-contact emit, duplicate drop
    while state is live, LATE drop of a first contact (the row never
    reaches the state store), eviction after the watermark passes
    expiry, and re-emission of an evicted key — with the one-batch
    cleanup lag and no-expiry-extension semantics pinned in the oracle
    comment.  Output: per-user emitted-row count and first emitting
    batch id (NULL for users whose every arrival was late), resolved
    distributed from the parquet batch sink.

    Scale posture: state is O(keys live within the watermark horizon),
    not O(all keys ever) — the entire point of the operator; the sink
    resolve is one groupBy over emitted rows."""
    import shutil

    from pyspark.sql import Window

    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.streaming.statestore import apply_state_store_conf

    apply_state_store_conf(spark)
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    picks = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
        .withColumn("h", F.date_trunc("hour", F.col("ts")))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("h"))).alias("h0"),
            F.max(F.when(F.expr("rn = (n + 1) div 2"), F.col("h"))).alias("h1"),
            F.max(F.when(F.expr("rn = n"), F.col("h"))).alias("h2"),
        )
        .persist()
    )
    base = tempfile.mkdtemp(prefix="stream_ddww_")
    log = EventLog(spark, f"{base}/log")

    def canon(users: DataFrame, hcol: str) -> DataFrame:
        return users.select(
            F.lit(1).alias("event_type"),
            F.col("user_id").cast("string").alias("foreign_id"),
            F.col(hcol).alias("timestamp"),
            F.lit(None).cast("binary").alias("metadata"),
            F.lit(None).cast("binary").alias("trace"),
        )

    sink = _BatchSink(spark, f"{base}/sink")
    try:
        log.append(canon(picks.where(F.col("user_id") % 3 != 0), "h0"))
        log.append(canon(picks, "h1"))
        log.append(canon(picks, "h2"))
        dd = (
            log.read_stream(max_files_per_trigger=1)
            .withWatermark("timestamp", "149 minutes")
            .dropDuplicatesWithinWatermark(["foreign_id"])
            .select(F.col("foreign_id").cast("long").alias("user_id"))
        )
        # data-sized state partitioning (see statestore module note)
        writer = dd.writeStream.foreachBatch(sink.writer())
        run_query(spark, writer, f"{base}/ckpt", "stream_dedup_within_watermark", 180, log.read())
        got = (
            sink.read()
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_emitted"),
                F.min("__bid").alias("first_emit"),
            )
        )
        out = (
            picks.select("user_id")
            .join(got, "user_id", "left")
            .select(
                "user_id",
                F.coalesce("n_emitted", F.lit(0)).cast("long").alias("n_emitted"),
                F.col("first_emit").cast("long").alias("first_emit"),
            )
        )
        out = out.persist()
        # in-query behavior probes: eviction-driven re-emission happened,
        # batch-1 first contacts happened, and dedup actually dropped rows
        n_users = out.count()
        if out.where(F.col("n_emitted") >= 2).count() == 0:
            raise AssertionError(
                "no key re-emitted after eviction — the bounded-state "
                "semantics this query exists to prove never fired"
            )
        if out.where(F.col("first_emit") == 1).count() == 0:
            raise AssertionError("no batch-1 first-contact emission")
        total_emitted = out.agg(F.sum("n_emitted")).collect()[0][0]
        if total_emitted >= 3 * n_users:
            raise AssertionError("dedup dropped nothing — semantics not exercised")
    finally:
        picks.unpersist()
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "stream_static_enrich_rollup",
    # Stream-static enrichment: the canonical production join shape
    # (reference consumers enrich events against lookup tables the same
    # way, api.go Consumer + a dimension read) — a micro-batch stream
    # BroadcastHashJoins a small static dimension, then a stateful
    # streaming aggregate rolls up per segment.  The oracle is the plain
    # batch join+rollup: stream-static semantics guarantee each
    # micro-batch joins the SAME dimension snapshot, so the cumulative
    # update-mode aggregate must equal the one-shot answer exactly.
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('e.value', 'sum_value')}
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY segment
    """,
)
def stream_static_enrich_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged stream-static broadcast enrichment: the events fixture
    replayed through an EventLog in three appends (maxFilesPerTrigger=1
    → one micro-batch each) joins the static customer dimension with an
    explicit ``F.broadcast`` inside the STREAMING plan, feeding an
    update-mode stateful rollup per market segment (decimal sums).  The
    final answer is resolved from the parquet batch sink by
    latest-batch-wins per key (update-mode emissions are cumulative).

    Two in-query pins make the posture checkable, not aspirational:
    the SQL status store must contain a micro-batch execution whose
    physical plan carries BOTH ``StateStoreSave`` (it is the streaming
    aggregate) and ``BroadcastHashJoin`` (the dimension never shuffles
    the stream side), and the sink must hold emissions from >= 2
    distinct micro-batches (the rollup genuinely accumulated across
    batches).  At 100 TB this is exactly the plan you want: the fact
    stream is never reshuffled for the join — only the KB-sized
    dimension moves — and state is O(segments), not O(events).
    """
    import shutil

    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.streaming.statestore import apply_state_store_conf

    apply_state_store_conf(spark)
    tables = load_tables(spark, sf_dir)
    ev, cust = tables["events"], tables["customer"]
    canonical, _ = _canonical_events(ev)
    base = tempfile.mkdtemp(prefix="stream_static_enrich_")
    log = EventLog(spark, f"{base}/log")
    sink = _BatchSink(spark, f"{base}/sink")
    try:
        third = ev.count() // 3 + 1
        ordered = canonical.orderBy("__orig_id").drop("__orig_id")
        for i in range(3):
            log.append(ordered.offset(i * third).limit(third))
        dim = F.broadcast(
            cust.select(
                F.col("c_custkey").alias("user_key"),
                F.col("c_mktsegment").alias("segment"),
            )
        )
        enriched = (
            log.read_stream(max_files_per_trigger=1)
            .select(
                F.col("foreign_id").cast("long").alias("user_key"),
                F.col("metadata").cast("string").cast("double").alias("value"),
            )
            .join(dim, "user_key")
            .groupBy("segment")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).alias("dsum"),
            )
        )
        # data-sized state partitioning (see statestore module note)
        writer = enriched.writeStream.outputMode("update").foreachBatch(sink.writer())
        run_query(spark, writer, f"{base}/ckpt", "stream_static_enrich_rollup", 180, log.read())
        store = spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        pinned = False
        # newest-first: the micro-batch executions are the most recent
        # entries, and a long-lived session can hold thousands
        for i in range(execs.size() - 1, max(execs.size() - 40, 0) - 1, -1):
            desc = execs.apply(i).physicalPlanDescription()
            if "StateStoreSave" in desc and "BroadcastHashJoin" in desc:
                pinned = True
                break
        if not pinned:
            raise AssertionError(
                "no micro-batch execution shows StateStoreSave + "
                "BroadcastHashJoin — the stream-static join did not run "
                "as a broadcast inside the streaming plan"
            )
        emitted = sink.read()
        if emitted.select("__bid").distinct().count() < 2:
            raise AssertionError(
                "emissions came from a single micro-batch — the "
                "cross-batch accumulation this query exists to prove "
                "never happened"
            )
        out = sink.latest_per_key(["segment"], ["n_events", "dsum"]).select(
            "segment",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("dsum").cast("double").alias("sum_value"),
        )
        out = out.persist()
        out.count()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "tx_time_travel_rollup",
    # Time travel judged end-to-end: three TxTable commits (append →
    # copy-on-write MERGE → delete), then THREE version-pinned reads of
    # the SAME table rolled up side by side.  The oracle recomputes each
    # historical state from the deterministic commit recipe, so a hash
    # match proves the commit log reconstructs every retained snapshot
    # exactly — not just the latest (price bump is ×2: exact IEEE
    # scaling, decimal sums layout-invariant).
    oracle=f"""
    WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
                         o_totalprice AS price
                  FROM orders),
    v2 AS (SELECT k,
                  CASE WHEN k % 7 = 0 THEN 'R' ELSE status END AS status,
                  CASE WHEN k % 7 = 0 THEN price * CAST(2 AS DOUBLE)
                       ELSE price END AS price
           FROM base),
    v3 AS (SELECT * FROM v2 WHERE k % 11 <> 0),
    u AS (SELECT 'v1' AS snapshot, status, price FROM base
          UNION ALL SELECT 'v2', status, price FROM v2
          UNION ALL SELECT 'v3', status, price FROM v3)
    SELECT snapshot, status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('price', 'sum_price')}
    FROM u GROUP BY snapshot, status
    """,
)
def tx_time_travel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged TIME TRAVEL on the transactional table: commit the orders
    fixture (v1), MERGE a re-price of every 7th key at a higher row
    version (v2), DELETE every 11th key (v3), then read all three
    pinned versions of the same table and roll each up per status.
    ``snapshot_diff_classify`` diffs synthetic states; this query reads
    REAL retained versions through the commit log — the audit/backfill/
    reproduce-yesterday's-training-set operator (reference consumers get
    the same guarantee from the immutable event log, doc.go:7).

    Scale posture: a version-pinned read is the same pruned parquet
    scan as a latest read (adds - removes over log entries <= v, one
    metadata pass); history costs storage, not read amplification, and
    the three rollups here share one shuffle each."""
    import shutil

    from reflex_spark.sources.tx_table import TxTable

    orders = load_tables(spark, sf_dir)["orders"]
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(1).alias("ver"),
    )
    updates = orders.where(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("R").alias("status"),
        (F.col("o_totalprice") * 2.0).alias("price"),
        F.lit(2).alias("ver"),
    )
    doomed = orders.where(F.col("o_orderkey") % 11 == 0).select(
        F.col("o_orderkey").alias("k")
    )
    base_dir = tempfile.mkdtemp(prefix="tx_time_travel_")
    try:
        t = TxTable(spark, f"{base_dir}/orders")
        v1 = t.append(base)
        v2 = t.merge_by_key(updates, ["k"], "ver")
        v3 = t.delete_by_key(doomed, ["k"])
        if not (v1 < v2 < v3):
            raise AssertionError(
                f"commit versions must be strictly increasing, got "
                f"{(v1, v2, v3)}"
            )
        snaps = [("v1", v1), ("v2", v2), ("v3", v3)]
        out = None
        for tag, ver in snaps:
            roll = (
                t.read(version=ver)
                .groupBy("status")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum(F.col("price").cast("decimal(18,6)"))
                    .cast("double")
                    .alias("sum_price"),
                )
                .select(F.lit(tag).alias("snapshot"), "status", "n_rows", "sum_price")
            )
            out = roll if out is None else out.unionByName(roll)
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return out


@query(
    "tx_schema_evolution_rollup",
    # Delta-style SCHEMA EVOLUTION judged end-to-end: commit 1 writes
    # orders WITHOUT a region column, commit 2 appends rows WITH one
    # (the table schema widens; old rows read back NULL), commit 3
    # merges updates through the evolved schema touching both
    # generations.  The oracle replays the three commits columnwise;
    # an in-query pin asserts the PRE-evolution snapshot still reads
    # with the narrow schema (evolution composes with time travel).
    oracle=f"""
    WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
                         o_totalprice AS price
                  FROM orders),
    v AS (SELECT k,
                 CASE WHEN k % 5 = 0 THEN 'X' ELSE status END AS status,
                 CASE WHEN k % 5 = 0 THEN price * CAST(2 AS DOUBLE)
                      ELSE price END AS price,
                 CASE WHEN k % 5 = 0 THEN 'RM'
                      WHEN k % 2 = 1 THEN 'R' || CAST(k % 3 AS VARCHAR)
                      ELSE NULL END AS region
          FROM base)
    SELECT status, COALESCE(region, 'none') AS region,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('price', 'sum_price')}
    FROM v GROUP BY status, COALESCE(region, 'none')
    """,
)
def tx_schema_evolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged schema evolution on the transactional table: the even-key
    half of orders lands first WITHOUT a region column; the odd-key
    half appends WITH one (widening the committed schema — reads now
    project old files to the union with NULLs); a MERGE then updates
    every 5th key of BOTH generations through the evolved schema.  The
    rollup of the final snapshot per (status, region) hash-matches the
    oracle's columnwise replay, proving no generation lost rows,
    columns, or values across the widening.  The in-query pin reads
    the version-1 snapshot and asserts it still presents the ORIGINAL
    narrow schema — evolution is per-commit metadata, not a rewrite.

    Scale posture: widening is O(1) metadata (the union schema in the
    commit entry); old files are never rewritten — the same reason
    this is the only schema-change shape allowed at 100 TB (type
    changes are rejected, tx_table.py:243)."""
    import shutil

    from reflex_spark.sources.tx_table import TxTable

    orders = load_tables(spark, sf_dir)["orders"]
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(1).alias("ver"),
    )
    gen1 = base.where(F.col("k") % 2 == 0)
    gen2 = base.where(F.col("k") % 2 == 1).withColumn(
        "region", F.concat(F.lit("R"), (F.col("k") % 3).cast("string"))
    )
    updates = base.where(F.col("k") % 5 == 0).select(
        "k",
        F.lit("X").alias("status"),
        (F.col("price") * 2.0).alias("price"),
        F.lit(2).alias("ver"),
        F.lit("RM").alias("region"),
    )
    base_dir = tempfile.mkdtemp(prefix="tx_schema_evo_")
    try:
        t = TxTable(spark, f"{base_dir}/orders")
        v1 = t.append(gen1)
        t.append(gen2)
        t.merge_by_key(updates, ["k"], "ver")
        narrow = t.read(version=v1)
        if "region" in narrow.columns:
            raise AssertionError(
                "version-1 snapshot must present the pre-evolution schema "
                "(no region column) — evolution leaked backwards in time"
            )
        out = (
            t.read()
            .groupBy(
                "status", F.coalesce("region", F.lit("none")).alias("region")
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("price").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_price"),
            )
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return out


@query(
    "stream_dim_pinning_contrast",
    # The slowly-changing-dimension trap, judged: a TxTable dim ADVANCES
    # (MERGE) between micro-batches 0 and 1 while a stream enriches
    # against it two ways — (a) through a DataFrame captured BEFORE the
    # stream started (snapshot isolation pins it to v1 forever: the
    # commit log's explicit v1 file list is frozen in the plan, and
    # copy-on-write means those files still exist after the merge), and
    # (b) through a FRESH read() inside each foreachBatch (latest
    # version at batch time).  The oracle replays both: 'pinned' rows
    # use the v1 mapping for every batch; 'fresh' rows use v1 for
    # batch 0 and v2 for batches 1-2 (the mutation lands in batch 0's
    # callback, strictly before batch 1 plans).  Both answers are
    # judged — the point is that BOTH are correct semantics and a 100 TB
    # pipeline must choose one deliberately, because the default
    # (capture once) silently serves stale dimensions.
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, value,
             (ROW_NUMBER() OVER (ORDER BY event_id) - 1)
               // ((SELECT COUNT(*) FROM events) // 3 + 1) AS batch
      FROM events),
    v1 AS (SELECT DISTINCT user_id AS k,
                  'S' || CAST(user_id % 2 AS VARCHAR) AS seg
           FROM events),
    v2 AS (SELECT k, CASE WHEN k % 3 = 0 THEN 'F' ELSE seg END AS seg
           FROM v1),
    u AS (
      SELECT 'pinned' AS tag, v1.seg, r.value
      FROM ranked r JOIN v1 ON r.user_id = v1.k
      UNION ALL
      SELECT 'fresh' AS tag,
             CASE WHEN r.batch = 0 THEN v1.seg ELSE v2.seg END AS seg,
             r.value
      FROM ranked r JOIN v1 ON r.user_id = v1.k
                    JOIN v2 ON r.user_id = v2.k)
    SELECT tag, seg,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM u GROUP BY tag, seg
    """,
)
def stream_dim_pinning_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream enrichment against a dimension that CHANGES mid-stream,
    both semantics judged side by side: the captured-DataFrame join
    stays pinned to the pre-stream snapshot (TxTable snapshot isolation
    — the frozen v1 file list outlives the merge because copy-on-write
    never mutates files in place), while a fresh ``read()`` inside each
    ``foreachBatch`` tracks the latest committed version.  The dim
    MERGE is issued inside batch 0's callback — foreachBatch is
    synchronous within the trigger loop, so batch 1 deterministically
    sees v2 on the fresh path.  In-query pins: the two tags must
    actually DIFFER (the mutation was observed), and the pinned rollup
    must equal the fresh rollup restricted to batch 0's mapping
    everywhere else (enforced by the oracle hash).

    This is the judged form of the production rule: capture-once dim
    joins silently serve stale data after the next upstream publish;
    per-batch re-reads (or CDC-driven dim maintenance,
    stream_cdc_scd2_history) are the deliberate alternatives."""
    import shutil

    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.sources.tx_table import TxTable

    ev = load_tables(spark, sf_dir)["events"]
    base = tempfile.mkdtemp(prefix="stream_dim_pin_")
    sink = _BatchSink(spark, f"{base}/sink")
    try:
        dim = TxTable(spark, f"{base}/dim")
        v1 = ev.select(F.col("user_id").alias("k")).distinct().select(
            "k",
            F.concat(F.lit("S"), (F.col("k") % 2).cast("string")).alias("seg"),
            F.lit(1).alias("ver"),
        )
        dim.append(v1)
        updates = v1.where(F.col("k") % 3 == 0).select(
            "k", F.lit("F").alias("seg"), F.lit(2).alias("ver")
        )
        pinned_dim = dim.read()  # captured BEFORE the stream: frozen at v1

        log = EventLog(spark, f"{base}/log")
        canonical, _ = _canonical_events(ev)
        ordered = canonical.orderBy("__orig_id").drop("__orig_id")
        third = ev.count() // 3 + 1
        for i in range(3):
            log.append(ordered.offset(i * third).limit(third))

        def enrich_both(bdf: DataFrame, bid: int) -> None:
            rows = bdf.select(
                F.col("foreign_id").cast("long").alias("k"),
                F.col("metadata").cast("string").cast("double").alias("value"),
            )
            for tag, d in (("pinned", pinned_dim), ("fresh", dim.read())):
                out = (
                    rows.join(F.broadcast(d.select("k", "seg")), "k")
                    .groupBy("seg")
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.col("value").cast("decimal(18,6)")).alias("ds"),
                    )
                    .withColumn("tag", F.lit(tag))
                )
                out.withColumn("__bid", F.lit(bid)).write.mode("append").parquet(
                    sink.path
                )
            if bid == 0:
                dim.merge_by_key(updates, ["k"], "ver")

        # size the per-batch aggregate shuffles to the data (the house
        # state-store sizing rule, §29, r16 scale-adaptive form — a plain
        # driver session defaults to 200)
        writer = log.read_stream(max_files_per_trigger=1).writeStream.foreachBatch(enrich_both)
        run_query(spark, writer, f"{base}/ckpt", "stream_dim_pinning_contrast", 180, log.read())
        emitted = sink.read()
        if emitted.select("__bid").distinct().count() < 3:
            raise AssertionError("expected 3 micro-batches")
        out = (
            emitted.groupBy("tag", "seg")
            .agg(
                F.sum("n").cast("long").alias("n_events"),
                F.sum("ds").cast("double").alias("sum_value"),
            )
        )
        out = out.persist()
        pin = {r["seg"]: r["n_events"] for r in out.where(F.col("tag") == "pinned").collect()}
        fre = {r["seg"]: r["n_events"] for r in out.where(F.col("tag") == "fresh").collect()}
        if pin == fre:
            raise AssertionError(
                "pinned and fresh enrichments agree — the mid-stream dim "
                "mutation was never observed, the contrast this query "
                "exists to prove is vacuous"
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "blob_sink_roundtrip_rollup",
    # The WRITE half of the registered bucket format judged end-to-end:
    # df.write.format("reflex_blob") serializes each partition as one
    # JSON-lines blob with a DETERMINISTIC key (task retries overwrite
    # their own blob — idempotent, never duplicated), commit() stamps a
    # _SUCCESS manifest, and the same format reads the bucket back.
    # The rollup over the round-trip hash-matching the direct oracle
    # proves the sink lost/duplicated nothing and that doubles survive
    # the JSON round-trip bit-exactly (shortest-round-trip repr).
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(event_id) AS BIGINT) AS first_event,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY event_type
    """,
)
def blob_sink_roundtrip_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged custom SINK: the bucket format's writer
    (``df.write.format("reflex_blob")``) — producers and consumers of
    the reference's blob bucket share one layout (rblob/doc.go), so the
    engine registers BOTH halves of the format; blob_source_rollup
    judged the scan, this judges the write path: per-partition
    JSON-lines blobs under deterministic ``data/part-<pid>.jsonl`` keys
    (idempotent under task retry), driver-side ``commit`` manifest, and
    mode("overwrite") clearing the bucket at planning time — exercised
    in-query by writing a WRONG bucket first and overwriting it.

    Scale: one blob per partition, written executor-side in parallel;
    the read back is one input partition per blob. The JSON hop is the
    bucket's wire contract, not a perf path — parquet remains the fast
    lane."""
    import shutil

    from reflex_spark.sources.blob_datasource import register

    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", "user_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="blob_sink_")
    try:
        register(spark)
        bucket = f"{base}/bucket"
        # first write a DECOY (events with negated values), then
        # overwrite with the real frame — if overwrite failed to clear,
        # counts double and sums cancel, and the hash check explodes
        decoy = ev.withColumn("value", -F.col("value"))
        decoy.repartition(4).write.format("reflex_blob").option(
            "path", bucket
        ).mode("overwrite").save()
        ev.repartition(4).write.format("reflex_blob").option(
            "path", bucket
        ).mode("overwrite").save()
        import json as _json
        import os as _os

        with open(f"{bucket}/_SUCCESS", encoding="utf-8") as f:
            manifest = _json.load(f)["blobs"]
        on_disk = sorted(
            _os.path.join("data", fn)
            for fn in _os.listdir(f"{bucket}/data")
            if not fn.startswith(("_", "."))
        )
        if manifest != on_disk:
            raise AssertionError(
                f"commit manifest {manifest} != bucket contents {on_disk}"
            )
        back = (
            spark.read.format("reflex_blob")
            .option("path", bucket)
            .option(
                "schema",
                "event_id long, user_id long, event_type string, value double",
            )
            .load()
        )
        out = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").cast("long").alias("first_event"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "tx_bloom_point_lookup",
    # File-level BLOOM skipping judged: orders land HASH-clustered (8
    # files, each spanning the full key range — min/max stats are
    # provably useless), each file's commit entry carries an 8 KiB
    # packed Bloom (m=65536, k=4, the dedup sketch family's md5
    # hashing), and a two-key point lookup must open at most half the
    # files (expected: exactly the 2 true files; false positives are
    # allowed by the assert but cannot change the ANSWER — the
    # residual IN-filter makes pruning correctness-invisible, which is
    # precisely what the oracle hash proves).
    oracle="""
    SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
    FROM orders
    WHERE o_orderkey IN ((SELECT MIN(o_orderkey) FROM orders),
                         (SELECT MAX(o_orderkey) FROM orders))
    """,
)
def tx_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookups on a hash-clustered transactional table via
    per-file BLOOM metadata — the data-skipping case min/max cannot
    touch: when a key column interleaves across files (any
    hash-partitioned layout), every file's [min, max] covers every
    probe, but an 8 KiB per-file Bloom answers "could this file contain
    THIS key" with no false negatives.  Completes the judged skipping
    matrix: partition pruning (dpp), min/max (read_pruned), Z-order /
    Hilbert clustering (multi-column ranges), and now point membership.

    In-query pins: the lookup of the min and max order keys must scan
    <= half of the 8 files (expected 2; fp rate at 65536 bits is ~1e-4
    per file at sf0.01 densities), and the returned rows hash-match the
    plain IN-filter oracle — skipping is physical only.  At 100 TB the
    same 8 KiB rides each commit entry: metadata stays O(files),
    independent of row count (saturation starts ~40k distinct keys per
    file — split files, not the filter)."""
    import shutil

    from reflex_spark.sources.tx_table import TxTable

    orders = load_tables(spark, sf_dir)["orders"]
    base_dir = tempfile.mkdtemp(prefix="tx_bloom_")
    try:
        t = TxTable(spark, f"{base_dir}/orders", bloom_cols=["k"])
        t.append(
            orders.select(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("price"),
            ).repartition(8, "k")
        )
        b = orders.agg(
            F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
        ).collect()[0]  # control-plane scalars
        res, total, scanned = t.read_points("k", [b["lo"], b["hi"]])
        if total != 8:
            raise AssertionError(f"expected 8 data files, found {total}")
        if scanned > total // 2:
            raise AssertionError(
                f"bloom skipping opened {scanned}/{total} files — point "
                "lookup pruning never engaged"
            )
        out = res.select("k", "status", "price").localCheckpoint()
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return out


@query(
    "blob_sink_append_rollup",
    # The bucket producer's APPEND lifecycle judged end-to-end (r12 —
    # completes blob_sink_roundtrip_rollup's overwrite story): two
    # separate save() jobs land in one bucket; write 2's keys are
    # namespaced by a monotonic w-<seq> prefix so they can neither
    # clobber write 1's blobs nor sort before them (the bucket's
    # ascending-key cursor contract across producer runs), and commit()
    # merges the manifest instead of rewriting it. The rollup over the
    # read-back hash-matching the whole-table oracle proves no row of
    # either write was lost, duplicated, or torn.
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_first_write,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY event_type
    """,
)
def blob_sink_append_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged APPEND-mode bucket producer: save() twice into one bucket
    (even event_ids first via overwrite, odd via append) and pin the
    multi-write contract in-query — (1) the _SUCCESS manifest after
    write 2 is the UNION: every write-1 key survives and the manifest
    equals the directory listing; (2) every write-2 key sorts
    lexicographically AFTER every write-1 key, so a consumer cursor
    parked at write 1's tail resumes into write 2 without skipping
    (rblob/doc.go: consumers scan strictly ascending keys); (3) the
    read-back rollup hash-matches the direct oracle over the fixture.

    Scale: same as the overwrite twin — one blob per partition written
    executor-side; the manifest merge is driver-side control-plane
    (listing today, previous-_SUCCESS at object-store scale)."""
    import json as _json
    import os as _os
    import shutil

    from reflex_spark.sources.blob_datasource import register

    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", "user_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="blob_append_")
    try:
        register(spark)
        bucket = f"{base}/bucket"
        ev.where(F.col("event_id") % 2 == 0).repartition(4).write.format(
            "reflex_blob"
        ).option("path", bucket).mode("overwrite").save()
        with open(f"{bucket}/_SUCCESS", encoding="utf-8") as f:
            first = _json.load(f)["blobs"]
        ev.where(F.col("event_id") % 2 == 1).repartition(4).write.format(
            "reflex_blob"
        ).option("path", bucket).mode("append").save()
        with open(f"{bucket}/_SUCCESS", encoding="utf-8") as f:
            manifest = _json.load(f)["blobs"]
        on_disk = sorted(
            _os.path.join("data", fn)
            for fn in _os.listdir(f"{bucket}/data")
            if not fn.startswith(("_", "."))
        )
        new = sorted(set(manifest) - set(first))
        if not set(first) < set(manifest) or manifest != on_disk:
            raise AssertionError(
                f"append manifest not the union: first={first} "
                f"manifest={manifest} disk={on_disk}"
            )
        if not new or max(first) >= min(new):
            raise AssertionError(
                f"append keys do not sort after existing keys: "
                f"first_max={max(first)} new_min={min(new) if new else None}"
            )
        back = (
            spark.read.format("reflex_blob")
            .option("path", bucket)
            .option(
                "schema",
                "event_id long, user_id long, event_type string, value double",
            )
            .load()
        )
        out = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_first_write"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "blob_sink_stream_producer_rollup",
    # The streaming bucket PRODUCER (r12): a consume loop whose
    # foreachBatch PUBLISHES each micro-batch into the blob bucket with
    # an append-mode save — the reference's producer side of rblob
    # (buckets are written by one pipeline and consumed by another,
    # rblob/doc.go). Three micro-batches → three producer runs → three
    # strictly ascending w-<seq> generations in one bucket; the
    # manifest stays the union after every write, and a consumer
    # reading the whole bucket must recover exactly the original
    # events. Producer semantics are AT-LEAST-ONCE by design (a crash
    # between blob publish and _SUCCESS could re-emit a batch on
    # restart — the reference's consumers dedup by stable id); this
    # run is single-pass, so the rollup is exact and hash-judged.
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY event_type
    """,
)
def blob_sink_stream_producer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming producer loop end-to-end: EventLog (3 commits) →
    read_stream(maxFilesPerTrigger=1) → foreachBatch publishing each
    batch into ONE bucket via ``format("reflex_blob").mode("append")``
    → full-bucket read-back rollup hash-matched to the direct oracle.

    In-query pins: (1) exactly 3 distinct ``w-<seq>`` generations — one
    per micro-batch — with strictly ascending integer seqs, so a bucket
    consumer's ascending-key cursor replays batches in production
    order; (2) ``_SUCCESS`` equals the directory listing after the
    final write (the manifest survived two merges).

    Scale: each micro-batch writes its partitions as parallel blobs;
    the per-write driver work is the manifest merge (listing locally,
    previous-_SUCCESS at object-store scale)."""
    import json as _json
    import os as _os
    import shutil

    from reflex_spark.sources.blob_datasource import register
    from reflex_spark.sources.event_log import EventLog

    ev = load_tables(spark, sf_dir)["events"]
    base = tempfile.mkdtemp(prefix="blob_producer_")
    try:
        register(spark)
        bucket = f"{base}/bucket"
        log = EventLog(spark, f"{base}/log")
        for k in range(3):
            log.append(
                ev.where(F.col("event_id") % 3 == k).select(
                    F.lit(1).alias("event_type"),
                    F.col("event_type").alias("foreign_id"),
                    F.col("ts").cast("timestamp").alias("timestamp"),
                    F.col("value").cast("string").cast("binary").alias("metadata"),
                    F.lit(None).cast("binary").alias("trace"),
                )
            )

        def publish(batch_df, batch_id: int) -> None:
            out = batch_df.select(
                F.col("foreign_id").alias("event_type"),
                F.col("metadata").cast("string").cast("double").alias("value"),
            )
            # Each trigger reads ONE log file, so the micro-batch arrives
            # as a single scan partition and the Python-datasource JSON
            # encode would run single-task (profiled: the 3 publish jobs
            # were the entry's hottest, ~0.7-1.0s each, 1 task). Spread
            # the tiny pre-payload rows so the encode parallelizes; the
            # writer namespaces every partition's blob under this write's
            # one w-<seq>, so the 3-generation pin is unaffected.
            from reflex_spark.operators.multimodal import spread_cpu

            spread_cpu(out, sweet_spot=8).write.format("reflex_blob").option(
                "path", bucket
            ).mode("append").save()

        # size the per-batch shuffles to the data (statestore module note)
        writer = log.read_stream(max_files_per_trigger=1).writeStream.foreachBatch(publish)
        run_query(spark, writer, f"{base}/ckpt", "blob_sink_stream_producer_rollup", 120, log.read())

        with open(f"{bucket}/_SUCCESS", encoding="utf-8") as f:
            manifest = _json.load(f)["blobs"]
        on_disk = sorted(
            _os.path.join("data", fn)
            for fn in _os.listdir(f"{bucket}/data")
            if not fn.startswith(("_", "."))
        )
        if manifest != on_disk:
            raise AssertionError(
                f"producer manifest {manifest} != bucket contents {on_disk}"
            )
        seqs = sorted(
            {
                int(_os.path.basename(k).split("-")[1])
                for k in manifest
                if _os.path.basename(k).startswith("w-")
            }
        )
        if len(seqs) != 3 or seqs != sorted(seqs) or len(set(seqs)) != 3:
            raise AssertionError(
                f"expected 3 strictly ascending producer generations, got {seqs}"
            )
        back = (
            spark.read.format("reflex_blob")
            .option("path", bucket)
            .option("schema", "event_type string, value double")
            .load()
        )
        out = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "stream_compaction_cursor_rollup",
    # Log COMPACTION under a live poll consumer judged end-to-end
    # (r12): id-cursor consumption must be completely oblivious to a
    # physical rewrite of the log's files — the operational fact that
    # makes small-file compaction safe to run in production (the
    # docstring contract of EventLog.compact: poll cursors survive,
    # checkpointed file-source streams must detach). Phase 1 consumes
    # half the corpus; compact() rewrites the log to 2 files behind the
    # atomic symlink swap; phase 2 appends and consumes the rest. Pins:
    # compaction actually shrank the file count; the resumed consumer
    # re-read NOTHING (sink delta == phase-2 rows exactly — a cursor
    # reset to 0 would double phase 1). The final rollup hash-matches
    # the direct whole-table oracle.
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY event_type
    """,
)
def stream_compaction_cursor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consume → compact → append → resume on one id cursor: the poll
    consumer's cursor is an EVENT ID, so rewriting the storage layout
    (coalesce to 2 files, atomic symlink swap) between runs is
    invisible — ids are preserved, the second run() resumes exactly
    after the last consumed id and reads only the post-compaction
    append.  Contrast: a file-tracking streaming checkpoint would
    re-ingest every rewritten file as new data, which is why
    EventLog.compact requires streaming readers to detach first (and
    the judged streaming entries never compact mid-query).

    Scale: compaction is the file-backed log's OPTIMIZE — without it,
    high-rate appends make scan cost file-count-bound; with id cursors
    it needs no coordination with poll consumers at all."""
    import os as _os
    import shutil

    from reflex_spark.sources.event_log import EventLog

    ev = load_tables(spark, sf_dir)["events"]
    half = ev.agg(
        F.expr("percentile_approx(event_id, 0.5, 10000)").alias("m")
    ).collect()[0]["m"]
    base = tempfile.mkdtemp(prefix="compact_cursor_")
    try:
        log = EventLog(spark, f"{base}/log")
        sink = f"{base}/sink"

        def to_log(frame):
            return frame.select(
                F.lit(1).alias("event_type"),
                F.concat_ws(
                    "|", F.col("event_type"), F.col("user_id").cast("string")
                ).alias("foreign_id"),
                F.col("ts").cast("timestamp").alias("timestamp"),
                F.col("value").cast("string").cast("binary").alias("metadata"),
                F.lit(None).cast("binary").alias("trace"),
            )

        def consume(df, meta):
            df.select("foreign_id", "metadata").write.mode("append").parquet(sink)

        store = MemCursorStore()
        # batch_limit sized to the fixture: the judged content is the
        # cursor surviving compaction, not poll granularity (which
        # stream_rollup_counts et al. already judge at small limits) —
        # the default 1000 would mean ~300 poll round-trips at sf0.1
        spec = Spec(
            log,
            store,
            Consumer("cc", consume),
            StreamOptions(to_head=True, batch_limit=1_000_000),
        )

        # phase 1: several appends (many small files), consume to head
        p1 = ev.where(F.col("event_id") <= half)
        for k in range(3):
            log.append(to_log(p1.where(F.col("event_id") % 3 == k)))
        try:
            run(spec)
        except ErrHeadReached:
            pass
        n_sink_1 = spark.read.parquet(sink).count()

        def n_files() -> int:
            return sum(
                1
                for _r, _d, files in _os.walk(f"{base}/log")
                for f in files
                if f.startswith("part-")
            )

        files_before = n_files()
        log.compact(2)
        # compact swaps the path to a symlink; reuse the same handle
        files_after = n_files()
        if files_after >= files_before:
            raise AssertionError(
                f"compaction did not shrink files: {files_before} -> {files_after}"
            )

        # phase 2: append the rest AFTER compaction, resume the SAME cursor
        log.append(to_log(ev.where(F.col("event_id") > half)))
        try:
            run(spec)
        except ErrHeadReached:
            pass
        n_sink_2 = spark.read.parquet(sink).count()
        n_p2 = ev.where(F.col("event_id") > half).count()
        if n_sink_2 - n_sink_1 != n_p2:
            raise AssertionError(
                f"resumed consumer read {n_sink_2 - n_sink_1} rows, expected "
                f"{n_p2}: the cursor did not survive compaction"
            )

        out = (
            spark.read.parquet(sink)
            .select(
                F.split(F.col("foreign_id"), r"\|").alias("fk"),
                F.col("metadata").cast("string").cast("double").alias("value"),
            )
            .select(
                F.col("fk")[0].alias("event_type"),
                F.col("fk")[1].alias("user_id"),
                "value",
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                "event_type",
                F.col("n_events").cast("long").alias("n_events"),
                F.col("n_users").cast("long").alias("n_users"),
                "sum_value",
            )
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "stream_gapfill_recovery_rollup",
    # Gap detection + noop gap filling judged end-to-end (r12; G1/G2
    # were pytest-only): a writer that reserved an id range and CRASHED
    # leaves a permanent hole; the dense guard must halt consumption at
    # the hole (at-least-once cannot skip ids silently), the registered
    # filler must noop-fill exactly the missing ids after the grace
    # wait, and consumption must then proceed to the true head with the
    # noops dropped from delivery (the reference's gapfill.go contract).
    # Pins: noops written == exactly the crashed commit's row count; the
    # consumer delivered exactly the surviving rows. The rollup over
    # delivered rows hash-matches the oracle over the surviving subset.
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events
    WHERE event_id % 101 <> 1
    GROUP BY event_type
    """,
)
def stream_gapfill_recovery_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crash-hole recovery on the poll path: commit 1 lands normally;
    the would-be commit 2 (~1% of rows, event_id % 101 == 1 — a crashed
    commit is one BATCH, not a third of the corpus) CRASHES after
    reserving its id range (simulated by raw-writing commit 3 with
    explicit ids past the hole); `fill_gaps` noop-fills the
    reserved-but-lost ids so the dense-id contract holds and the
    consumer advances — delivering every surviving row exactly once and
    none of the lost ones.

    Scale: the filler writes O(hole) noop rows once; detection is the
    same dense check every poll already does. The alternative designs
    are judged elsewhere — EventLog's own single-file commits cannot
    hole (staged, renamed and recorded under one lock); TxTable is MVCC."""
    import shutil

    from pyspark.sql.window import Window as _W

    from reflex_spark.sources.event_log import EVENT_SCHEMA, EventLog
    from reflex_spark.sources.gapfill import fill_gaps

    ev = load_tables(spark, sf_dir)["events"]
    base = tempfile.mkdtemp(prefix="gapfill_")
    try:
        log = EventLog(spark, f"{base}/log")
        sink = f"{base}/sink"

        def payload(frame):
            return frame.select(
                F.lit(1).alias("event_type"),
                F.concat_ws(
                    "|", F.col("event_type"), F.col("user_id").cast("string")
                ).alias("foreign_id"),
                F.col("ts").cast("timestamp").alias("timestamp"),
                F.col("value").cast("string").cast("binary").alias("metadata"),
                F.lit(None).cast("binary").alias("trace"),
            )

        lost = F.col("event_id") % 101 == 1
        keep = ev.where(~lost)
        p1 = keep.where(F.col("event_id") % 2 == 0)
        p_lost = ev.where(lost)
        p3 = keep.where(F.col("event_id") % 2 == 1)
        n1 = log.append(payload(p1))
        n_lost = p_lost.count()
        # crashed middle writer: commit 3 lands RAW with explicit ids
        # past the reserved-but-never-written hole [n1+1, n1+n_lost]
        w = _W.orderBy("timestamp", "foreign_id")
        raw3 = (
            payload(p3)
            .withColumn(
                "event_id",
                (F.lit(n1 + n_lost) + F.row_number().over(w)).cast("long"),
            )
            .select([f.name for f in EVENT_SCHEMA.fields])
        )
        raw3.write.mode("append").parquet(log.path)
        # out-of-band write: the handle's cached head is stale (explicit
        # raw-writer contract, EventLog.invalidate_head_cache docstring)
        log.invalidate_head_cache()

        fill_gaps(log, grace_seconds=0.2, recheck_interval=0.05)

        def consume(df, meta):
            df.select("foreign_id", "metadata").write.mode("append").parquet(sink)

        spec = Spec(
            log,
            MemCursorStore(),
            Consumer("gf", consume),
            # fixture-sized batches (see stream_compaction_cursor_rollup);
            # the dense guard + filler behave identically at any limit
            StreamOptions(to_head=True, batch_limit=1_000_000),
        )
        try:
            run(spec)
        except ErrHeadReached:
            pass

        n_noops = log.read().where(
            "foreign_id = '0' AND event_type = 0"
        ).count()
        if n_noops != n_lost:
            raise AssertionError(
                f"filler wrote {n_noops} noops, expected the crashed "
                f"commit's {n_lost}"
            )
        delivered = spark.read.parquet(sink)
        n_expected = p1.count() + p3.count()
        if delivered.count() != n_expected:
            raise AssertionError(
                f"consumer delivered {delivered.count()} rows, expected "
                f"{n_expected} (noops must be dropped, survivors complete)"
            )
        out = (
            delivered.select(
                F.split(F.col("foreign_id"), r"\|").alias("fk"),
                F.col("metadata").cast("string").cast("double").alias("value"),
            )
            .select(F.col("fk")[0].alias("event_type"), "value")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                "event_type",
                F.col("n_events").cast("long").alias("n_events"),
                "sum_value",
            )
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "tx_constraint_enforcement_rollup",
    # Delta-style CHECK constraints judged end-to-end (r12): the table
    # declares row-level invariants (price > 0, status in the known
    # set); two poisoned writes — an append with negated prices and a
    # MERGE with a violating update — must raise BEFORE any commit,
    # leaving version and visible rows untouched (staged files without
    # a log entry are invisible: the torn-write guarantee doubles as
    # constraint rollback). The final rollup hash-matching the plain
    # orders oracle is the decoy pattern: had either rejected write
    # leaked, counts and sums would diverge and the hash would fail.
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def tx_constraint_enforcement_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints on the transactional table: every incoming row
    of an append or MERGE must satisfy the declared SQL invariants
    (ANSI semantics — only FALSE violates, NULL passes), validated in
    ONE map-side-combinable aggregation before any commit; violations
    raise ConstraintViolationError naming each failed constraint and
    its row count, and commit nothing.

    In-query pins: both poisoned writes raise; after each rejection the
    version is unchanged and the row count equals the committed state
    (nothing leaked). Scale: the check is one extra aggregation job per
    write over the incoming frame only — never a table scan."""
    import shutil

    from reflex_spark.sources.tx_table import ConstraintViolationError, TxTable

    orders = load_tables(spark, sf_dir)["orders"].select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    base = tempfile.mkdtemp(prefix="tx_constraints_")
    try:
        t = TxTable(
            spark,
            f"{base}/t",
            constraints={
                "positive_price": "price > 0",
                "known_status": "status IN ('O', 'F', 'P')",
            },
        )
        half = orders.where(F.col("okey") % 2 == 0)
        rest = orders.where(F.col("okey") % 2 == 1)
        t.append(half)
        v1 = t.latest_version()
        n1 = t.read().count()

        poisoned = rest.withColumn("price", -F.col("price"))
        try:
            t.append(poisoned)
            raise AssertionError("violating append was not rejected")
        except ConstraintViolationError:
            pass
        if t.latest_version() != v1 or t.read().count() != n1:
            raise AssertionError("rejected append leaked state")

        t.append(rest)
        v2 = t.latest_version()
        n2 = t.read().count()

        bad_merge = spark.createDataFrame(
            [(1, "X", 100.0, 1)], "okey long, status string, price double, ver int"
        )
        try:
            t.merge_by_key(bad_merge, ["okey"], "ver")
            raise AssertionError("violating merge was not rejected")
        except ConstraintViolationError:
            pass
        if t.latest_version() != v2 or t.read().count() != n2:
            raise AssertionError("rejected merge leaked state")

        out = (
            t.read()
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("price").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_price"),
            )
            .select(
                "status",
                F.col("n_orders").cast("long").alias("n_orders"),
                "sum_price",
            )
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "tx_delete_mor_rollup",
    # Merge-on-read DELETE via deletion vectors judged end-to-end
    # (r12): the delete commit writes a (file, row_index) position
    # vector and NOT ONE data file — pinned in-query by comparing the
    # snapshot file lists across the commit — while every read variant
    # suppresses exactly the deleted positions and time travel to the
    # pre-delete version still sees every row. The oracle recomputes
    # before/after per status from first principles; a DV that
    # over-suppressed, under-suppressed, or leaked into the historical
    # snapshot changes a count or a decimal sum and fails the hash.
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN o_orderkey % 13 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_after,
           CAST(SUM(CASE WHEN o_orderkey % 13 <> 0
                         THEN CAST(o_totalprice AS DECIMAL(18,6))
                         ELSE CAST(0 AS DECIMAL(18,6)) END)
                AS DOUBLE) AS sum_price_after
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def tx_delete_mor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector DELETE on the transactional table — the
    current-gen lakehouse small-delete strategy (Delta deletion
    vectors / Iceberg v2 position deletes): O(matched positions)
    written, zero data files rewritten, readers pay one position
    anti-join until OPTIMIZE materializes.  Contrast judged elsewhere:
    ``delete_by_key`` (copy-on-write file rewrite, the CDC-friendly
    form) and ``tx_time_travel_rollup`` (historical reads).

    In-query pins: the data-file set is IDENTICAL before and after the
    DV commit; the pre-delete version still reads every row.  Judged
    columns: per-status row counts before/after and the surviving
    decimal price sum."""
    import shutil

    from reflex_spark.sources.tx_table import TxTable

    orders = load_tables(spark, sf_dir)["orders"].select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    base = tempfile.mkdtemp(prefix="tx_mor_")
    try:
        t = TxTable(spark, f"{base}/t")
        t.append(orders.repartition(4, "okey"))  # hash-clustered files
        v1 = t.latest_version()
        files_v1, _s1, _st1, _dv1 = t._snapshot_state(v1)

        dead = orders.where(F.col("okey") % 13 == 0).select("okey")
        v2 = t.delete_by_key_mor(dead, ["okey"])
        files_v2, _s2, _st2, dvs_v2 = t._snapshot_state(v2)
        if sorted(files_v1) != sorted(files_v2):
            raise AssertionError(
                "merge-on-read delete rewrote data files: "
                f"{sorted(files_v1)} -> {sorted(files_v2)}"
            )
        if not dvs_v2:
            raise AssertionError("DV commit recorded no deletion vector")

        before = (
            t.read(v1)
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n_before"))
        )
        after = (
            t.read()
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("n_after"),
                F.sum(F.col("price").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_price_after"),
            )
        )
        out = before.join(after, "status").select(
            "status",
            F.col("n_before").cast("long").alias("n_before"),
            F.col("n_after").cast("long").alias("n_after"),
            "sum_price_after",
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "stream_cursor_crash_redelivery_rollup",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY event_type
    """,
)
def stream_cursor_crash_redelivery_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Judged crash-recovery of the WRITE-BEHIND cursor buffer (reference
    async cursor flush, rsql/cursorstable.go:169-230: cursor writes
    coalesce on a 5s timer, so a crash loses up to one interval of cursor
    progress and the restarted consumer REDELIVERS that window —
    at-least-once, converging on an idempotent sink).

    Machinery exercised end-to-end: BufferedCursorStore over a durable
    FileCursorStore; the poll run loop delivers fixture events into an
    append-only parquet sink; mid-run, one interval flush fires (the 5s
    timer, deterministically injected at a known batch), then the process
    HARD-CRASHES two batches later — modeled by a store whose flush is
    dead from that instant, because a killed process never runs its exit
    flush. A fresh store + consumer (the restarted process) resumes from
    the durable cursor and runs to head.

    Pinned in-query: (a) redelivery actually happened — the sink holds
    MORE rows than the log (the crash window's batches appear twice);
    (b) delivery is complete — every event id reached the sink; (c) the
    idempotent resolve (dedup by event id, then rollup) is bit-identical
    to the one-shot oracle aggregate. A cursor store that flushed nothing
    (restart from 0) would double-deliver EVERYTHING and fail (a); one
    that flushed too much (cursor ahead of consumption) would lose rows
    and fail (b)/(c)."""
    import shutil

    from reflex_spark.streaming import BufferedCursorStore, FileCursorStore

    ev = load_tables(spark, sf_dir)["events"]
    canonical, code_of = _canonical_events(ev)

    from reflex_spark.sources.event_log import EventLog

    base = tempfile.mkdtemp(prefix="stream_crash_")
    sink = f"{base}/sink"
    log = EventLog(spark, f"{base}/log")
    durable = FileCursorStore(f"{base}/cursors")

    class _Chaos(RuntimeError):
        """Stands in for SIGKILL: unwinds the run loop without cleanup."""

    class _CrashableBuffered(BufferedCursorStore):
        """BufferedCursorStore whose process can 'die': from that moment
        no code of this instance runs in the real world — flush becomes
        a no-op (the exit flush of a killed process never executes) and
        any further use raises."""

        dead = False

        def set_cursor(self, consumer: str, cursor) -> None:
            if self.dead:
                raise _Chaos("set_cursor on a dead process")
            super().set_cursor(consumer, cursor)

        def flush(self) -> None:
            if self.dead:
                return
            super().flush()

    FLUSH_AT, CRASH_AT = 2, 4

    def make_consume(store):
        def consume(batch: DataFrame, meta: dict) -> None:
            if store is not None:  # first (crashing) incarnation
                if meta["batch"] == FLUSH_AT:
                    store.flush()  # the interval timer fires mid-run
                if meta["batch"] == CRASH_AT:
                    store.dead = True  # SIGKILL lands here
                    raise _Chaos("process killed mid-consume")
            batch.select("event_id", "event_type", "metadata").write.mode(
                "append"
            ).parquet(sink)

        return consume

    try:
        n_total = canonical.count()
        log.append(canonical.drop("__orig_id"))
        limit = max(1, n_total // 8)  # ~8 poll batches

        run1_store = _CrashableBuffered(durable, flush_interval=1e9)
        spec1 = Spec(
            log,
            run1_store,
            Consumer("crashy", make_consume(run1_store)),
            StreamOptions(to_head=True, batch_limit=limit),
        )
        try:
            run(spec1)
            raise AssertionError("chaos crash never fired — fixture too small")
        except Exception as exc:  # Consumer wraps the crash in ConsumerError
            if not isinstance(exc, _Chaos) and not isinstance(
                exc.__cause__, _Chaos
            ):
                raise

        resumed_from = durable.get_cursor("crashy")
        if not 0 < resumed_from < n_total:
            raise AssertionError(
                f"durable cursor {resumed_from} outside the crash window "
                f"(0, {n_total}): the interval flush or the crash did not "
                "land where injected"
            )

        # the restarted process: fresh buffer over the same durable store
        spec2 = Spec(
            log,
            BufferedCursorStore(durable, flush_interval=1e9),
            Consumer("crashy", make_consume(None)),
            StreamOptions(to_head=True, batch_limit=limit),
        )
        try:
            run(spec2)
        except ErrHeadReached:
            pass

        delivered = spark.read.parquet(sink)
        n_rows = delivered.count()
        n_ids = delivered.select("event_id").distinct().count()
        if n_rows <= n_total:
            raise AssertionError(
                f"no redelivery observed ({n_rows} sink rows for {n_total} "
                "events): the buffered cursor survived a 'crash' it must not"
            )
        if n_ids != n_total:
            raise AssertionError(
                f"delivery incomplete: {n_ids}/{n_total} distinct event ids"
            )

        out = (
            delivered.dropDuplicates(["event_id"])  # the idempotent sink
            .select(
                "event_type",
                F.col("metadata").cast("string").cast("double").alias("value"),
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                _label_back(code_of).alias("event_type"),
                F.col("n_events").cast("long").alias("n_events"),
                "sum_value",
            )
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "tx_restore_rollup",
    # RESTORE judged end-to-end: seed (v1) -> bad MERGE (v2) -> bad
    # DELETE (v3) -> restore(v1) as commit v4.  The head rollup must
    # equal the SEED recipe (a restore that left any of the damage
    # behind, or replayed it wrong, hash-fails under the 'restored'
    # tag), while the pre-restore head stays readable and mutated (a
    # restore that destroyed history would fail the v3 recipe under
    # 'pre_restore').
    oracle=f"""
    WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
                         o_totalprice AS price
                  FROM orders),
    v2 AS (SELECT k,
                  CASE WHEN k % 7 = 0 THEN 'R' ELSE status END AS status,
                  CASE WHEN k % 7 = 0 THEN price * CAST(2 AS DOUBLE)
                       ELSE price END AS price
           FROM base),
    v3 AS (SELECT * FROM v2 WHERE k % 11 <> 0),
    u AS (SELECT 'pre_restore' AS snapshot, status, price FROM v3
          UNION ALL SELECT 'restored', status, price FROM base)
    SELECT snapshot, status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('price', 'sum_price')}
    FROM u GROUP BY snapshot, status
    """,
)
def tx_restore_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged RESTORE on the transactional table — the mistake-undo
    operator (Delta RESTORE parity): seed the orders fixture (v1), damage
    it with a MERGE re-price (v2) and a DELETE (v3), then ``restore(v1)``
    and roll up BOTH the restored head and the still-readable pre-restore
    version side by side.

    Pinned in-query: restore is METADATA-ONLY (the data directory's file
    set is byte-identical across the restore commit — the rollback cost
    is O(log), never O(table)); history is preserved (restore appears as
    its own commit after append/merge/delete, and v3 still reads back
    with the damage). The hash check then proves the restored snapshot
    equals the seed recipe exactly while the pre-restore snapshot equals
    the damaged recipe — reverted, not re-damaged, not over-reverted.

    Scale posture: restore moves no data and reads no data file — it
    commits the target version's file list (stats and deletion vectors
    ride along, so data skipping and MoR semantics survive the
    rollback). At 100 TB this is the difference between an operational
    undo and a multi-hour table rewrite."""
    import os as _os
    import shutil

    from reflex_spark.sources.tx_table import TxTable

    orders = load_tables(spark, sf_dir)["orders"]
    seed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(1).alias("ver"),
    )
    bad_updates = orders.where(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("R").alias("status"),
        (F.col("o_totalprice") * 2.0).alias("price"),
        F.lit(2).alias("ver"),
    )
    doomed = orders.where(F.col("o_orderkey") % 11 == 0).select(
        F.col("o_orderkey").alias("k")
    )
    base_dir = tempfile.mkdtemp(prefix="tx_restore_")
    try:
        t = TxTable(spark, f"{base_dir}/orders")
        v1 = t.append(seed)
        t.merge_by_key(bad_updates, ["k"], "ver")
        v3 = t.delete_by_key(doomed, ["k"])

        disk_before = sorted(_os.listdir(t.data_dir))
        v4 = t.restore(v1)
        if sorted(_os.listdir(t.data_dir)) != disk_before:
            raise AssertionError(
                "restore wrote or removed data files — the rollback must "
                "be metadata-only"
            )
        ops = [h["op"] for h in t.history()]
        if ops != ["append", "merge", "delete", "restore"]:
            raise AssertionError(f"unexpected commit history: {ops}")
        if v4 != v3 + 1:
            raise AssertionError(f"restore must be the next commit, got {v4}")

        def roll(df: DataFrame, tag: str) -> DataFrame:
            return (
                df.groupBy("status")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum(F.col("price").cast("decimal(18,6)"))
                    .cast("double")
                    .alias("sum_price"),
                )
                .select(
                    F.lit(tag).alias("snapshot"),
                    "status",
                    F.col("n_rows").cast("long").alias("n_rows"),
                    "sum_price",
                )
            )

        out = roll(t.read(version=v3), "pre_restore").unionByName(
            roll(t.read(), "restored")
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return out


@query(
    "tx_merge_tombstone_rollup",
    # MERGE with tombstones judged: ONE commit carries upserts (k%7,
    # re-price at ver 2), deletes (k%11, tombstones), and inserts (k%13
    # shifted strictly past max k).  k%77 keys receive BOTH an upsert and a
    # tombstone at the SAME version — the deterministic tie rule (the
    # delete wins) is baked into the oracle, so a tie-break regression
    # hash-fails.  The oracle recomputes the final state from the recipe.
    oracle=f"""
    WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
                         o_totalprice AS price
                  FROM orders),
    maxk AS (SELECT MAX(k) AS m FROM base),
    final AS (
      SELECT k,
             CASE WHEN k % 7 = 0 THEN 'R' ELSE status END AS status,
             CASE WHEN k % 7 = 0 THEN price * CAST(2 AS DOUBLE)
                  ELSE price END AS price
      FROM base WHERE k % 11 <> 0
      UNION ALL
      SELECT k + m + 1, 'N', price / CAST(2 AS DOUBLE)
      FROM base, maxk WHERE k % 13 = 0
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('price', 'sum_price')}
    FROM final GROUP BY status
    """,
)
def tx_merge_tombstone_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged MERGE WITH TOMBSTONES (Delta's WHEN MATCHED ... THEN DELETE
    parity): one transactional commit applies a change batch mixing
    upserts, brand-new inserts, and deletes — the CDC-apply shape.
    Without the tombstone clause this takes merge + delete as TWO
    commits with a visible intermediate state (and double the touched-
    file rewrites); with it, a change-data stream folds into the table
    atomically.

    Semantics pinned by the hash: version wins (a stale tombstone never
    deletes), unmatched tombstones are no-ops, and at EQUAL version the
    delete wins (k%77 keys carry both intents at ver 2 — the oracle
    encodes delete-wins, so the deterministic tie-break is judged, not
    just unit-tested). In-query pins: exactly ONE merge commit in the
    history, and the stored schema never contains the tombstone column.

    Scale posture: identical to merge_by_key — touched-file discovery is
    stats-prunable, only files containing matched keys rewrite, and the
    tombstone filter is one JVM predicate on the rewrite path."""
    import shutil

    from reflex_spark.sources.tx_table import TxTable

    orders = load_tables(spark, sf_dir)["orders"]
    seed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(1).cast("long").alias("ver"),
    )
    maxk = orders.agg(F.max("o_orderkey").alias("m")).collect()[0]["m"]
    upserts = orders.where(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("R").alias("status"),
        (F.col("o_totalprice") * 2.0).alias("price"),
        F.lit(2).cast("long").alias("ver"),
        F.lit(False).alias("deleted"),
    )
    deletes = orders.where(F.col("o_orderkey") % 11 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("price"),
        F.lit(2).cast("long").alias("ver"),
        F.lit(True).alias("deleted"),
    )
    inserts = orders.where(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + F.lit(maxk) + F.lit(1)).alias("k"),
        F.lit("N").alias("status"),
        (F.col("o_totalprice") / 2.0).alias("price"),
        F.lit(2).cast("long").alias("ver"),
        F.lit(False).alias("deleted"),
    )
    change_batch = upserts.unionByName(deletes).unionByName(inserts)
    base_dir = tempfile.mkdtemp(prefix="tx_tombstone_")
    try:
        t = TxTable(spark, f"{base_dir}/orders")
        t.append(seed)
        t.merge_by_key(change_batch, ["k"], "ver", tombstone_col="deleted")
        if [h["op"] for h in t.history()] != ["append", "merge"]:
            raise AssertionError(
                "the change batch must land as exactly ONE merge commit"
            )
        live = t.read()
        if "deleted" in live.columns:
            raise AssertionError("tombstone column leaked into the schema")
        out = (
            live.groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("price").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_price"),
            )
            .select(
                "status",
                F.col("n_rows").cast("long").alias("n_rows"),
                "sum_price",
            )
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return out


@query(
    "tx_clone_rollup",
    # Shallow clone judged end-to-end: seed the source (v1), CLONE it,
    # then damage ONLY the clone (merge re-price, delete, append). The
    # rollup reads both tables side by side: 'source' must equal the seed
    # recipe (any write leakage from the clone hash-fails it) and 'clone'
    # must equal the mutated recipe (a clone that missed files, dropped
    # DVs, or re-read the source head would diverge).
    oracle=f"""
    WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
                         o_totalprice AS price
                  FROM orders),
    m AS (SELECT k,
                 CASE WHEN k % 7 = 0 THEN 'X' ELSE status END AS status,
                 CASE WHEN k % 7 = 0 THEN price * CAST(2 AS DOUBLE)
                      ELSE price END AS price
          FROM base),
    d AS (SELECT * FROM m WHERE k % 11 <> 0),
    cl AS (SELECT * FROM d
           UNION ALL
           SELECT k + 1000000, 'N', CAST(100 AS DOUBLE)
           FROM base WHERE k % 13 = 0),
    u AS (SELECT 'source' AS table_tag, status, price FROM base
          UNION ALL SELECT 'clone', status, price FROM cl)
    SELECT table_tag, status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('price', 'sum_price')}
    FROM u GROUP BY table_tag, status
    """,
)
def tx_clone_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged ZERO-COPY shallow clone (Delta SHALLOW CLONE parity,
    TxTable.clone): seed the source from orders, clone it without copying
    a byte, then run the experiment-branch workload on the CLONE only —
    a MERGE re-price (k%7 → status X, price ×2), a DELETE (k%11), and an
    append of new promo rows (k%13, shifted keys) — and roll up both
    tables side by side.

    Pinned in-query: (a) the clone is physically zero-copy — every
    cloned data file shares its inode with the source file (hardlink,
    st_nlink >= 2); (b) two-way isolation — after all three clone
    mutations the source's version AND data-directory listing are
    byte-identical to the pre-clone state; (c) the clone's commit 0 is a
    metadata-only 'clone' entry carrying the source's per-file stats.
    The hash check then proves the source still equals the seed recipe
    while the clone equals the mutated recipe exactly.

    Scale posture: clone cost is O(files) hardlinks + one JSON log
    entry — at 100 TB the experiment branch is created in metadata time,
    and immutable data files + uuid naming make cross-table interference
    impossible by construction (vacuum on either side only unlinks its
    own directory entry; the inode lives until the last referrer drops
    it — pinned in tests/test_tx_table.py)."""
    import os as _os
    import shutil

    from reflex_spark.sources.tx_table import TxTable

    orders = load_tables(spark, sf_dir)["orders"]
    seed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(1).alias("ver"),
    )
    base_dir = tempfile.mkdtemp(prefix="tx_clone_")
    try:
        src = TxTable(spark, f"{base_dir}/src")
        src_v = src.append(seed)
        src_disk = sorted(_os.listdir(src.data_dir))

        cl = src.clone(f"{base_dir}/branch")
        entry0 = cl._entry(0)
        if entry0["op"] != "clone" or not entry0.get("adds"):
            raise AssertionError(f"unexpected clone commit 0: {entry0}")
        for fname in entry0["adds"]:
            s_st = _os.stat(_os.path.join(src.data_dir, fname))
            c_st = _os.stat(_os.path.join(cl.data_dir, fname))
            if s_st.st_ino != c_st.st_ino or c_st.st_nlink < 2:
                raise AssertionError(
                    f"clone copied {fname} instead of hardlinking it"
                )

        cl.merge_by_key(
            orders.where(F.col("o_orderkey") % 7 == 0).select(
                F.col("o_orderkey").alias("k"),
                F.lit("X").alias("status"),
                (F.col("o_totalprice") * 2.0).alias("price"),
                F.lit(2).alias("ver"),
            ),
            ["k"],
            "ver",
        )
        cl.delete_by_key(
            orders.where(F.col("o_orderkey") % 11 == 0).select(
                F.col("o_orderkey").alias("k")
            ),
            ["k"],
        )
        cl.append(
            orders.where(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 1000000).alias("k"),
                F.lit("N").alias("status"),
                F.lit(100.0).alias("price"),
                F.lit(1).alias("ver"),
            )
        )

        if src.latest_version() != src_v:
            raise AssertionError("clone mutations advanced the SOURCE log")
        if sorted(_os.listdir(src.data_dir)) != src_disk:
            raise AssertionError(
                "clone mutations touched the source data directory"
            )

        def roll(t: TxTable, tag: str) -> DataFrame:
            return (
                t.read()
                .groupBy("status")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum(F.col("price").cast("decimal(18,6)"))
                    .cast("double")
                    .alias("sum_price"),
                )
                .select(
                    F.lit(tag).alias("table_tag"),
                    "status",
                    F.col("n_rows").cast("long").alias("n_rows"),
                    "sum_price",
                )
            )

        out = roll(src, "source").unionByName(roll(cl, "clone"))
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return out


@query(
    "tx_wap_audit_rollup",
    # WRITE-AUDIT-PUBLISH judged: batch 1 (k%3) publishes, batch 2 (k%5)
    # is internally clean but collides with batch 1 on k%15 and must be
    # REJECTED by the global-uniqueness audit (rolled back, invisible),
    # batch 3 (k%5 minus the collisions) publishes. The head rollup must
    # therefore equal batch1 ∪ batch3 exactly: a gate that let batch 2
    # through double-counts k%15 rows and hash-fails; one that
    # over-rejected loses k%5 rows and fails too.
    oracle=f"""
    WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
                         o_totalprice AS price
                  FROM orders),
    published AS (SELECT * FROM base WHERE k % 3 = 0
                  UNION ALL
                  SELECT * FROM base WHERE k % 5 = 0 AND k % 3 <> 0)
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('price', 'sum_price')}
    FROM published GROUP BY status
    """,
)
def tx_wap_audit_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged WRITE-AUDIT-PUBLISH (TxTable.append_audited + the
    operators/validate expectation suite): every append stages its files,
    audits the WOULD-BE post-commit table state — snapshot ∪ the exact
    staged bytes, one validation aggregation — and publishes only if
    every expectation passes.

    The audited invariant here is GLOBAL key uniqueness, the canonical
    table-level gate a per-row CHECK constraint cannot express: batch 2
    contains no internal duplicates (a row-scoped validator would wave
    it through) but collides with already-published keys on k%15; the
    audit must reject it, roll the staged files back, and leave the log
    and data directory byte-identical (pinned in-query). A disjoint
    batch 3 must then publish normally — the gate rejects bad data, not
    all data.

    Scale posture: the audit costs ONE aggregation pass over snapshot ∪
    staged regardless of how many expectations are attached (map-side
    partials; exact uniqueness the one distinct-expand), and the staged
    files are parquet already in place — publish is a JSON log entry.
    The optimistic-retry loop re-audits when a concurrent commit wins
    the version race, so the certified state is never stale."""
    import os as _os
    import shutil

    from reflex_spark.operators import validate as V
    from reflex_spark.sources.tx_table import AuditFailedError, TxTable

    orders = load_tables(spark, sf_dir)["orders"]

    def batch(pred) -> DataFrame:
        return orders.where(pred).select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )

    gates = [V.is_unique("k"), V.is_complete("price")]
    base_dir = tempfile.mkdtemp(prefix="tx_wap_")
    try:
        t = TxTable(spark, f"{base_dir}/t")
        t.append_audited(batch(F.col("o_orderkey") % 3 == 0), gates)
        v_pub = t.latest_version()
        disk = sorted(_os.listdir(t.data_dir))

        try:
            t.append_audited(batch(F.col("o_orderkey") % 5 == 0), gates)
            raise AssertionError(
                "audit passed a batch that duplicates published keys"
            )
        except AuditFailedError as exc:
            if "unique(k)" not in str(exc):
                raise AssertionError(f"wrong audit failure: {exc}") from exc
        if t.latest_version() != v_pub:
            raise AssertionError("rejected batch advanced the log")
        if sorted(_os.listdir(t.data_dir)) != disk:
            raise AssertionError("rejected batch left staged files behind")

        t.append_audited(
            batch(
                (F.col("o_orderkey") % 5 == 0)
                & (F.col("o_orderkey") % 3 != 0)
            ),
            gates,
        )

        out = (
            t.read()
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.col("price").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_price"),
            )
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return out


@query(
    "stream_quality_quarantine_rollup",
    # Batch-level quality gate judged: ids are assigned in original-id
    # order, so poll batch b (limit L = n/8) holds original ids
    # [bL, (b+1)L). Poison rule: HALF of batch 2's rows (even ids in
    # [2L, 3L)) lose their value -> completeness 0.5 < 0.99 -> the WHOLE
    # batch (clean rows included) must be quarantined; batch 5 gets
    # exactly ONE poisoned row (id 5L+7) -> completeness 1 - 1/L >= 0.99
    # -> must PUBLISH, bad row included. The oracle hardcodes that
    # expected routing; a gate that quarantines too much, too little, or
    # rows instead of batches hash-fails.
    oracle=f"""
    WITH l AS (SELECT GREATEST(1, COUNT(*) // 8) AS lim FROM events),
    e AS (SELECT event_type,
                 CASE WHEN (event_id >= 2 * lim AND event_id < 3 * lim
                            AND event_id % 2 = 0)
                        OR event_id = 5 * lim + 7
                      THEN NULL ELSE value END AS v,
                 event_id // lim AS b
          FROM events, l),
    d AS (SELECT CASE WHEN b = 2 THEN 'quarantined' ELSE 'published' END
                   AS disposition,
                 event_type, v
          FROM e)
    SELECT disposition, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('v', 'sum_value')}
    FROM d GROUP BY disposition, event_type
    """,
)
def stream_quality_quarantine_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming BATCH-LEVEL quality gate with quarantine: every poll
    batch is audited by the single-pass expectation suite
    (operators/validate — here completeness(value) >= 0.99) and routed
    WHOLESALE to the published or the quarantine sink. Batch granularity
    is the operational point (the dead-letter pattern's table-level
    sibling): a corrupted upstream window is held back as one reviewable
    unit — including its clean rows — instead of leaking a
    half-batch downstream, while a batch with an isolated bad row (below
    the threshold) publishes unchanged. Both directions are pinned: the
    half-poisoned batch must quarantine, the one-bad-row batch must
    publish.

    Mechanics under test: EventLog id assignment with an explicit
    ``order_by`` (deterministic batch boundaries the oracle replays
    exactly), the poll run loop's batch_limit windowing, a per-batch
    validate() report driving control flow (one 1-row control-plane
    collect per batch), and disposition-tagged parquet sinks.

    Scale posture: the gate adds ONE map-side-combinable aggregation per
    micro-batch (the expectation pass) — no extra shuffle, no Python in
    the data path; quarantined batches cost a parquet append, not a
    pipeline stall; thresholds are declarative Expectation objects shared
    with the batch-side WAP gate (append_audited)."""
    import shutil

    from reflex_spark.operators import validate as V
    from reflex_spark.sources.event_log import EventLog

    ev = load_tables(spark, sf_dir)["events"]
    canonical, code_of = _canonical_events(ev)

    # Fixture contract, asserted loudly up front (the poison layout and
    # the oracle both key off raw event_id // L): ids must be 0-based and
    # dense (so poll-batch b == id // L exactly), and L = n//8 >= 100 so
    # one bad row keeps batch-5 completeness >= 0.99 and id 5L+7 lands
    # inside batch 5. Other fixtures fail HERE with a clear message
    # instead of as an opaque hash mismatch downstream.
    bounds = canonical.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__orig_id").alias("lo"),
        F.max("__orig_id").alias("hi"),
    ).collect()[0]
    n_total = bounds["n"]
    if (
        n_total < 800
        or bounds["lo"] != 0
        or bounds["hi"] != n_total - 1
    ):
        raise AssertionError(
            "stream_quality_quarantine_rollup requires a fixture with "
            ">= 800 events and 0-based dense event_id (got n="
            f"{n_total}, min={bounds['lo']}, max={bounds['hi']}); the "
            "poison layout and the DuckDB oracle both derive batch "
            "membership as event_id // (n//8)"
        )
    limit = max(1, n_total // 8)
    # poison AT THE SOURCE (the corrupt upstream the gate exists for):
    # half of batch 2's rows, one row of batch 5 — by original id, which
    # order_by below turns into the exact batch layout the oracle replays
    oid = F.col("__orig_id")
    poisoned = canonical.withColumn(
        "metadata",
        F.when(
            ((oid >= 2 * limit) & (oid < 3 * limit) & (oid % 2 == 0))
            | (oid == 5 * limit + 7),
            F.lit(None).cast("binary"),
        ).otherwise(F.col("metadata")),
    )

    base = tempfile.mkdtemp(prefix="stream_quarantine_")
    sink = f"{base}/sink"
    gate = [V.is_complete("value", at_least=0.99)]
    quarantined_batches: list[int] = []

    def consume(batch: DataFrame, meta: dict) -> None:
        parsed = batch.select(
            "event_id",
            "event_type",
            F.col("metadata").cast("string").cast("double").alias("value"),
        )
        report = V.validate(parsed, gate).collect()  # 1 row, control-plane
        ok = all(r["passed"] for r in report)
        if not ok:
            quarantined_batches.append(meta["batch"])
        parsed.withColumn(
            "disposition",
            F.lit("published" if ok else "quarantined"),
        ).write.mode("append").parquet(sink)

    try:
        log = EventLog(spark, f"{base}/log")
        log.append(poisoned, order_by=["__orig_id"])
        spec = Spec(
            log,
            MemCursorStore(),
            Consumer("gatekeeper", consume),
            StreamOptions(to_head=True, batch_limit=limit),
        )
        try:
            run(spec)
        except ErrHeadReached:
            pass

        if quarantined_batches != [2]:
            raise AssertionError(
                f"gate quarantined batches {quarantined_batches}, "
                "expected exactly [2] (the half-poisoned batch; the "
                "one-bad-row batch 5 must publish)"
            )

        out = (
            spark.read.parquet(sink)
            .groupBy("disposition", "event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                "disposition",
                _label_back(code_of).alias("event_type"),
                "n_events",
                "sum_value",
            )
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "blob_csv_gzip_rollup",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY event_type
    """,
)
def blob_csv_gzip_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pluggable blob decoder judged (reference WithDecoder,
    rblob/blob.go:38-42, default JSONDecoder): the bucket holds GZIPPED
    CSV blobs — the Firehose-style layout — and BlobBucket(fmt="csv")
    decodes them with Spark's native CSV reader (JVM-side, parallel; the
    reference's per-blob Decoder hook re-expressed as a format
    parameter), gzip handled transparently by the codec infrastructure
    on every read path.

    Pinned in-query: every blob in the bucket really is ``*.csv.gz``
    (the decompress+decode path is load-bearing, not incidental), and the
    SAME bucket read through the registered ``format("reflex_blob")``
    DataSource with ``fmt="csv"`` — the surface with planning-time
    ``after_key`` pruning and the streaming offset ledger — produces a
    bit-identical rollup, so the decoder genuinely plugs into both scans
    (the reference's Decoder plugs into THE stream, rblob/blob.go:21-42,
    not one of several). Doubles survive the CSV round-trip bit-exactly
    (Spark writes shortest-round-trip renderings and parses them back to
    the same bits), so the decimal rollup hash-matches the oracle
    computed directly on the fixture."""
    import os as _os
    import shutil

    from pyspark.sql.types import StructType

    from reflex_spark.sources.blob import BlobBucket
    from reflex_spark.sources.blob_datasource import register as _register_ds

    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="blob_csvgz_")
    try:
        bucket = f"{base}/bucket"
        ev.write.option("compression", "gzip").csv(bucket)

        blobs = [
            f
            for f in _os.listdir(bucket)
            if not f.startswith(("_", "."))
        ]
        if not blobs or not all(f.endswith(".csv.gz") for f in blobs):
            raise AssertionError(
                f"bucket is not gzipped CSV: {sorted(blobs)[:3]}"
            )

        schema = StructType.fromDDL(
            "event_id long, event_type string, value double"
        )

        def rollup(df):
            return (
                df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_events"),
                    F.sum(F.col("value").cast("decimal(18,6)"))
                    .cast("double")
                    .alias("sum_value"),
                )
            )

        out = rollup(BlobBucket(spark, bucket, schema, fmt="csv").read())
        out = out.localCheckpoint()  # materialize before temp-dir cleanup

        # same bucket through the registered DataSource's csv decoder:
        # both read paths must agree bit-for-bit (3-row control-plane
        # collects; value comparison is on the identical decimal sums)
        _register_ds(spark)
        via_ds = rollup(
            spark.read.format("reflex_blob")
            .option("path", bucket)
            .option("schema", "event_id long, event_type string, value double")
            .option("fmt", "csv")
            .load()
        )
        a = sorted(tuple(r) for r in out.collect())
        b = sorted(tuple(r) for r in via_ds.collect())
        if a != b:
            raise AssertionError(
                f"file-source and reflex_blob DataSource csv decodes "
                f"diverge: {a} vs {b}"
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "tx_files_optimize_rollup",
    # Compaction economics judged through the metadata table: the rollup
    # carries (phase, file-count bucket, row stats) for the small-files
    # state and the optimized state; the data itself must be bit-identical
    # across the rewrite (same per-status decimal sums both phases).
    oracle=f"""
    WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
                         o_totalprice AS price
                  FROM orders WHERE o_orderkey % 4 = 0),
    r AS (SELECT status,
                 CAST(COUNT(*) AS BIGINT) AS n_rows,
                 {sql_dsum('price', 'sum_price')}
          FROM base GROUP BY status)
    SELECT 'small_files' AS phase, * FROM r
    UNION ALL
    SELECT 'optimized', * FROM r
    """,
)
def tx_files_optimize_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files lifecycle judged end-to-end through the files()
    METADATA TABLE (Iceberg table.files analogue): 8 tiny appends create
    a small-files-bound table — files() (control-plane: commit log +
    sizes, zero data bytes read) shows >= 8 live files — then OPTIMIZE
    bin-packs to 2, files() confirms exactly 2 with recorded min/max
    stats on the sort key, and the rollup proves the rewrite was purely
    physical: both phases' per-status decimal sums are pinned identical
    by the oracle's duplicated recipe.

    Scale posture: detecting the small-files state costs O(files)
    metadata, never a scan — at 100 TB, 'should I OPTIMIZE' is answered
    from the log; the compaction itself is the one full rewrite, after
    which merge-side data skipping tightens (range-sorted output files
    cover disjoint key ranges — the §skew/scale pytest pins the
    pruning improvement)."""
    import shutil

    from reflex_spark.sources.tx_table import TxTable

    orders = load_tables(spark, sf_dir)["orders"]
    base_rows = orders.where(F.col("o_orderkey") % 4 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    base_dir = tempfile.mkdtemp(prefix="tx_files_opt_")
    try:
        t = TxTable(spark, f"{base_dir}/t", stats_cols=["k"])
        for i in range(8):  # a producer drip-feeding small commits
            t.append(
                base_rows.where(F.expr("(k div 4) % 8") == i).coalesce(1)
            )
        meta_small = t.files().collect()
        if len(meta_small) < 8:
            raise AssertionError(
                f"expected >= 8 small files, files() shows {len(meta_small)}"
            )

        def roll(tag: str) -> DataFrame:
            return (
                t.read()
                .groupBy("status")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum(F.col("price").cast("decimal(18,6)"))
                    .cast("double")
                    .alias("sum_price"),
                )
                .select(F.lit(tag).alias("phase"), "*")
            )

        out_small = roll("small_files").localCheckpoint()

        t.optimize(sort_by=["k"], target_files=2)
        meta_opt = t.files().collect()
        if len(meta_opt) != 2:
            raise AssertionError(
                f"optimize(target_files=2) left {len(meta_opt)} files"
            )
        import json as _json

        for r in meta_opt:
            st = _json.loads(r["stats"])
            if "k" not in st:
                raise AssertionError(
                    "optimized file lacks min/max stats on the sort key"
                )

        out = out_small.unionByName(roll("optimized"))
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return out


@query(
    "tx_timestamp_as_of_rollup",
    oracle=f"""
    WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
                         o_totalprice AS price
                  FROM orders),
    v1 AS (SELECT * FROM base WHERE k % 11 <> 0),
    u AS (SELECT 'as_of_t0' AS snapshot, status, price FROM base
          UNION ALL SELECT 'as_of_t1', status, price FROM v1)
    SELECT snapshot, status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('price', 'sum_price')}
    FROM u GROUP BY snapshot, status
    """,
)
def tx_timestamp_as_of_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged TIMESTAMP AS OF (Delta parity): commits record wall time;
    ``version_at(ts)`` resolves the latest commit at or before a time
    and ``read_as_of(ts)`` reads that snapshot. The query captures two
    wall timestamps in-flight — t0 after the seed commit, t1 after a
    delete — and rolls both AS OF reads up side by side; the oracle
    replays the seed and post-delete recipes, so a resolution that is
    off by one commit in either direction hash-fails.

    Pinned in-query: version_at(t0) < version_at(t1) (the timestamps
    straddle the delete commit), and a timestamp predating the oldest
    retained commit refuses with ValueError (Delta's 'before earliest
    version' error). Writer-clock caveat from the implementation
    applies: timestamps are the operator-convenience form, version
    numbers remain the precise audit key — which is exactly why both
    snapshots here are ALSO pinned by content through the hash."""
    import shutil
    import time as _time

    from reflex_spark.sources.tx_table import TxTable

    orders = load_tables(spark, sf_dir)["orders"]
    seed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    base_dir = tempfile.mkdtemp(prefix="tx_asof_")
    try:
        t = TxTable(spark, f"{base_dir}/t")
        t.append(seed)
        t0 = _time.time()
        _time.sleep(0.02)  # distinct wall times across the delete commit
        t.delete_by_key(
            orders.where(F.col("o_orderkey") % 11 == 0).select(
                F.col("o_orderkey").alias("k")
            ),
            ["k"],
        )
        t1 = _time.time()

        v0, v1 = t.version_at(t0), t.version_at(t1)
        if not v0 < v1:
            raise AssertionError(
                f"timestamps did not straddle the delete: {v0} vs {v1}"
            )
        try:
            t.version_at(t0 - 1e7)
            raise AssertionError("pre-genesis timestamp did not refuse")
        except ValueError:
            pass

        def roll(ts: float, tag: str) -> DataFrame:
            return (
                t.read_as_of(ts)
                .groupBy("status")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum(F.col("price").cast("decimal(18,6)"))
                    .cast("double")
                    .alias("sum_price"),
                )
                .select(F.lit(tag).alias("snapshot"), "*")
            )

        out = roll(t0, "as_of_t0").unionByName(roll(t1, "as_of_t1"))
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return out


@query(
    "tx_concurrent_retry_rollup",
    # Two writers race on one table: writer B's DELETE (k % 11 = 0) wins
    # the version for which writer A's MERGE (k % 7 = 0 -> status 'X',
    # price x2, ver 2) first tried to commit; A re-executes with
    # retries=1 against the post-delete head. The oracle replays the
    # SERIAL delete-then-merge order the race resolved to — a retry that
    # replayed A's stale pre-delete snapshot would resurrect deleted
    # rows (k % 77 = 0 keys only come back as 'X' inserts) and hash-fail.
    oracle=f"""
    WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
                         o_totalprice AS price, 1 AS ver
                  FROM orders),
    after_del AS (SELECT * FROM base WHERE k % 11 <> 0),
    upd AS (SELECT o_orderkey AS k, 'X' AS status,
                   o_totalprice * CAST(2 AS DOUBLE) AS price, 2 AS ver
            FROM orders WHERE o_orderkey % 7 = 0),
    merged AS (SELECT COALESCE(u.k, d.k) AS k,
                      COALESCE(u.status, d.status) AS status,
                      COALESCE(u.price, d.price) AS price,
                      COALESCE(u.ver, d.ver) AS ver
               FROM after_del d FULL OUTER JOIN upd u ON d.k = u.k)
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(ver) AS BIGINT) AS sum_ver,
           {sql_dsum('price', 'sum_price')}
    FROM merged GROUP BY status
    """,
)
def tx_concurrent_retry_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The optimistic-concurrency retry path judged end-to-end (Delta
    writer-conflict parity; SCALE_NOTES §46): TWO TxTable handles on one
    table path race a MERGE against a DELETE. Writer B's delete commits
    — through the real commit protocol — at the exact version writer A's
    merge first tries to take, so A's attempt genuinely loses the
    exclusive-publish version race, unstages its staged files, and ``retries=1``
    re-executes the whole merge against the post-delete head.

    Pinned in-query: (a) the race really happened — A's merge needed
    exactly TWO commit attempts; (b) the final history is the serial
    order the race resolved to (append, delete, merge — three commits,
    no lost or duplicated version); (c) NO ORPHANS — every parquet file
    on disk is referenced by some retained version, i.e. the losing
    attempt's output was unstaged, not leaked until vacuum. The hash
    check then proves the retried merge recomputed from the NEW head:
    deleted keys stay deleted unless the merge legitimately re-inserts
    them (k % 77 = 0), and re-inserted rows carry the update's values.

    Scale posture: conflict cost is O(one attempt's work), not O(table)
    — the loser re-derives its file-level rewrite plan from the new
    snapshot (stats-pruned like any merge) and the commit itself stays
    an O(1) atomic link; nothing global locks, and the unstaging
    keeps storage debt bounded by live versions rather than by failed
    attempts."""
    import os as _os
    import shutil

    from reflex_spark.sources.tx_table import TxTable

    orders = load_tables(spark, sf_dir)["orders"]
    seed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(1).alias("ver"),
    )
    updates = orders.where(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("X").alias("status"),
        (F.col("o_totalprice") * 2.0).alias("price"),
        F.lit(2).alias("ver"),
    )
    doomed = orders.where(F.col("o_orderkey") % 11 == 0).select(
        F.col("o_orderkey").alias("k")
    )
    base_dir = tempfile.mkdtemp(prefix="tx_retry_race_")
    try:
        path = f"{base_dir}/orders"
        t_a = TxTable(spark, path)
        t_a.append(seed)
        t_b = TxTable(spark, path)

        # deterministic interleave injection through TxTable's
        # documented commit seam (_on_before_commit — VERDICT r14 Next
        # #6): at the instant A's merge first reaches the commit
        # protocol, B's delete commits FOR REAL through its own handle —
        # then A's commit hits the already-taken version file (the
        # genuine exclusive-publish race loss)
        attempts = {"merge": 0}

        def interleave(version: int, entry: dict) -> None:
            if entry.get("op") == "merge":
                attempts["merge"] += 1
                if attempts["merge"] == 1:
                    t_b.delete_by_key(doomed, ["k"])

        t_a._on_before_commit = interleave
        try:
            t_a.merge_by_key(updates, ["k"], "ver", retries=1)
        finally:
            t_a._on_before_commit = None

        if attempts["merge"] != 2:
            raise AssertionError(
                f"expected the merge to lose once and retry once "
                f"(2 commit attempts), saw {attempts['merge']}"
            )
        ops = [h["op"] for h in t_a.history()]
        if ops != ["append", "delete", "merge"]:
            raise AssertionError(f"unexpected commit history: {ops}")
        referenced: set[str] = set()
        for ver in t_a._versions():
            e = t_a._entry(ver)
            referenced |= set(e.get("adds", []))
            referenced |= set(e.get("dv_adds", []))
        on_disk = set(_os.listdir(t_a.data_dir))
        if not on_disk <= referenced:
            raise AssertionError(
                f"losing attempt leaked orphan files: {on_disk - referenced}"
            )

        out = (
            t_a.read()
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("ver").cast("long").alias("sum_ver"),
                F.sum(F.col("price").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_price"),
            )
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return out


@query(
    "blob_poll_midblob_rollup",
    # The mid-blob cursor contract judged: after the dedup-resolve, the
    # sink must equal the plain fixture rollup — redelivery (pinned
    # in-query to EXACTLY the crashed chunk, never the whole blob) is
    # absorbed by idempotent resolution, so any cursor bug (whole-blob
    # redelivery, skipped suffix, double-committed chunk) breaks either
    # an in-query pin or this hash.
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY event_type
    """,
)
def blob_poll_midblob_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The run_blobs POLL LOOP with a MID-BLOB crash judged end-to-end
    (reference rblob/blob.go:367-416 — the composite ``key|NN|offset``
    cursor whose whole point is that a consumer dying inside a large
    blob redelivers one CHUNK, not the blob): events land as 4
    lexicographically ordered JSON blobs; a consumer with
    records_per_batch = ~third-of-a-blob crashes AFTER sinking (before
    acking) the second chunk of the SECOND blob; the resumed consumer
    finishes the bucket.

    Pinned in-query: (a) the committed cursor at the crash parses as the
    mid-blob ``key|NN|offset`` form with 0 < offset < that blob's record
    count; (b) redelivery amplitude is EXACTLY the crashed chunk —
    sink rows = n + |chunk| (a file-granularity cursor would redeliver
    the whole blob prefix and overshoot); (c) every event id arrived
    (at-least-once completeness); (d) the per-blob record indexing runs
    JVM-side — no ExistingRDD (Python-RDD) scan in the poll reader's
    plan for in-cap blobs (the round-14 wholetext + posexplode route).
    The dedup-resolved rollup is then hash-checked against the direct
    fixture oracle.

    Scale posture: redelivery amplitude bounds crash cost by the CHUNK
    size regardless of blob size (the reference's resume contract); the
    per-blob index derivation is whole-stage-codegen under the
    documented 128 MiB cap, and cursor commits are O(1) strings — the
    loop's only per-chunk driver work."""
    import shutil

    from reflex_spark.sources.blob import BlobBucket, BlobCursor, run_blobs
    from reflex_spark.streaming.cursors import MemCursorStore as _Mem

    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", "event_type", "value"
    )
    n_total = ev.count()
    q_size = -(-n_total // 4)  # ceil: 4 ordered quartile blobs
    ev4 = ev.withColumn("q", (F.col("event_id") / q_size).cast("int"))
    base = tempfile.mkdtemp(prefix="blob_poll_")
    try:
        bucket_dir = f"{base}/bucket"
        ev4.repartition("q").write.partitionBy("q").json(bucket_dir)

        from pyspark.sql.types import StructType

        schema = StructType.fromDDL(
            "event_id long, event_type string, value double"
        )
        bucket = BlobBucket(spark, bucket_dir, schema)
        keys = [k for k, _sz in bucket.list_blobs()]
        if len(keys) != 4:
            raise AssertionError(f"expected 4 blobs, found {len(keys)}")
        blob2 = keys[1]
        total2 = ev4.where(F.col("q") == 1).count()
        chunk = max(2, -(-total2 // 3))  # ~3 chunks per blob
        if total2 <= chunk:
            raise AssertionError(
                f"fixture too small for a mid-blob crash: blob2 has "
                f"{total2} records <= chunk {chunk}"
            )
        # pin (d): the poll reader's index derivation is JVM-side
        plan = (
            bucket.read_blob_records(blob2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if "ExistingRDD" in plan:
            raise AssertionError(
                "poll-path record indexing fell back to the Python-RDD "
                "hop for an in-cap blob"
            )

        sink = f"{base}/sink"
        store = _Mem()
        crashed = {"done": False}

        def crashing(df: DataFrame, meta: dict) -> None:
            df.write.mode("append").parquet(sink)  # sink BEFORE the ack
            if (
                not crashed["done"]
                and meta["key"] == blob2
                and meta["offset"] > 0
            ):
                crashed["done"] = True
                raise RuntimeError("crash after sink, before cursor commit")

        try:
            run_blobs(
                bucket, store, Consumer("poll", crashing),
                records_per_batch=chunk,
            )
            raise AssertionError("consumer was expected to crash mid-blob")
        except RuntimeError:
            pass
        cur = BlobCursor.decode(store.get_cursor("poll"))
        if not (cur.key == blob2 and not cur.eof and 0 < cur.offset < total2):
            raise AssertionError(
                f"crash cursor is not mid-blob: {cur.encode()!r} "
                f"(blob2 {blob2!r}, {total2} records)"
            )
        crashed_chunk = min(chunk, total2 - cur.offset)

        def ok(df: DataFrame, meta: dict) -> None:
            df.write.mode("append").parquet(sink)

        try:
            run_blobs(
                bucket, store, Consumer("poll", ok), records_per_batch=chunk
            )
        except ErrHeadReached:
            pass

        sunk = spark.read.parquet(sink)
        n_sunk = sunk.count()
        if n_sunk != n_total + crashed_chunk:
            raise AssertionError(
                f"redelivery amplitude wrong: {n_sunk} sink rows vs "
                f"{n_total} events + crashed chunk {crashed_chunk} — a "
                "file-granularity cursor would redeliver the whole blob"
            )
        n_ids = sunk.select("event_id").distinct().count()
        if n_ids != n_total:
            raise AssertionError(
                f"at-least-once completeness broken: {n_ids}/{n_total} ids"
            )
        out = (
            sunk.groupBy("event_id")  # idempotent resolve: rows identical
            .agg(
                F.max("event_type").alias("event_type"),
                F.max("value").alias("value"),
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_value"),
            )
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


# the shared closed-form IVF probe oracle — the same contract the
# append/split/snapshot/repair/compact rollups judge against (no import
# cycle: queries.similarity imports only the package root)
from reflex_spark.queries.similarity import (  # noqa: E402
    _SQL_IVF_CLOSED_PROBE as _ANN_CLOSED_PROBE,
)


def _embedding_events(stream: DataFrame) -> DataFrame:
    """Embedding rows as EventLog-appendable events — the ONE codec both
    stream_ann queries share: the float vector rides in ``metadata`` as
    a comma-joined string (Java float→string→float round-trips exactly,
    pinned on the full stream by the maintenance rollup, so this is an
    exact codec, not an approximation)."""
    return stream.select(
        F.lit(1).alias("event_type"),
        F.col("vec_id").cast("string").alias("foreign_id"),
        F.timestamp_seconds(
            F.lit(1_000_000_000) + F.col("vec_id")
        ).alias("timestamp"),
        F.array_join(
            F.transform("embedding", lambda x: x.cast("string")), ","
        )
        .cast("binary")
        .alias("metadata"),
        F.lit(None).cast("binary").alias("trace"),
    )


def _decode_embedding_batch(batch: DataFrame) -> DataFrame:
    """Inverse of ``_embedding_events``, entirely JVM-side (split +
    casts — no Python row path in the per-batch hot loop)."""
    return batch.select(
        F.col("foreign_id").cast("long").alias("vec_id"),
        F.transform(
            F.split(F.col("metadata").cast("string"), ","),
            lambda x: x.cast("float"),
        ).alias("embedding"),
    )


@query(
    "stream_ann_index_maintenance_rollup",
    # The judged rows are the STREAM-BUILT index's probe: a consumer
    # drives IvfIndex.append per poll batch, crashes at the append's
    # real commit point, refuses the redelivered batch over its own
    # orphans, repairs, and resumes to head — after which the index
    # must hold the corpus EXACTLY ONCE, so the probe equals the
    # closed-form full-corpus replay. A double-ingested redelivery or
    # a dropped batch changes cos_sim rows and hash-fails.
    oracle=_ANN_CLOSED_PROBE,
)
def stream_ann_index_maintenance_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The two flagship families COMPOSED and judged (VERDICT r15 Next
    #3): the reflex streaming surface (poll run loop, durable cursor,
    at-least-once redelivery — the reference's consumers driving
    downstream state, ``_example/exserver/ops/ops.go:14-33``) feeding
    the persisted ANN index's incremental maintenance
    (``IvfIndex.append``), with the crash lifecycle of BOTH layers
    interleaved mid-stream.

    Shape: a quarter of the embeddings corpus seeds the index build
    (the bootstrap backfill); the rest is appended to an ``EventLog``
    as embedding events — ``foreign_id`` carries the vec_id, the
    float vector rides in ``metadata`` as a comma-joined string
    (Java float→string→float round-trips exactly; pinned in-query on
    the full stream). A consumer decodes each poll batch JVM-side and
    calls ``idx.append(batch)``.

    Crash choreography, all at real seams: at poll batch 3 the append
    dies AT ITS LEDGER COMMIT POINT (``_inject_before_commit``) — the
    batch's files sit in live partitions, unreferenced; the run loop
    unwinds before ``set_cursor``, so the durable cursor still points
    at batch 2's end. Pinned: (a) the index snapshot never saw the
    crashed batch (ledger total == seed + 3 committed batches); (b)
    the RESTARTED consumer's redelivery of batch 3 REFUSES loudly —
    ``IvfIndex.append``'s orphan backstop composing with cursor
    redelivery exactly as designed (adopting the crashed files could
    commit a partial batch); (c) ``repair()`` reclaims the orphans
    (>0 files) without touching committed state; (d) the resumed run
    consumes to head and every vector landed exactly once (ledger
    total == corpus, distinct vec_ids == corpus); (e) the final probe
    — ``eager=True``, the materializing mode probes use when they run
    concurrently with maintenance — hashes bit-equal to the
    closed-form DuckDB oracle.

    Scale posture: each poll batch costs O(|batch| x n_lists) assign +
    O(|batch|) write + O(touched-partitions) ledger metadata — ingest
    stays O(batch) forever; the one O(index) op (repair) runs once,
    after the crash, exactly as documented. The log's metadata payload
    streams through the JVM (array_join/split + casts — no Python
    row path)."""
    import shutil

    from reflex_spark.operators.similarity import IvfIndex
    from reflex_spark.queries.similarity import _IVF_LISTS, _IVF_PROBE
    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.streaming import FileCursorStore

    emb = load_tables(spark, sf_dir)["embeddings"]
    n_corpus = emb.count()
    n_seed = n_corpus // 4
    cent = emb.where(F.col("vec_id") < _IVF_LISTS).select(
        F.col("vec_id").cast("int").alias("list_id"),
        F.col("embedding").alias("centroid"),
    )
    seed = emb.where(F.col("vec_id") < n_seed)
    stream = emb.where(F.col("vec_id") >= n_seed)
    n_stream = n_corpus - n_seed

    base = tempfile.mkdtemp(prefix="stream_ann_")
    try:
        # -- the log of embedding events (payload = exact float codec) --
        log = EventLog(spark, f"{base}/log")
        log.append(_embedding_events(stream), order_by=["timestamp"])
        decode = _decode_embedding_batch

        # codec exactness pinned on the WHOLE stream before consuming:
        # a payload that decodes differently would silently corrupt the
        # index, not fail a join
        n_bad = (
            decode(log.read())
            .alias("d")
            .join(emb.alias("e"), "vec_id")
            .where(
                F.expr(
                    "exists(zip_with(d.embedding, e.embedding,"
                    " (x, y) -> x <> y), p -> p)"
                )
            )
            .count()
        )
        if n_bad:
            raise AssertionError(
                f"metadata codec not exact: {n_bad} vectors drifted"
            )

        idx = IvfIndex.build(spark, f"{base}/idx", seed, cent)
        durable = FileCursorStore(f"{base}/cursors")
        limit = max(1, n_stream // 6)  # ~6 poll batches
        CRASH_AT = 3

        class _Chaos(RuntimeError):
            """Stands in for SIGKILL mid-append."""

        def crash(op: str) -> None:
            raise _Chaos(f"injected crash at {op} commit point")

        armed_once = {"done": False}

        def consume(batch: DataFrame, meta: dict) -> None:
            # one-shot: each restarted run numbers its batches from 0
            # again, so without the flag the resumed run would re-crash
            # at ITS batch 3
            if meta["batch"] == CRASH_AT and not armed_once["done"]:
                armed_once["done"] = True
                idx._inject_before_commit = crash
            try:
                idx.append(decode(batch))
            finally:
                idx._inject_before_commit = None

        def spec() -> Spec:
            return Spec(
                log,
                durable,
                Consumer("ann_maintainer", consume),
                StreamOptions(to_head=True, batch_limit=limit),
            )

        crashed = False
        try:
            run(spec())
        except Exception as exc:
            if isinstance(exc, _Chaos) or isinstance(exc.__cause__, _Chaos):
                crashed = True
            else:
                raise
        if not crashed:
            raise AssertionError("injected crash never fired")
        # (a) the crashed batch is invisible to the committed snapshot
        n_committed = sum(idx.list_counts().values())
        if n_committed != n_seed + CRASH_AT * limit:
            raise AssertionError(
                f"crashed append moved the ledger: {n_committed} != "
                f"{n_seed} + {CRASH_AT}x{limit}"
            )

        # (b) the restarted consumer's redelivery refuses over orphans
        refused = False
        try:
            run(spec())
        except Exception as exc:
            msg = str(exc) + str(exc.__cause__ or "")
            refused = "repair" in msg
            if not refused:
                raise
        if not refused:
            raise AssertionError(
                "redelivered batch did not refuse over the crashed "
                "attempt's orphans"
            )

        # (c) repair reclaims the crashed attempt; committed state intact
        dropped = idx.repair()
        if dropped["orphan_files_dropped"] <= 0:
            raise AssertionError("repair reclaimed nothing after the crash")
        if sum(idx.list_counts().values()) != n_committed:
            raise AssertionError("repair changed committed index state")

        # (d) resume to head: exactly-once landing for every vector
        try:
            run(spec())
        except ErrHeadReached:
            pass
        if sum(idx.list_counts().values()) != n_corpus:
            raise AssertionError(
                f"post-resume corpus {sum(idx.list_counts().values())} "
                f"!= {n_corpus}"
            )
        n_distinct = (
            idx.read_lists().select("vec_id").distinct().count()
        )
        if n_distinct != n_corpus:
            raise AssertionError(
                f"duplicate/dropped vectors: {n_distinct}/{n_corpus}"
            )

        # (e) the probe — eager: materialized inside the retry loop, the
        # mode concurrent-with-maintenance probers use
        queries_df = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
        )
        out = idx.probe(
            queries_df, n_probe=_IVF_PROBE, k=10, eager=True
        ).select(
            F.col("q_id").cast("long").alias("q_id"),
            F.col("vec_id").cast("long").alias("vec_id"),
            "cos_sim",
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "stream_ann_index_compaction_rollup",
    # The judged rows are the probe of an index that was appended AND
    # repeatedly compacted inside one run loop: every vector must land
    # exactly once across the id remappings, so the final probe equals
    # the closed-form full-corpus replay. An append that resolved a
    # stale quantizer generation after a mid-run compaction (writing
    # into retired ids), or a compaction that dropped or doubled a
    # mid-stream vector, changes cos_sim rows and hash-fails.
    oracle=_ANN_CLOSED_PROBE,
)
def stream_ann_index_compaction_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The OPTIMIZE cadence GOVERNED inside the run loop — the
    steady-state complement to ``stream_ann_index_maintenance_rollup``
    (which judges the crash lifecycle): a poll consumer drives
    ``IvfIndex.append`` per batch and runs ``idx.compact()`` every
    CADENCE batches, exactly the "every N batches" amortization the
    compact docstring prescribes. This is the one composition no other
    judged query exercises: appends land AFTER a compaction has
    remapped every fragmented list to fresh ids and re-labeled the
    quantizer under the next generation — an append that cached a
    pre-compaction ledger or centroid generation would write into
    retired ids and corrupt the index silently.

    Pinned in-query, at every cadence firing: (a) the pass found real
    fragmentation and left every list at exactly ONE ledger file — the
    bounded-fragmentation contract (list files never exceed CADENCE+1
    by construction, and return to 1 on cadence); (b) the garbage
    ledger right after a working pass holds exactly touched-lists + 1
    entries (the previous interval's parked state was swept by the
    pass itself — deferred vacuum is BOUNDED, not cumulative). After
    run-to-head: >= 2 mid-run compactions actually interleaved with
    appends, an append provably FOLLOWED the last mid-run pass (the
    ceil-division batch count plus an explicit last-working-pass pin —
    fixture drift cannot silently void the interleaving), every vector
    landed exactly once (ledger total + distinct vec_ids == corpus), a
    final compact bounds the whole index at one file per list, and the
    eager probe hashes bit-equal to the closed-form DuckDB oracle.

    Tie caveat (shared with every closed-probe query, but first load-
    bearing here): post-compaction appends break exact-distance
    assignment ties on the REMAPPED list ids while the oracle replays
    the original ids, so the judged contract assumes no two centroids
    are exactly equidistant (in double sqdist) from any streamed
    vector — guaranteed by the distinct-random-float fixtures,
    measure-zero in general.

    Scale posture: ingest stays O(batch); each cadence pass is
    O(fragmented bytes) = O(CADENCE recent batches), never O(corpus) —
    so maintenance cost is a constant tax per interval, the index
    never drifts toward O(appends) files or ledger entries, and probes
    stay O(list bytes). Reference analogue: reflex consumers keep
    derived state continuously current (``_example/exserver/ops/
    ops.go:14-33``) and lean on InnoDB's self-compacting B-tree for
    exactly this steady-state posture (``rsql/doc.go:1-2``)."""
    import shutil

    from reflex_spark.operators.similarity import IvfIndex
    from reflex_spark.queries.similarity import _IVF_LISTS, _IVF_PROBE
    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.streaming import FileCursorStore

    emb = load_tables(spark, sf_dir)["embeddings"]
    n_corpus = emb.count()
    n_seed = n_corpus // 4
    cent = emb.where(F.col("vec_id") < _IVF_LISTS).select(
        F.col("vec_id").cast("int").alias("list_id"),
        F.col("embedding").alias("centroid"),
    )
    seed = emb.where(F.col("vec_id") < n_seed)
    stream = emb.where(F.col("vec_id") >= n_seed)
    n_stream = n_corpus - n_seed

    base = tempfile.mkdtemp(prefix="stream_ann_compact_")
    try:
        log = EventLog(spark, f"{base}/log")
        log.append(_embedding_events(stream), order_by=["timestamp"])
        decode = _decode_embedding_batch

        idx = IvfIndex.build(spark, f"{base}/idx", seed, cent)
        durable = FileCursorStore(f"{base}/cursors")
        # ceil-division to exactly 5 poll batches at EVERY SF: cadence
        # fires at batches 2 and 4, so batches 3 and 5 each land an
        # append AFTER a compaction — floor division could make the
        # final batch coincide with the final cadence firing (e.g. an
        # n_stream divisible by the batch count), silently voiding the
        # append-on-remapped-ids interleaving this query exists to
        # judge; the explicit last-working-pass pin below makes that
        # a loud failure instead
        limit = max(1, -(-n_stream // 5))
        CADENCE = 2
        state = {"batches": 0, "compactions": 0, "last_working": -1}

        def governed_compact() -> dict[int, int]:
            mapping = idx.compact()
            if mapping:
                meta = idx._read_meta()
                per_list = {
                    int(k): len(v) for k, v in meta["files"].items()
                }
                if any(n != 1 for n in per_list.values()):
                    raise AssertionError(
                        f"cadence pass left fragments: {per_list}"
                    )
                # deferred vacuum is bounded: the pass itself swept the
                # previous interval's parked state, so garbage holds
                # exactly this pass's touched lists + 1 quantizer gen
                n_garbage = len(meta.get("garbage", []))
                if n_garbage != len(mapping) + 1:
                    raise AssertionError(
                        f"garbage not bounded to the last interval: "
                        f"{n_garbage} entries vs {len(mapping)} touched"
                    )
            return mapping

        def consume(batch: DataFrame, meta: dict) -> None:
            idx.append(decode(batch))
            state["batches"] += 1
            if state["batches"] % CADENCE == 0:
                if governed_compact():
                    state["compactions"] += 1
                    state["last_working"] = state["batches"]

        try:
            run(
                Spec(
                    log,
                    durable,
                    Consumer("ann_compactor", consume),
                    StreamOptions(to_head=True, batch_limit=limit),
                )
            )
        except ErrHeadReached:
            pass
        if state["compactions"] < 2:
            raise AssertionError(
                f"cadence never interleaved: {state['compactions']} "
                f"working compactions over {state['batches']} batches"
            )
        if state["batches"] <= state["last_working"]:
            raise AssertionError(
                f"no append followed the last compaction (pass at batch "
                f"{state['last_working']} of {state['batches']}) — the "
                "append-on-remapped-ids interleaving never happened"
            )
        if sum(idx.list_counts().values()) != n_corpus:
            raise AssertionError(
                f"corpus drifted across remappings: "
                f"{sum(idx.list_counts().values())} != {n_corpus}"
            )
        n_distinct = idx.read_lists().select("vec_id").distinct().count()
        if n_distinct != n_corpus:
            raise AssertionError(
                f"duplicate/dropped vectors: {n_distinct}/{n_corpus}"
            )

        governed_compact()  # bound the tail batches too
        files = idx._read_meta()["files"]
        bad = {int(k): len(v) for k, v in files.items() if len(v) != 1}
        if bad:
            raise AssertionError(
                f"final state not bounded to one file per list: {bad}"
            )

        queries_df = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
        )
        out = idx.probe(
            queries_df, n_probe=_IVF_PROBE, k=10, eager=True
        ).select(
            F.col("q_id").cast("long").alias("q_id"),
            F.col("vec_id").cast("long").alias("vec_id"),
            "cos_sim",
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out
