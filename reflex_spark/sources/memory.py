"""Test/mock event sources (reference testutil.go:10-47, testmock/stream.go).

``make_events`` builds an event DataFrame with the canonical schema (no
event_id — EventLog.append assigns ids); ``seed_log`` creates a fresh
EventLog in a temp dir. Used by the pytest suite the way the reference uses
NewMockStream / testmock's insertable in-memory log.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

from reflex_spark.sources.event_log import EventLog, local_events

EPOCH = datetime(2024, 1, 1)


def make_events(
    spark: SparkSession,
    rows: list[tuple[int, str]],
    start: datetime = EPOCH,
    step_seconds: float = 1.0,
) -> DataFrame:
    """rows = [(event_type, foreign_id), ...] with evenly spaced timestamps,
    as a local DataFrame (what a producer's pandas/Arrow frame gives)."""
    return local_events(
        spark,
        [etype for etype, _ in rows],
        [fid for _, fid in rows],
        [start + timedelta(seconds=i * step_seconds) for i in range(len(rows))],
    )


def seed_log(spark: SparkSession, path: str, rows: list[tuple[int, str]], **kwargs) -> EventLog:
    log = EventLog(spark, path)
    if rows:
        log.append(make_events(spark, rows, **kwargs))
    return log
