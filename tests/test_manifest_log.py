"""EventLog's commit records (``_commits/``) as the log's manifest: head
and polls answered from them, the consume contract on a compacted log,
and compaction keeping the manifest whole and dense."""

from __future__ import annotations

import os

import pytest

from reflex_spark.sources.event_log import EventLog
from reflex_spark.sources.memory import make_events
from reflex_spark.streaming import Consumer, ErrHeadReached, MemCursorStore, Spec, StreamOptions, run
from reflex_spark.testkit import check_consume_contract, check_event_log


def _records(log: EventLog) -> list[str]:
    return sorted(os.listdir(os.path.join(log.path, "_commits")))


def _generations(tmp_path, name: str) -> list[str]:
    return [d for d in os.listdir(str(tmp_path)) if d.startswith(f"{name}.data.")]


def test_manifest_log_append_read_head(spark, tmp_path, monkeypatch):
    log = EventLog(spark, str(tmp_path / "mlog"))
    assert log.head() == 0 and log.read().count() == 0
    log.append(make_events(spark, [(1, "a"), (1, "b")]))
    log.append(make_events(spark, [(2, "c")]))
    assert _records(log) == ["00000000.json", "00000001.json"]
    ids = [r["event_id"] for r in log.read().orderBy("event_id").collect()]
    assert ids == [1, 2, 3]
    # a fresh handle answers head from the records, with no Spark scan
    monkeypatch.setattr(EventLog, "read", lambda self: pytest.fail("scanned the log with Spark"))
    assert EventLog(spark, log.path).head() == 3


def test_manifest_log_conformance_and_consume(spark, tmp_path):
    log = EventLog(spark, str(tmp_path / "mlog"))
    log.append(make_events(spark, [(1, "a"), (1, "b")]))
    log.compact(target_partitions=1)
    assert log.poll_window(0).column("event_id").to_pylist() == [1, 2]
    check_event_log(log)
    check_consume_contract(log, MemCursorStore())


def test_manifest_log_compact_preserves_and_cleans(spark, tmp_path):
    log = EventLog(spark, str(tmp_path / "mlog"))
    for i in range(4):
        log.append(make_events(spark, [(1, f"u{i}")]))
    before = [(r["event_id"], r["foreign_id"]) for r in log.read().orderBy("event_id").collect()]
    log.compact(target_partitions=1)
    after = [(r["event_id"], r["foreign_id"]) for r in log.read().orderBy("event_id").collect()]
    assert after == before
    assert log.head() == 4
    assert len(_generations(tmp_path, "mlog")) == 1
    assert _records(log) == ["00000004.json"]  # the old records went with their files
    # still appendable, ids continue densely
    log.append(make_events(spark, [(2, "post")]))
    assert log.head() == 5
    seen = []
    spec = Spec(log, MemCursorStore(), Consumer("m", lambda df, meta: seen.extend(
        r["event_id"] for r in df.select("event_id").collect())), StreamOptions(to_head=True))
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == [1, 2, 3, 4, 5]


def test_manifest_compact_current_pointer_atomic(spark, tmp_path):
    """Compaction commits by swapping the log's symlink: the path always
    resolves to one complete generation, and repeated compactions replace
    the generation and keep appends working."""
    log = EventLog(spark, str(tmp_path / "mlog"))
    log.append(make_events(spark, [(1, "a"), (1, "b")]))
    log.append(make_events(spark, [(2, "c")]))
    assert log.head() == 3

    log.compact(target_partitions=1)
    assert os.path.islink(log.path)
    first = _generations(tmp_path, "mlog")
    assert log.head() == 3
    assert log.read().count() == 3

    # appends continue against the new generation with dense ids
    log.append(make_events(spark, [(3, "d")]))
    assert log.head() == 4

    # second compaction: a new generation, the old one cleaned
    log.compact(target_partitions=1)
    assert log.head() == 4
    assert log.read().count() == 4
    gens = _generations(tmp_path, "mlog")
    assert len(gens) == 1 and gens != first
    assert log.poll_window(0).column("event_id").to_pylist() == [1, 2, 3, 4]
