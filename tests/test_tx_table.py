"""TxTable: transactional parquet with MERGE (SURVEY §4 custom-work 3).

Pins the four guarantees the format exists for: MERGE correctness against
the latest_by_key oracle, snapshot isolation, optimistic-concurrency
conflict on the version race, and torn-write invisibility + vacuum.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from reflex_spark.operators.upsert import latest_by_key
from reflex_spark.sources.tx_table import ConcurrentCommitError, TxTable


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "v", "ver").collect())


def _mk(spark, data):
    return spark.createDataFrame(data, "k long, v string, ver long")


def test_merge_matches_latest_by_key_oracle(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    base = _mk(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)])
    t.append(base)
    updates = _mk(spark, [(2, "B", 2), (4, "d", 1), (3, "old", 0)])
    t.merge_by_key(updates, ["k"], "ver")
    expect = _rows(latest_by_key(base.unionByName(updates), ["k"], "ver"))
    assert _rows(t.read()) == expect
    # k=3: the stale update (ver 0) must NOT have replaced ver 1
    assert (3, "c", 1) in _rows(t.read())


def test_merge_rewrites_only_touched_files(spark, tmp_path):
    """Copy-on-write is file-level: a merge touching only one append's
    keys must remove only that append's files from the snapshot."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1)]).coalesce(1))
    t.append(_mk(spark, [(100, "z", 1)]).coalesce(1))
    files_before, _ = t._snapshot_files(t.latest_version())
    assert len(files_before) == 2
    t.merge_by_key(_mk(spark, [(1, "A", 2)]), ["k"], "ver")
    entry = t._entry(t.latest_version())
    assert len(entry["removes"]) == 1  # only the file containing k=1
    # the untouched file is still in the snapshot
    files_after, _ = t._snapshot_files(t.latest_version())
    assert set(files_before) & set(files_after)
    assert _rows(t.read()) == [(1, "A", 2), (100, "z", 1)]


def test_snapshot_isolation(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1)]))
    v1 = t.latest_version()
    snap = t.read()  # pins v1
    t.merge_by_key(_mk(spark, [(1, "A", 2)]), ["k"], "ver")
    # the open snapshot still reads the old state; a fresh read sees the new
    assert _rows(snap) == [(1, "a", 1)]
    assert _rows(t.read()) == [(1, "A", 2)]
    assert _rows(t.read(version=v1)) == [(1, "a", 1)]


def test_concurrent_merge_conflicts_and_retry(spark, tmp_path):
    """Two writers race one version: the loser gets ConcurrentCommitError;
    a retry against the fresh snapshot lands both writers' intents."""
    path = str(tmp_path / "t")
    a, b = TxTable(spark, path), TxTable(spark, path)
    a.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]))
    # simulate the race: B commits between A's snapshot and A's commit by
    # pre-creating A's target version through B
    b.merge_by_key(_mk(spark, [(2, "B", 2)]), ["k"], "ver")
    with pytest.raises(ConcurrentCommitError):
        # A believed the head was version 0; version 1 is taken now
        a._commit(1, {"op": "merge", "adds": [], "removes": []})
    # full-path conflict: monkeypatch latest_version to return the stale head
    stale = a.latest_version() - 1
    orig = TxTable.latest_version
    try:
        TxTable.latest_version = lambda self: stale  # type: ignore[method-assign]
        with pytest.raises(ConcurrentCommitError):
            a.merge_by_key(_mk(spark, [(1, "A", 2)]), ["k"], "ver")
    finally:
        TxTable.latest_version = orig  # type: ignore[method-assign]
    # retry with the true head succeeds and preserves B's write
    a.merge_by_key(_mk(spark, [(1, "A", 2)]), ["k"], "ver")
    assert _rows(a.read()) == [(1, "A", 2), (2, "B", 2)]


def test_a_version_in_flight_is_invisible_to_readers(spark, tmp_path, monkeypatch):
    """A reader that lists and reads the table while a commit's entry is
    being written sees the previous version, never a listed version whose
    entry file is still empty."""
    import json

    from reflex_spark.sources import tx_table

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1)]))
    seen = []
    real_dump = json.dump

    def dump_and_read(obj, f, *args, **kwargs):
        if isinstance(obj, dict) and "adds" in obj:  # a log entry
            seen.append((t.latest_version(), _rows(t.read())))
        real_dump(obj, f, *args, **kwargs)

    monkeypatch.setattr(tx_table.json, "dump", dump_and_read)
    t.append(_mk(spark, [(2, "b", 1)]))
    assert seen == [(0, [(1, "a", 1)])]
    assert _rows(t.read()) == [(1, "a", 1), (2, "b", 1)]


def test_torn_write_invisible_and_vacuumed(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1)]))
    before = _rows(t.read())
    # a crashed writer left data files with no log entry
    orphan = os.path.join(t.data_dir, "deadbeef.parquet")
    _mk(spark, [(9, "junk", 9)]).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "junk")
    )
    part = next(
        f for f in os.listdir(str(tmp_path / "junk")) if f.endswith(".parquet")
    )
    os.rename(str(tmp_path / "junk" / part), orphan)
    assert _rows(t.read()) == before  # invisible to readers
    # default retention spares the young orphan (it could be an in-flight
    # commit); exclusive-access retention_seconds=0 reclaims it
    assert "deadbeef.parquet" not in t.vacuum(keep_versions=1)
    deleted = t.vacuum(keep_versions=1, retention_seconds=0)
    assert "deadbeef.parquet" in deleted
    assert _rows(t.read()) == before


def test_vacuum_drops_old_version_files(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1)]).coalesce(1))
    t.merge_by_key(_mk(spark, [(1, "A", 2)]), ["k"], "ver")
    old_files, _ = t._snapshot_files(0)
    deleted = t.vacuum(keep_versions=1, retention_seconds=0)
    assert set(old_files) <= set(deleted)  # v0's rewritten file reclaimed
    assert _rows(t.read()) == [(1, "A", 2)]


def test_vacuum_never_deletes_retained_snapshot_files(spark, tmp_path):
    """Reader-side proof: files any retained version references survive
    vacuum even at retention 0, and the retained old snapshot still READS
    correctly afterwards (VERDICT r4 #5)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1)]).coalesce(1))
    t.merge_by_key(_mk(spark, [(1, "A", 2)]), ["k"], "ver")
    t.merge_by_key(_mk(spark, [(1, "AA", 3)]), ["k"], "ver")
    deleted = t.vacuum(keep_versions=2, retention_seconds=0)
    # version 1 is retained: its files survive and it reads back exactly
    assert _rows(t.read(version=1)) == [(1, "A", 2)]
    assert _rows(t.read()) == [(1, "AA", 3)]
    v1_files, _ = t._snapshot_files(1)
    assert not set(v1_files) & set(deleted)
    # version 0 was NOT retained: its unique file was reclaimed
    v0_files, _ = t._snapshot_files(0)
    assert set(v0_files) - set(v1_files) <= set(deleted)


def test_vacuum_retention_protects_inflight_commit(spark, tmp_path):
    """The ADVICE r4 scenario: writer B has finished _write_files but not
    yet committed when vacuum runs. With the default retention window B's
    young files survive, B's commit then succeeds, and the table reads
    back whole — no dangling file references."""
    path = str(tmp_path / "t")
    a, b = TxTable(spark, path), TxTable(spark, path)
    a.append(_mk(spark, [(1, "a", 1)]))
    # B is mid-commit: data files on disk, no log entry yet
    b_adds, _stats = b._write_files(_mk(spark, [(2, "b", 1)]))
    assert a.vacuum(keep_versions=1) == []  # young files: spared
    b._commit(b.latest_version() + 1, {"op": "append", "adds": b_adds})
    assert _rows(a.read()) == [(1, "a", 1), (2, "b", 1)]


def test_two_racing_committers_both_land(spark, tmp_path):
    """Two real threads merge different keys concurrently with a retry
    loop; the version-race loser retries against the fresh snapshot and
    BOTH updates land (VERDICT r4 #5; reference anchor: the dead-letter
    txn upsert contract, rsql/db.go:300-339)."""
    import threading

    path = str(tmp_path / "t")
    t0 = TxTable(spark, path)
    t0.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]))
    start = threading.Barrier(2)
    errs: list[Exception] = []

    def writer(key: int, val: str) -> None:
        t = TxTable(spark, path)
        df = _mk(spark, [(key, val, 2)])
        start.wait()
        for _ in range(10):
            try:
                t.merge_by_key(df, ["k"], "ver")
                return
            except ConcurrentCommitError:
                continue
        errs.append(RuntimeError(f"writer {key} never committed"))

    th = [
        threading.Thread(target=writer, args=(1, "A")),
        threading.Thread(target=writer, args=(2, "B")),
    ]
    for x in th:
        x.start()
    for x in th:
        x.join(timeout=120)
    assert not errs
    assert _rows(t0.read()) == [(1, "A", 2), (2, "B", 2)]


def test_dead_letter_identity_on_tx_table(spark, tmp_path):
    """Reference parity shape (rsql/db.go:300-339): the dead-letter table
    upserts by (consumer, event_id) with a stable identity — replaying the
    same error twice leaves one row; a newer error for the same identity
    replaces the message."""
    t = TxTable(spark, str(tmp_path / "errors"))
    err = spark.createDataFrame(
        [("c1", 7, "boom", 1)], "consumer string, event_id long, msg string, attempt long"
    )
    t.merge_by_key(err, ["consumer", "event_id"], "attempt")
    t.merge_by_key(err, ["consumer", "event_id"], "attempt")  # idempotent replay
    assert t.read().count() == 1
    retry = spark.createDataFrame(
        [("c1", 7, "boom again", 2)],
        "consumer string, event_id long, msg string, attempt long",
    )
    t.merge_by_key(retry, ["consumer", "event_id"], "attempt")
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["msg"] == "boom again" and rows[0]["attempt"] == 2


@pytest.mark.slow  # multi-minute-class probe; default run excluded (r17 verify budget), runs under -m slow
def test_log_checkpoint_bounds_replay_and_allows_truncation(spark, tmp_path):
    """Delta-style log checkpoints: every CHECKPOINT_INTERVAL commits the
    full snapshot state is materialized, reads replay at most the tail
    after the latest checkpoint, and truncate_log() can drop the entries
    a checkpoint supersedes — reads still see the exact same data with
    the early log GONE (the O(commits) replay cap at 100 TB)."""
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(25):
        t.append(_mk(spark, [(i, f"v{i}", 1)]))
    assert t.latest_version() == 24
    assert t._checkpoints() == [10, 20]

    full = _rows(t.read())
    assert len(full) == 25

    # snapshot built through a checkpoint == snapshot via pure replay
    files_ck, _ = t._snapshot_files(24)
    # time travel below the checkpoint still works pre-truncation
    assert len(_rows(t.read(version=5))) == 6

    removed = t.truncate_log()
    assert removed == list(range(20))
    assert t._checkpoints() == [20]
    # reads after truncation: identical data, bounded replay
    assert _rows(t.read()) == full
    files_trunc, _ = t._snapshot_files(24)
    assert sorted(files_trunc) == sorted(files_ck)
    # new commits still work and the next checkpoint lands
    for i in range(25, 31):
        t.append(_mk(spark, [(i, f"v{i}", 1)]))
    assert 30 in t._checkpoints()
    assert len(_rows(t.read())) == 31
    # time travel below the truncation point is now unavailable
    with pytest.raises(Exception):
        t.read(version=5).collect()


def test_checkpoint_consistent_with_merge_removes(spark, tmp_path):
    """Checkpoints must capture remove-sets too: a merge rewrites files,
    and a post-checkpoint read must not resurrect replaced ones."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]))
    for ver in range(2, 13):  # versions 1..11, checkpoint at 10
        t.merge_by_key(_mk(spark, [(1, f"a{ver}", ver)]), ["k"], "ver")
    assert 10 in t._checkpoints()
    t.truncate_log()
    rows = dict((r[0], r[1]) for r in _rows(t.read()))
    assert rows == {1: "a12", 2: "b"}


@pytest.mark.slow  # multi-minute-class probe; default run excluded (r17 verify budget), runs under -m slow
def test_stats_skipping_prunes_merge_discovery_scan(spark, tmp_path):
    """Data skipping (round 5): with stats_cols recorded, merge_by_key's
    touched-file discovery excludes files whose key range cannot
    intersect the update keys — verified both via the pure range
    predicate and end-to-end (results identical, only the in-range file
    rewritten), and the stats survive checkpoint + log truncation."""
    t = TxTable(spark, str(tmp_path / "t"), stats_cols=["k"])
    t.append(_mk(spark, [(1, "a", 1), (5, "b", 1)]).coalesce(1))
    t.append(_mk(spark, [(100, "c", 1), (150, "d", 1)]).coalesce(1))
    t.append(_mk(spark, [(1000, "e", 1)]).coalesce(1))
    files, _, stats, _dvs = t._snapshot_state(t.latest_version())
    assert len(files) == 3 and all(f in stats for f in files)
    # range predicate: update keys [100, 160] touch only the middle file
    cands = [f for f in files if t._range_may_match(stats[f]["k"], 100, 160)]
    assert len(cands) == 1
    mid = cands[0]
    t.merge_by_key(_mk(spark, [(100, "C", 2), (160, "new", 1)]), ["k"], "ver")
    entry = t._entry(t.latest_version())
    assert entry["removes"] == [mid]  # only the in-range file rewritten
    assert dict((r[0], r[1]) for r in _rows(t.read())) == {
        1: "a", 5: "b", 100: "C", 150: "d", 160: "new", 1000: "e",
    }
    # all-null-stats file can never equi-match; missing stats must scan
    assert t._range_may_match([None, None], 0, 10**9) is False
    assert t._range_may_match(None, 0, 1) is True
    # stats survive checkpointing + truncation
    for i in range(t.latest_version() + 1, 11):
        t.append(_mk(spark, [(2000 + i, "x", 1)]).coalesce(1))
    assert t._checkpoints()
    t.truncate_log()
    files2, _, stats2, _dv2 = t._snapshot_state(t.latest_version())
    live_old = [f for f in files if f != mid]
    assert all(f in stats2 for f in live_old)


def test_schema_evolution_on_append(spark, tmp_path):
    """Appending a frame with a NEW column evolves the table: old rows
    read as null for it (log's latest schema is authoritative), and a
    merge with the evolved schema keeps working."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1)]))
    evolved = spark.createDataFrame(
        [(2, "b", 1, "extra")], "k long, v string, ver long, note string"
    )
    t.append(evolved)
    rows = {r["k"]: r["note"] for r in t.read().collect()}
    assert rows == {1: None, 2: "extra"}
    t.merge_by_key(
        spark.createDataFrame(
            [(1, "A", 2, "upd")], "k long, v string, ver long, note string"
        ),
        ["k"],
        "ver",
    )
    rows = {r["k"]: (r["v"], r["note"]) for r in t.read().collect()}
    assert rows == {1: ("A", "upd"), 2: ("b", "extra")}


def test_partial_column_write_never_narrows_schema(spark, tmp_path):
    """A merge/append whose frame OMITS an existing column (a normal
    partial-column upsert) must not narrow the table schema: the committed
    schema is the union of current and incoming, so the omitted column
    stays visible table-wide (Delta never implicitly drops columns)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a", 1, "keepme")], "k long, v string, ver long, note string"
        )
    )
    # upsert that omits `note`
    t.merge_by_key(_mk(spark, [(1, "A", 2), (2, "b", 1)]), ["k"], "ver")
    got = {r["k"]: (r["v"], r["note"]) for r in t.read().collect()}
    assert got == {1: ("A", None), 2: ("b", None)}
    assert [f.name for f in t.read().schema.fields] == ["k", "v", "ver", "note"]
    # same for a narrower append
    t.append(_mk(spark, [(3, "c", 1)]))
    assert "note" in t.read().columns
    # but a TYPE change on an existing column is rejected
    with pytest.raises(ValueError, match="schema evolution"):
        t.append(spark.createDataFrame([(4, 9, 1)], "k long, v long, ver long"))


def test_changes_below_truncated_history_raises(spark, tmp_path):
    """changes(from_version) below the truncate_log() cut must raise, not
    silently emit the whole table as inserts (the pre-state is NOT empty,
    it is unknowable)."""
    from reflex_spark.sources.tx_table import HistoryTruncatedError

    t = TxTable(spark, str(tmp_path / "t"))
    t.CHECKPOINT_INTERVAL = 3
    for i in range(7):
        t.append(_mk(spark, [(i, "x", 1)]))
    removed = t.truncate_log()
    assert removed, "test needs an actual truncation"
    cut = max(removed)
    with pytest.raises(HistoryTruncatedError):
        t.changes(cut)
    # at/above the oldest retained state, changes still works
    cp = min(t._checkpoints())
    t.append(_mk(spark, [(99, "new", 1)]))
    feed = t.changes(cp)
    assert {r["k"] for r in feed.collect()} == {99}


def test_change_data_feed(spark, tmp_path):
    """changes(v0, v1): appends surface as inserts; a merge UPDATE
    surfaces as delete(pre-image) + insert(post-image); rows copied
    verbatim into rewritten files cancel out; reading the feed at
    [v0, latest] composes across commits."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]).coalesce(1))  # v0
    v0 = t.latest_version()
    t.append(_mk(spark, [(3, "c", 1)]).coalesce(1))               # v1
    v1 = t.latest_version()
    t.merge_by_key(_mk(spark, [(1, "A", 2)]), ["k"], "ver")       # v2

    def feed(a, b):
        return sorted(
            (r["k"], r["v"], r["_change_type"]) for r in t.changes(a, b).collect()
        )

    # append-only window: pure inserts
    assert feed(v0, v1) == [(3, "c", "insert")]
    # merge window: update = pre-image delete + post-image insert; the
    # untouched row (2, "b") copied into the rewritten file cancels out
    assert feed(v1, t.latest_version()) == [
        (1, "A", "insert"),
        (1, "a", "delete"),
    ]
    # composed window
    assert feed(v0, t.latest_version()) == [
        (1, "A", "insert"),
        (1, "a", "delete"),
        (3, "c", "insert"),
    ]
    # empty window
    assert feed(t.latest_version(), t.latest_version()) == []


def test_cdc_bridge_publishes_changes_to_event_log(spark, tmp_path):
    """TxTable -> EventLog bridge (the reference's tables-emit-events
    loop): appends publish as insert events, an UPDATE publishes its
    pre-image BEFORE its post-image (strictly smaller event id) with the
    dedicated update_preimage/update_postimage types in ONE commit,
    metadata carries the full row JSON, and the log is consumable by the
    poll loop."""
    import json as _json
    from datetime import datetime

    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.streaming.cdc import (
        CDC_INSERT_TYPE,
        CDC_UPDATE_POST_TYPE,
        CDC_UPDATE_PRE_TYPE,
        publish_changes,
    )

    t = TxTable(spark, str(tmp_path / "t"))
    log = EventLog(spark, str(tmp_path / "log"))
    t.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]).coalesce(1))
    v0 = t.latest_version()
    # deterministic-replay contract: 'at' is required, never driver-clocked
    with pytest.raises(ValueError, match="explicit 'at'"):
        publish_changes(t, log, "k", -1, v0)
    publish_changes(t, log, "k", -1, v0, at=datetime(2024, 1, 1))
    rows = log.read().orderBy("event_id").collect()
    assert [(r["event_type"], r["foreign_id"]) for r in rows] == [
        (CDC_INSERT_TYPE, "1"),
        (CDC_INSERT_TYPE, "2"),
    ]
    assert _json.loads(bytes(rows[0]["metadata"]))["v"] == "a"

    t.merge_by_key(_mk(spark, [(1, "A", 2)]), ["k"], "ver")
    publish_changes(t, log, "k", v0, at=datetime(2024, 1, 2))
    rows = log.read().orderBy("event_id").collect()[2:]
    by_type = {r["event_type"]: r for r in rows}
    assert set(by_type) == {CDC_UPDATE_PRE_TYPE, CDC_UPDATE_POST_TYPE}
    assert (
        by_type[CDC_UPDATE_PRE_TYPE]["event_id"]
        < by_type[CDC_UPDATE_POST_TYPE]["event_id"]
    )
    assert _json.loads(bytes(by_type[CDC_UPDATE_PRE_TYPE]["metadata"]))["v"] == "a"
    assert _json.loads(bytes(by_type[CDC_UPDATE_POST_TYPE]["metadata"]))["v"] == "A"
    # ids are dense and the whole window landed in ONE commit (no torn
    # half-window): both update events are consecutive
    ids = sorted(r["event_id"] for r in rows)
    assert ids == list(range(ids[0], ids[0] + len(ids)))


def test_publish_changes_many_matches_sequential(spark, tmp_path):
    """publish_changes_many (overlapped change-feed jobs, ordered
    appends) must produce a log BYTE-IDENTICAL to the equivalent
    sequence of publish_changes calls — ids, types, ordering, metadata
    — and enforce the same explicit-'at' contract."""
    from datetime import datetime

    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.streaming.cdc import (
        publish_changes,
        publish_changes_many,
    )

    def build(path):
        t = TxTable(spark, str(tmp_path / path / "t"))
        t.append(
            _mk(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]).coalesce(1)
        )
        v0 = t.latest_version()
        t.merge_by_key(_mk(spark, [(2, "B", 2), (4, "d", 2)]), ["k"], "ver")
        v1 = t.latest_version()
        return t, EventLog(spark, str(tmp_path / path / "log")), v0, v1

    t1, log1, v0, v1 = build("seq")
    publish_changes(t1, log1, "k", -1, v0, at=datetime(2024, 1, 1))
    publish_changes(t1, log1, "k", v0, v1, at=datetime(2024, 1, 2))
    t2, log2, w0, w1 = build("many")
    with pytest.raises(ValueError, match="explicit 'at'"):
        publish_changes_many(t2, log2, "k", [(-1, w0, None)])
    publish_changes_many(
        t2,
        log2,
        "k",
        [(-1, w0, datetime(2024, 1, 1)), (w0, w1, datetime(2024, 1, 2))],
    )

    def snap(log):
        return [
            (
                r["event_id"],
                r["event_type"],
                r["foreign_id"],
                r["timestamp"],
                bytes(r["metadata"]),
            )
            for r in log.read().orderBy("event_id").collect()
        ]

    assert snap(log1) == snap(log2)


@pytest.mark.slow  # multi-minute-class probe; default run excluded (r17 verify budget), runs under -m slow
def test_optimize_compacts_sorts_and_tightens_skipping(spark, tmp_path):
    """OPTIMIZE: many small files -> few range-sorted files; the row
    multiset is unchanged, old files are removed from the snapshot (and
    vacuumable), per-file key ranges become disjoint so stats-based
    pruning selects ~one file for a point probe; a racing commit makes
    the optimizer retry, never lose data."""
    t = TxTable(spark, str(tmp_path / "t"), stats_cols=["k"])
    for i in range(6):  # 6 commits -> >= 6 small files
        t.append(
            spark.createDataFrame(
                [(i * 10 + j, f"v{i}_{j}", 1) for j in range(10)],
                "k long, v string, ver long",
            ).coalesce(1)
        )
    before = {tuple(r) for r in t.read().collect()}
    files_before, _, stats_before, _dvb = t._snapshot_state(t.latest_version())
    assert len(files_before) >= 6

    v = t.optimize(sort_by=["k"], target_files=3)
    files_after, _, stats_after, _dva = t._snapshot_state(v)
    assert len(files_after) == 3
    assert {tuple(r) for r in t.read().collect()} == before
    # ranges are disjoint after the range-sort...
    ranges = sorted(stats_after[f]["k"] for f in files_after)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
    # ...so a point-key probe prunes to exactly one candidate file,
    # while the unsorted small files overlapped into several
    probe = lambda stats, files: [
        f for f in files if TxTable._range_may_match(stats[f].get("k"), 7, 7)
    ]
    assert len(probe(stats_after, files_after)) == 1
    # old files left data_dir's snapshot; a merge still works on the result
    t.merge_by_key(_mk(spark, [(7, "UPD", 9)]), ["k"], "ver")
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[7] == "UPD" and len(got) == 60

    # concurrency: a commit that lands between snapshot and commit forces
    # ConcurrentCommitError (read-set transaction)
    base = t.latest_version()
    files, schema, _, _dvx = t._snapshot_state(base)
    t.append(_mk(spark, [(999, "race", 1)]).coalesce(1))
    import pytest as _pytest

    adds, stats = t._write_files(t.read(base))
    with _pytest.raises(ConcurrentCommitError):
        t._commit(base + 1, {"op": "optimize", "adds": adds, "stats": stats,
                             "removes": sorted(files),
                             "schema": schema.json() if schema else None})
    # retry against the new head succeeds and keeps every row
    v2 = t.optimize(sort_by=["k"], target_files=2)
    assert {r["k"] for r in t.read(v2).collect()} == set(got) | {999}


def test_optimize_zorder_skips_on_both_columns(spark, tmp_path):
    """Z-ORDER: after clustering on (a, b), a point probe on EITHER
    column prunes most files — a single-column sort can only ever skip
    on its leading column. Grid data (a independent of b) is the
    adversarial case for linear sorts."""
    t = TxTable(spark, str(tmp_path / "t"), stats_cols=["a", "b"])
    rows = [(i, j, i * 100 + j) for i in range(32) for j in range(32)]
    t.append(
        spark.createDataFrame(rows, "a long, b long, payload long").repartition(8)
    )
    before = {tuple(r) for r in t.read().collect()}

    def files_matching(version, col, val):
        files, _, stats, _dvv = t._snapshot_state(version)
        return [
            f for f in files if TxTable._range_may_match(stats[f].get(col), val, val)
        ], len(files)

    # linear sort on a: probes on b hit every file
    v_lin = t.optimize(sort_by=["a"], target_files=8)
    hit_b_lin, n = files_matching(v_lin, "b", 7)
    assert len(hit_b_lin) == n  # no pruning on the trailing column

    v_z = t.optimize(zorder_by=["a", "b"], target_files=8)
    assert {tuple(r) for r in t.read().collect()} == before
    hit_a, n = files_matching(v_z, "a", 7)
    hit_b, _ = files_matching(v_z, "b", 7)
    assert len(hit_a) < n and len(hit_b) < n  # BOTH columns prune
    assert len(hit_b) < len(hit_b_lin)


def test_change_feed_across_schema_evolution(spark, tmp_path):
    """A changes() window that CROSSES a schema evolution reads both
    sides in the latest schema: pre-evolution rows surface with null for
    the new column (so the multiset diff stays well-formed), and the
    CDC bridge publishes them without error."""
    from datetime import datetime

    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.streaming.cdc import publish_changes

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1)]))
    v0 = t.latest_version()
    t.append(
        spark.createDataFrame(
            [(2, "b", 1, "extra")], "k long, v string, ver long, note string"
        )
    )
    t.merge_by_key(
        spark.createDataFrame(
            [(1, "A", 2, "upd")], "k long, v string, ver long, note string"
        ),
        ["k"],
        "ver",
    )
    feed = t.changes(v0).collect()
    by = {(r["k"], r["_change_type"]): r for r in feed}
    # pre-image of k=1 predates the note column -> null in latest schema
    assert by[(1, "delete")]["note"] is None
    assert by[(1, "insert")]["note"] == "upd"
    assert by[(2, "insert")]["note"] == "extra"
    log = EventLog(spark, str(tmp_path / "log"))
    publish_changes(t, log, "k", v0, at=datetime(2024, 1, 1))
    assert log.read().count() == len(feed)


def test_delete_by_key_copy_on_write(spark, tmp_path):
    """delete_by_key removes exactly the matched keys, rewrites only the
    touched files, surfaces the rows as 'delete' change events, and
    older snapshots still see the deleted rows."""
    t = TxTable(spark, str(tmp_path / "t"))
    # two files: keys 1-3 and 4-6
    t.append(_mk(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]).coalesce(1))
    v1 = t.append(_mk(spark, [(4, "d", 1), (5, "e", 1), (6, "f", 1)]).coalesce(1))
    files_before = set(t._snapshot_state(v1)[0])
    assert len(files_before) == 2
    keys = spark.createDataFrame([(2,), (99,)], "k long")
    v2 = t.delete_by_key(keys, ["k"])
    assert _rows(t.read()) == [
        (1, "a", 1), (3, "c", 1), (4, "d", 1), (5, "e", 1), (6, "f", 1)
    ]
    # only the file holding k=2 was rewritten; the 4-6 file carried over
    files_after = set(t._snapshot_state(v2)[0])
    assert files_before & files_after == files_before - set(t._entry(v2)["removes"])
    assert len(t._entry(v2)["removes"]) == 1
    # change feed: exactly one delete event, no inserts
    ch = t.changes(v1, v2).collect()
    assert [(r["k"], r["_change_type"]) for r in ch] == [(2, "delete")]
    # snapshot isolation: the old version still reads k=2
    assert (2, "b", 1) in _rows(t.read(v1))
    # deleting every key of one file drops the file without replacement
    v3 = t.delete_by_key(spark.createDataFrame([(4,), (5,), (6,)], "k long"), ["k"])
    assert _rows(t.read()) == [(1, "a", 1), (3, "c", 1)]
    assert [(r["k"], r["_change_type"]) for r in sorted(
        t.changes(v2, v3).collect())] == [(4, "delete"), (5, "delete"), (6, "delete")]


def test_read_pruned_matches_full_read_and_skips(spark, tmp_path):
    """read_pruned = read() + filter, with provably-disjoint files never
    opened; files with missing stats are conservatively kept."""
    from pyspark.sql import functions as F

    t = TxTable(spark, str(tmp_path / "t"), stats_cols=["a", "b"])
    rows = [(i, j, i * 100 + j) for i in range(16) for j in range(16)]
    t.append(spark.createDataFrame(rows, "a long, b long, payload long"))
    t.optimize(zorder_by=["a", "b"], target_files=8)
    df, total, scanned = t.read_pruned({"a": (0, 3), "b": (0, 3)})
    assert total == 8 and scanned < total  # rectangle prunes
    expect = {
        tuple(r)
        for r in t.read().where((F.col("a") <= 3) & (F.col("b") <= 3)).collect()
    }
    assert {tuple(r) for r in df.collect()} == expect
    # a column with NO recorded stats prunes nothing but still filters
    t2 = TxTable(spark, str(tmp_path / "t2"))  # no stats_cols
    t2.append(spark.createDataFrame(rows, "a long, b long, payload long"))
    df2, total2, scanned2 = t2.read_pruned({"a": (0, 3)})
    assert scanned2 == total2  # conservative keep
    assert df2.where(F.col("a") > 3).count() == 0


def test_hilbert_stage_matches_reference_xy2d(spark):
    """TxTable._hilbert_stage must reproduce the classic xy2d bit walk
    exactly: build a 256-point grid whose ranks are recoverable, run the
    Spark stage at 8 bits, and compare every curve position against a
    pure-Python reference."""
    from reflex_spark.sources.tx_table import TxTable

    def xy2d_ref(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    pts = [(i, (i * 37 + 11) % 256) for i in range(256)]  # distinct ranks
    df = spark.createDataFrame(pts, "a long, b long")
    out = TxTable._hilbert_stage(df, ["a", "b"], bits=8).collect()
    y_rank = {v: i for i, v in enumerate(sorted(p[1] for p in pts))}
    for r in out:
        assert r["__hkey"] == xy2d_ref(256, r["a"], y_rank[r["b"]]), (
            r["a"],
            r["b"],
        )


def test_bloom_point_skipping(spark, tmp_path):
    """Per-file Bloom metadata: hash-clustered files (min/max useless)
    prune point lookups; absent keys prune everything; NULL probes are
    ignored; answers equal read()+filter regardless of pruning."""
    t = TxTable(spark, str(tmp_path / "t"), bloom_cols=["k"])
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    t.append(df.repartition(8, "k"))
    res, total, scanned = t.read_points("k", [3, 1997])
    assert total == 8 and scanned <= 4
    assert sorted(r["k"] for r in res.collect()) == [3, 1997]
    # absent key: no false negatives means pruning everything is safe
    res2, _, scanned2 = t.read_points("k", [10_000_000])
    assert scanned2 <= 1 and res2.count() == 0  # <=1 allows a bloom fp
    # NULL probes are skipped (the _md5_mod NULL contract)
    res3, _, _ = t.read_points("k", [None, 42])
    assert [r["k"] for r in res3.collect()] == [42]


def test_bloom_and_minmax_compose(spark, tmp_path):
    """When BOTH stats exist, a file must survive min/max AND bloom to
    be scanned; files written before bloom_cols existed stay
    conservative (scanned)."""
    t = TxTable(spark, str(tmp_path / "t"), stats_cols=["k"], bloom_cols=["k"])
    # range-clustered commit: min/max prunes, bloom agrees
    t.append(
        spark.range(0, 1000)
        .select(F.col("id").alias("k"))
        .repartitionByRange(4, "k")
    )
    _, total, scanned = t.read_points("k", [5])
    assert total == 4 and scanned == 1
    # a second commit written by a table handle WITHOUT bloom_cols:
    # its files carry min/max only and must stay conservative for
    # bloom (but still prune by range)
    t2 = TxTable(spark, str(tmp_path / "t"), stats_cols=["k"])
    t2.append(
        spark.range(1000, 2000)
        .select(F.col("id").alias("k"))
        .repartitionByRange(4, "k")
    )
    res, total, scanned = t.read_points("k", [5])
    assert total == 8 and scanned == 1
    assert [r["k"] for r in res.collect()] == [5]


def test_time_travel_to_vacuumed_version_fails_loudly(spark, tmp_path):
    """Vacuum + log truncation must turn a too-old snapshot read into
    HistoryTruncatedError, never a silently partial answer."""
    from reflex_spark.sources.tx_table import HistoryTruncatedError

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.range(0, 10).select(F.col("id").alias("k"), F.lit(1).alias("ver")))
    t.merge_by_key(
        spark.range(0, 10).select(F.col("id").alias("k"), F.lit(2).alias("ver")),
        ["k"],
        "ver",
    )
    t._write_checkpoint(t.latest_version())
    t.truncate_log()
    t.vacuum(keep_versions=1, retention_seconds=0)
    with pytest.raises(HistoryTruncatedError):
        t.read(version=0).collect()


def test_bloom_probe_rendering_matches_spark_cast(spark, tmp_path):
    """The probe side must hash Spark's CAST(col AS STRING) rendering.
    Python str() diverges for bool ('True' vs 'true') — before the
    _bloom_probe_str fix a boolean probe was a guaranteed Bloom false
    negative, i.e. matching rows silently dropped. Unsupported probe
    types (float/timestamp, whose renderings also diverge) raise
    instead of risking a wrong answer."""
    import pytest as _pytest

    t = TxTable(spark, str(tmp_path / "t"), bloom_cols=["flag"])
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 2 == 0).alias("flag")
    )
    t.append(df.repartition(2))
    res, total, scanned = t.read_points("flag", [True])
    # no false negatives: every even k comes back
    assert res.count() == 50
    assert scanned == total == 2  # both files contain both values
    with _pytest.raises(TypeError, match="CAST"):
        t.read_points("flag", [1.5])


def test_bloom_saturation_auto_splits_write(spark, tmp_path):
    """A write whose staged file would saturate the 8 KiB Bloom (> ~40k
    distinct keys) is auto-split: rewritten hash-partitioned on the bloom
    column into enough files that each stays under threshold, so
    read_points pruning keeps working instead of silently degrading —
    and no saturation warning fires."""
    import warnings as _warnings

    t = TxTable(spark, str(tmp_path / "t"), bloom_cols=["k"])
    t.append(
        spark.range(0, 45_000).select(F.col("id").alias("k")).coalesce(1)
    )
    files, _, stats, _dvs = t._snapshot_state(t.latest_version())
    assert len(files) >= 2, "saturating write must land as multiple files"
    from reflex_spark.sources.tx_table import _BLOOM_SATURATION_N

    assert all(stats[f]["bloomn$k"] <= _BLOOM_SATURATION_N for f in files)
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        res, total, scanned = t.read_points("k", [7])
    assert scanned < total  # pruning is alive again
    assert [r["k"] for r in res.collect()] == [7]

    # an already-small write is left alone (no second staging pass)
    t2 = TxTable(spark, str(tmp_path / "t2"), bloom_cols=["k"])
    t2.append(spark.range(0, 1000).select(F.col("id").alias("k")).coalesce(1))
    files2, _, _, _ = t2._snapshot_state(t2.latest_version())
    assert len(files2) == 1


def test_bloom_saturation_warns_on_legacy_files(spark, tmp_path, monkeypatch):
    """Files written BEFORE auto-split existed (or past any threshold in
    force at their write) still surface the documented failure mode as a
    read-time warning — while the answer stays exact (residual
    IN-filter)."""
    import pytest as _pytest

    from reflex_spark.sources import tx_table as _m

    t = TxTable(spark, str(tmp_path / "t"), bloom_cols=["k"])
    with monkeypatch.context() as m:
        m.setattr(_m, "_BLOOM_SATURATION_N", 10**9)  # write-side: no split
        t.append(
            spark.range(0, 45_000).select(F.col("id").alias("k")).coalesce(1)
        )
    with _pytest.warns(UserWarning, match="saturated"):
        res, total, scanned = t.read_points("k", [7])
    assert total == scanned == 1
    assert [r["k"] for r in res.collect()] == [7]


def test_bloom_unsupported_column_type_rejected_at_write(spark, tmp_path):
    """A bloom column typed double/decimal/date would store bits for
    Spark's rendering ('7.0') that no accepted int/string/bool probe can
    reproduce — a guaranteed Bloom FALSE NEGATIVE (read_points would
    silently prune every file). The write side refuses the column type
    up front instead."""
    import pytest as _pytest

    t = TxTable(spark, str(tmp_path / "t"), bloom_cols=["v"])
    bad = spark.createDataFrame([(1, 7.0)], "k long, v double")
    with _pytest.raises(TypeError, match="bloom_cols.*double"):
        t.append(bad)
    # nothing committed
    assert t.latest_version() == -1


def test_check_constraints_reject_and_roll_back(spark, tmp_path):
    """Delta-style CHECK constraints: a violating append/merge raises and
    commits NOTHING (version and visible rows unchanged — staged files
    without a log entry are invisible); ANSI semantics: NULL passes,
    only FALSE violates."""
    import pytest as _pytest

    from reflex_spark.sources.tx_table import ConstraintViolationError

    t = TxTable(
        spark,
        str(tmp_path / "t"),
        constraints={"positive_v": "v > 0", "known_k": "k IN ('a', 'b')"},
    )
    ok = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    v0 = t.append(ok)
    bad = spark.createDataFrame([("a", -1.0), ("c", 3.0)], "k string, v double")
    with _pytest.raises(ConstraintViolationError, match="positive_v.*known_k|known_k.*positive_v"):
        t.append(bad)
    assert t.latest_version() == v0
    assert t.read().count() == 2

    # NULL passes (ANSI CHECK semantics)
    t.append(spark.createDataFrame([("a", None)], "k string, v double"))
    assert t.read().count() == 3

    # merge path is checked too
    upd = spark.createDataFrame([("a", -5.0, 9)], "k string, v double, ver int")
    with _pytest.raises(ConstraintViolationError, match="positive_v"):
        t.merge_by_key(upd, ["k"], "ver")


def test_delete_mor_deletion_vectors_end_to_end(spark, tmp_path):
    """Merge-on-read deletes: the DV commit rewrites NO data file; reads
    (plain, pruned, point) suppress exactly the deleted positions;
    rewrite paths never resurrect DV-deleted rows; OPTIMIZE materializes
    and clears the vectors; vacuum keeps referenced DV files; changes()
    refuses across a DV (honest gate)."""
    import os as _os

    import pytest as _pytest

    t = TxTable(spark, str(tmp_path / "t"), stats_cols=["k"], bloom_cols=["k"])
    t.append(
        spark.range(0, 1000)
        .selectExpr("id AS k", "CAST(id % 7 AS DOUBLE) AS v")
        .repartitionByRange(4, "k")
    )
    v1 = t.latest_version()
    files_before = sorted(
        f for f in _os.listdir(t.data_dir) if not f.endswith(".dv.parquet")
    )

    dead = spark.createDataFrame([(i,) for i in range(0, 1000, 10)], "k long")
    v2 = t.delete_by_key_mor(dead, ["k"])
    files_after = sorted(
        f for f in _os.listdir(t.data_dir) if not f.endswith(".dv.parquet")
    )
    assert files_after == files_before, "MoR delete must not rewrite data files"
    assert t.read().count() == 900
    assert t.read(v1).count() == 1000  # time travel predates the DV
    assert t.read().where("k % 10 = 0").count() == 0

    # pruned + point reads apply the DV too
    df, _tot, _scan = t.read_pruned({"k": (0, 99)})
    assert df.count() == 90
    pts, _tot2, _scan2 = t.read_points("k", [10, 11])
    assert sorted(r["k"] for r in pts.collect()) == [11]

    # rewrite path must not resurrect: merge an update for a LIVE key
    # in a file that also contains DV-deleted rows
    upd = spark.createDataFrame([(11, 99.0, 9)], "k long, v double, ver int")
    t.merge_by_key(upd, ["k"], "ver")
    assert t.read().count() == 900  # deleted rows stayed dead
    assert t.read().where("k = 11").collect()[0]["v"] == 99.0
    assert t.read().where("k % 10 = 0").count() == 0

    # changes() across the DV refuses; across pure appends it still works
    with _pytest.raises(NotImplementedError, match="merge-on-read"):
        t.changes(v1)

    # OPTIMIZE materializes: DVs cleared, row multiset preserved
    t.optimize(sort_by=["k"], target_files=2)
    assert t.read().count() == 900
    assert t.read().where("k % 10 = 0").count() == 0
    _f, _s, _st, dvs_now = t._snapshot_state(t.latest_version())
    assert dvs_now == []
    # once BOTH endpoints are DV-free, changes() works again
    v_opt = t.latest_version()
    t.append(spark.createDataFrame([(5000, 1.0)], "k long, v double"))
    ch = t.changes(v_opt)
    assert [(r["k"], r["_change_type"]) for r in ch.collect()] == [(5000, "insert")]

    # vacuum with retention 0: old files + now-unreferenced DVs reclaimed,
    # latest snapshot intact (900 survivors + the post-optimize append)
    t.vacuum(keep_versions=1, retention_seconds=0)
    assert t.read().count() == 901
    leftover_dvs = [f for f in _os.listdir(t.data_dir) if f.endswith(".dv.parquet")]
    assert leftover_dvs == []


def test_delete_mor_dv_files_survive_vacuum_while_referenced(spark, tmp_path):
    import os as _os

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.range(0, 100).selectExpr("id AS k"))
    t.delete_by_key_mor(spark.createDataFrame([(5,)], "k long"), ["k"])
    t.vacuum(keep_versions=1, retention_seconds=0)
    assert [f for f in _os.listdir(t.data_dir) if f.endswith(".dv.parquet")]
    assert t.read().count() == 99
    assert t.read().where("k = 5").count() == 0


def test_delete_mor_position_scan_prunes(spark, tmp_path):
    """MoR's position-discovery scan is stats-pruned like delete_by_key's:
    on a key-clustered table a small delete opens ONLY the files whose
    min/max (and Bloom) can contain a probed key — the O(table)-scan
    inversion of the feature's value proposition is gone. Output is
    identical to the unpruned semantics."""
    t = TxTable(spark, str(tmp_path / "t"), stats_cols=["k"], bloom_cols=["k"])
    for lo in (0, 1000, 2000, 3000):
        t.append(
            spark.range(lo, lo + 100).selectExpr("id AS k", "id * 2 AS v").coalesce(1)
        )
    dead = spark.createDataFrame([(1005,), (1007,)], "k long")
    t.delete_by_key_mor(dead, ["k"])
    total, scanned = t.last_mor_scan
    assert total == 4 and scanned == 1  # min/max prunes to the one file
    assert t.read().count() == 398
    assert t.read().where("k IN (1005, 1007)").count() == 0

    # Bloom prunes when ranges interleave (min/max can't discriminate):
    # two files covering the same range but DISJOINT key sets
    t2 = TxTable(spark, str(tmp_path / "t2"), stats_cols=["k"], bloom_cols=["k"])
    t2.append(
        spark.range(0, 500).selectExpr("id * 2 AS k", "id AS v").coalesce(1)
    )  # even keys 0..998
    t2.append(
        spark.range(0, 500).selectExpr("id * 2 + 1 AS k", "id AS v").coalesce(1)
    )  # odd keys 1..999
    t2.delete_by_key_mor(spark.createDataFrame([(4,), (10,)], "k long"), ["k"])
    total2, scanned2 = t2.last_mor_scan
    assert total2 == 2 and scanned2 == 1  # only the even-key file opened
    assert t2.read().count() == 998
    assert t2.read().where("k IN (4, 10)").count() == 0

    # no-op delete of an absent key range opens nothing
    t2.delete_by_key_mor(spark.createDataFrame([(10**7,)], "k long"), ["k"])
    assert t2.last_mor_scan == (2, 0)
    assert t2.read().count() == 998


def test_rewrite_commits_drop_dead_deletion_vectors(spark, tmp_path):
    """merge/delete copy-on-write commits rewrite the snapshot's DV list
    down to positions referencing SURVIVING files (rewritten files carry
    their DV'd rows already removed). The DV list therefore shrinks as
    files rewrite instead of growing monotonically, and once no live
    file has a DV, changes() works again without an OPTIMIZE."""
    t = TxTable(spark, str(tmp_path / "t"), stats_cols=["k"])
    t.append(spark.range(0, 100).selectExpr("id AS k", "id AS v", "CAST(1 AS LONG) AS ver").coalesce(1))
    t.append(spark.range(1000, 1100).selectExpr("id AS k", "id AS v", "CAST(1 AS LONG) AS ver").coalesce(1))
    # one MoR commit deleting rows in BOTH files
    t.delete_by_key_mor(spark.createDataFrame([(5,), (1005,)], "k long"), ["k"])
    _f, _s, _st, dvs = t._snapshot_state(t.latest_version())
    assert dvs and t.read().count() == 198

    # CoW delete touching only the FIRST file: its DV positions are dead;
    # the second file's DV must survive
    t.delete_by_key(spark.createDataFrame([(7,)], "k long"), ["k"])
    files, _s, _st, dvs1 = t._snapshot_state(t.latest_version())
    assert dvs1, "the untouched file's DV positions must survive"
    assert t.read().count() == 197
    assert t.read().where("k IN (5, 7, 1005)").count() == 0
    # surviving DV references only live files
    dv_rows = spark.read.parquet(
        *[str(tmp_path / "t" / "data" / d) for d in dvs1]
    ).collect()
    assert {r["file"] for r in dv_rows} <= set(files)

    # merge touching the SECOND file kills the last DV: list goes empty
    upd = spark.createDataFrame([(1007, 9999, 2)], "k long, v long, ver long")
    t.merge_by_key(upd, ["k"], "ver")
    v_clean = t.latest_version()
    _f2, _s2, _st2, dvs2 = t._snapshot_state(v_clean)
    assert dvs2 == []
    assert t.read().count() == 197
    assert t.read().where("k = 1007").collect()[0]["v"] == 9999
    assert t.read().where("k IN (5, 7, 1005)").count() == 0

    # changes() works across the DV-free tail without an OPTIMIZE
    t.append(spark.createDataFrame([(5000, 1, 1)], "k long, v long, ver long"))
    ch = t.changes(v_clean)
    assert [(r["k"], r["_change_type"]) for r in ch.collect()] == [(5000, "insert")]


def test_check_constraints_validate_the_written_rows(spark, tmp_path):
    """TOCTOU pin: the rows the constraint check sees are the EXACT rows
    committed. A non-deterministic input that would produce different
    rows on re-evaluation (pass the check, then materialize a violation)
    cannot slip through — the frame is materialized once before
    validation and the write reuses that materialization."""
    from pyspark.sql.types import LongType

    marker = str(tmp_path / "evals")

    def flaky(x):
        # first evaluation returns a valid value, every later one violates
        import os as _os

        p = f"{marker}-{x}"
        if _os.path.exists(p):
            return -1
        with open(p, "w") as f:
            f.write("1")
        return 1

    u = F.udf(flaky, LongType()).asNondeterministic()
    t = TxTable(spark, str(tmp_path / "t"), constraints={"v_pos": "v > 0"})
    df = spark.range(0, 3, 1, 1).select(F.col("id").alias("k"), u("id").alias("v"))
    t.append(df)
    vals = sorted(r["v"] for r in t.read().collect())
    assert vals == [1, 1, 1], (
        "committed rows differ from the validated rows — check/write TOCTOU"
    )


def test_restore_is_metadata_only_rollback(spark, tmp_path):
    """RESTORE commits a snapshot equal to the target version without
    touching any data file (O(log), not O(table)); history is preserved
    (the mistaken versions stay time-travelable, restore appears as its
    own commit), stats ride along so data skipping still works, and a
    restore whose target files were vacuumed refuses loudly."""
    t = TxTable(spark, str(tmp_path / "t"), stats_cols=["k"])
    v1 = t.append(_mk(spark, [(1, "a", 1), (10, "b", 1)]).coalesce(1))
    v2 = t.merge_by_key(_mk(spark, [(1, "A", 2)]), ["k"], "ver")
    v3 = t.delete_by_key(spark.createDataFrame([(10,)], "k long"), ["k"])
    disk_before = sorted(os.listdir(t.data_dir))

    v4 = t.restore(v1)
    assert v4 == v3 + 1
    assert sorted(os.listdir(t.data_dir)) == disk_before  # metadata-only
    assert _rows(t.read()) == [(1, "a", 1), (10, "b", 1)]
    # the mistaken versions remain readable (history preserved)
    assert _rows(t.read(version=v2)) == [(1, "A", 2), (10, "b", 1)]
    assert _rows(t.read(version=v3)) == [(1, "A", 2)]
    ops = [h["op"] for h in t.history()]
    assert ops == ["append", "merge", "delete", "restore"]
    # stats restored with the files: skipping still prunes post-restore
    files, _, stats, _ = t._snapshot_state(v4)
    assert all(f in stats and "k" in stats[f] for f in files)
    # changes() across the restore reports exactly the reverted rows
    ch = {(r["k"], r["v"], r["_change_type"]) for r in t.changes(v3, v4).collect()}
    assert ch == {(1, "a", "insert"), (10, "b", "insert"), (1, "A", "delete")}

    # a restored snapshot protects its files from vacuum
    t.vacuum(keep_versions=1, retention_seconds=0)
    assert _rows(t.read()) == [(1, "a", 1), (10, "b", 1)]


def test_restore_reinstates_deletion_vectors(spark, tmp_path):
    """Restoring to a version that carried merge-on-read deletes brings
    its DV set back verbatim — the suppressed rows stay suppressed —
    and clears any DVs committed after the target."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.range(0, 20).selectExpr("id AS k"))
    v_dv = t.delete_by_key_mor(spark.createDataFrame([(3,)], "k long"), ["k"])
    t.delete_by_key_mor(spark.createDataFrame([(7,)], "k long"), ["k"])
    _f0, _s0, _st0, dvs_target = t._snapshot_state(v_dv)
    v_r = t.restore(v_dv)
    assert t.read().count() == 19
    assert t.read().where("k = 3").count() == 0   # target DV active
    assert t.read().where("k = 7").count() == 1   # post-target DV cleared
    _f, _s, _st, dvs = t._snapshot_state(v_r)
    assert sorted(dvs) == sorted(dvs_target)  # the target's DV set, verbatim


def test_restore_past_vacuum_refuses(spark, tmp_path):
    from reflex_spark.sources.tx_table import HistoryTruncatedError

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1)]).coalesce(1))
    t.merge_by_key(_mk(spark, [(1, "A", 2)]), ["k"], "ver")  # rewrites v0's file
    t.vacuum(keep_versions=1, retention_seconds=0)
    with pytest.raises(HistoryTruncatedError, match="vacuumed"):
        t.restore(0)
    # the table itself is untouched by the refused restore
    assert _rows(t.read()) == [(1, "A", 2)]


def test_merge_tombstones_upsert_and_delete_in_one_commit(spark, tmp_path):
    """tombstone_col (Delta's WHEN MATCHED ... THEN DELETE): upserts,
    inserts, and deletes land in ONE commit — the CDC-apply shape. A key
    whose winning row by version is a tombstone is dropped; stale
    tombstones lose to newer upserts; tombstones for absent keys are
    no-ops; at EQUAL version the delete wins regardless of the other
    columns' values; the tombstone column is never stored and never
    evolves the schema."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        _mk(spark, [(1, "a", 5), (2, "b", 5), (3, "c", 5), (4, "d", 5)])
    )
    changes = spark.createDataFrame(
        [
            (1, "A", 6, False),   # upsert wins (newer)
            (2, None, 6, True),   # delete wins (newer)
            (3, "zzz", 4, True),  # stale delete loses ('zzz' would win a
                                  # column tie-break — version must decide)
            (4, "aaa", 5, True),  # EQUAL version: delete wins even though
                                  # 'aaa' < 'd' in the column tie-break
            (9, "new", 1, False), # unmatched upsert inserts
            (8, None, 1, True),   # unmatched delete is a no-op
        ],
        "k long, v string, ver long, deleted boolean",
    )
    t.merge_by_key(changes, ["k"], "ver", tombstone_col="deleted")
    assert _rows(t.read()) == [(1, "A", 6), (3, "c", 5), (9, "new", 1)]
    assert t.read().columns == ["k", "v", "ver"]  # tombstone col not stored
    # one commit only
    assert [h["op"] for h in t.history()] == ["append", "merge"]
    # the deletes surface in the change feed
    ch = {(r["k"], r["_change_type"]) for r in t.changes(0).collect()}
    assert (2, "delete") in ch and (4, "delete") in ch


def test_merge_tombstones_skip_check_constraints(spark, tmp_path):
    """Tombstone rows carry no data that will land — they are exempt
    from CHECK constraints (a delete of a row whose payload fields are
    null/garbage must not be rejected); non-tombstone rows in the same
    commit are still validated."""
    import pytest as _pytest

    from reflex_spark.sources.tx_table import ConstraintViolationError

    t = TxTable(
        spark, str(tmp_path / "t"), constraints={"v_known": "v IS NOT NULL"}
    )
    t.append(spark.createDataFrame([(1, "a", 1)], "k long, v string, ver long"))
    # a tombstone with a constraint-violating payload passes
    t.merge_by_key(
        spark.createDataFrame(
            [(1, None, 2, True)], "k long, v string, ver long, deleted boolean"
        ),
        ["k"],
        "ver",
        tombstone_col="deleted",
    )
    assert t.read().count() == 0
    # a violating UPSERT in a tombstone merge is still rejected
    with _pytest.raises(ConstraintViolationError):
        t.merge_by_key(
            spark.createDataFrame(
                [(5, None, 3, False)],
                "k long, v string, ver long, deleted boolean",
            ),
            ["k"],
            "ver",
            tombstone_col="deleted",
        )


def test_randomized_commit_sequence_matches_model(spark, tmp_path):
    """Model-based integration pin: a seeded random sequence of every
    commit kind (append, merge, tombstone merge, copy-on-write delete,
    merge-on-read delete, optimize, restore) is replayed against a plain
    Python dict model, then EVERY retained version is read back and must
    equal the model's snapshot at that version. The sequence crosses the
    CHECKPOINT_INTERVAL boundary, so checkpoint state (files, stats,
    DVs) is exercised under mixed entry kinds — interactions the
    per-feature tests cannot see. Merges use strictly increasing
    versions so the model's 'newer wins' rule is unambiguous (tie
    semantics are pinned separately)."""
    import random

    rng = random.Random(13)
    t = TxTable(spark, str(tmp_path / "t"), stats_cols=["k"])
    model: dict[int, tuple] = {}
    snapshots: dict[int, frozenset] = {}
    next_key, next_ver = 0, 1

    def mk3(rows):
        return spark.createDataFrame(rows, "k long, v string, ver long")

    def snap(committed: int) -> None:
        snapshots[committed] = frozenset((k, *model[k]) for k in model)

    rows = [(i, f"s{i}", 0) for i in range(8)]
    next_key = 8
    for k, v, vr in rows:
        model[k] = (v, vr)
    snap(t.append(mk3(rows)))

    for step in range(14):
        op = rng.choice(
            ["append", "merge", "tombstone", "delete", "mor", "optimize", "restore"]
        )
        if op == "append":
            rows = [(next_key + i, f"a{step}_{i}", 0) for i in range(rng.randint(1, 4))]
            next_key += len(rows)
            for k, v, vr in rows:
                model[k] = (v, vr)
            snap(t.append(mk3(rows)))
        elif op == "merge":
            keys = rng.sample(sorted(model), min(len(model), rng.randint(1, 4)))
            new = [next_key + i for i in range(rng.randint(0, 2))]
            next_key += len(new)
            if not keys and not new:
                continue
            ver = next_ver
            next_ver += 1
            ups = [(k, f"m{step}_{k}", ver) for k in keys + new]
            for k, v, vr in ups:
                model[k] = (v, vr)
            snap(t.merge_by_key(mk3(ups), ["k"], "ver"))
        elif op == "tombstone":
            keys = rng.sample(sorted(model), min(len(model), rng.randint(1, 4)))
            new = [next_key + i for i in range(rng.randint(0, 2))]
            next_key += len(new)
            if not keys and not new:
                continue
            ver = next_ver
            next_ver += 1
            dead = set(rng.sample(keys, len(keys) // 2)) if keys else set()
            rows4 = [
                (k, None if k in dead else f"t{step}_{k}", ver, k in dead)
                for k in keys + new
            ]
            for k, v, vr, d in rows4:
                if d:
                    model.pop(k, None)
                else:
                    model[k] = (v, vr)
            df = spark.createDataFrame(
                rows4, "k long, v string, ver long, deleted boolean"
            )
            snap(t.merge_by_key(df, ["k"], "ver", tombstone_col="deleted"))
        elif op == "delete":
            if not model:
                continue
            keys = rng.sample(sorted(model), min(len(model), rng.randint(1, 3)))
            for k in keys:
                model.pop(k, None)
            snap(
                t.delete_by_key(
                    spark.createDataFrame([(k,) for k in keys], "k long"), ["k"]
                )
            )
        elif op == "mor":
            if not model:
                continue
            keys = rng.sample(sorted(model), min(len(model), rng.randint(1, 3)))
            for k in keys:
                model.pop(k, None)
            snap(
                t.delete_by_key_mor(
                    spark.createDataFrame([(k,) for k in keys], "k long"), ["k"]
                )
            )
        elif op == "optimize":
            if not model:
                continue
            snap(t.optimize(target_files=2))
        elif op == "restore":
            target = rng.choice(sorted(snapshots))
            model = {k: (v, vr) for (k, v, vr) in snapshots[target]}
            snap(t.restore(target))

    assert len(snapshots) >= 12  # crossed the checkpoint interval
    for ver, expect in sorted(snapshots.items()):
        got = frozenset(
            tuple(r) for r in t.read(version=ver).select("k", "v", "ver").collect()
        )
        assert got == expect, f"version {ver}: {got ^ expect}"


def test_clone_is_zero_copy_and_equal(spark, tmp_path):
    """Shallow clone: snapshot-equal at clone time, zero data bytes copied
    (hardlinks — same inode, link count 2)."""
    t = TxTable(spark, str(tmp_path / "src"), stats_cols=["k"])
    t.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]).coalesce(1))
    t.append(_mk(spark, [(3, "c", 1)]).coalesce(1))
    c = t.clone(str(tmp_path / "dst"))
    assert _rows(c.read()) == _rows(t.read())
    files, _ = c._snapshot_files(c.latest_version())
    for f in files:
        src_st = os.stat(os.path.join(t.data_dir, f))
        dst_st = os.stat(os.path.join(c.data_dir, f))
        assert src_st.st_ino == dst_st.st_ino  # same inode: zero-copy
        assert dst_st.st_nlink == 2
    # stats carried over: the clone's data skipping works from commit 0
    entry = c._entry(0)
    assert entry["op"] == "clone" and entry["stats"]


def test_clone_divergence_is_two_way_isolated(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "src"))
    t.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]))
    c = t.clone(str(tmp_path / "dst"))
    src_v = t.latest_version()
    # mutate the clone: merge + delete + append
    c.merge_by_key(_mk(spark, [(2, "B", 2)]), ["k"], "ver")
    c.delete_by_key(spark.createDataFrame([(1,)], "k long"), ["k"])
    c.append(_mk(spark, [(9, "z", 1)]))
    assert _rows(c.read()) == [(2, "B", 2), (9, "z", 1)]
    # source is untouched — same version, same rows
    assert t.latest_version() == src_v
    assert _rows(t.read()) == [(1, "a", 1), (2, "b", 1)]
    # and mutating the source does not leak into the clone
    t.append(_mk(spark, [(7, "q", 1)]))
    assert (7, "q", 1) not in _rows(c.read())


def test_clone_carries_deletion_vectors(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "src"))
    t.append(_mk(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]))
    t.delete_by_key_mor(spark.createDataFrame([(2,)], "k long"), ["k"])
    c = t.clone(str(tmp_path / "dst"))
    assert _rows(c.read()) == [(1, "a", 1), (3, "c", 1)]
    assert c._snapshot_state(0)[3], "clone lost the deletion vectors"


def test_clone_of_older_version_and_vacuum_independence(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "src"))
    t.append(_mk(spark, [(1, "a", 1)]))
    v1 = t.latest_version()
    t.append(_mk(spark, [(2, "b", 1)]))
    c = t.clone(str(tmp_path / "dst"), version=v1)
    assert _rows(c.read()) == [(1, "a", 1)]
    # source rewrites everything then vacuums with zero retention: its own
    # old directory entries go away, but the clone's hardlinks keep the
    # inodes alive — the clone still reads
    t.merge_by_key(_mk(spark, [(1, "A", 2), (2, "B", 2)]), ["k"], "ver")
    t.vacuum(keep_versions=1, retention_seconds=0.0)
    assert _rows(c.read()) == [(1, "a", 1)]


def test_clone_refuses_nonempty_destination(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "src"))
    t.append(_mk(spark, [(1, "a", 1)]))
    t.clone(str(tmp_path / "dst"))
    with pytest.raises(ValueError, match="not empty"):
        t.clone(str(tmp_path / "dst"))
    with pytest.raises(ValueError, match="empty table"):
        TxTable(spark, str(tmp_path / "never")).clone(str(tmp_path / "x"))


def test_append_audited_publishes_when_expectations_pass(spark, tmp_path):
    from reflex_spark.operators import validate as V
    from reflex_spark.sources.tx_table import AuditFailedError

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]))
    v = t.append_audited(
        _mk(spark, [(3, "c", 1)]),
        [V.is_unique("k"), V.is_complete("v"), V.has_size(hi=10.0)],
    )
    assert v == 1 and t._entry(v)["op"] == "append_audited"
    assert _rows(t.read()) == [(1, "a", 1), (2, "b", 1), (3, "c", 1)]


def test_append_audited_blocks_cross_commit_duplicate(spark, tmp_path):
    """The audit sees snapshot ∪ staged: a batch that is internally clean
    but duplicates an EXISTING key must fail — the invariant CHECK
    constraints cannot express."""
    from reflex_spark.operators import validate as V
    from reflex_spark.sources.tx_table import AuditFailedError

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]))
    import os as _os

    disk_before = sorted(_os.listdir(t.data_dir))
    with pytest.raises(AuditFailedError, match="unique"):
        t.append_audited(_mk(spark, [(2, "dup", 2)]), [V.is_unique("k")])
    # nothing committed, staged files rolled back
    assert t.latest_version() == 0
    assert sorted(_os.listdir(t.data_dir)) == disk_before
    assert _rows(t.read()) == [(1, "a", 1), (2, "b", 1)]


def test_append_audited_on_empty_table(spark, tmp_path):
    from reflex_spark.operators import validate as V

    t = TxTable(spark, str(tmp_path / "t"))
    v = t.append_audited(_mk(spark, [(1, "a", 1)]), [V.is_unique("k")])
    assert v == 0 and _rows(t.read()) == [(1, "a", 1)]


def test_files_metadata_table(spark, tmp_path):
    import json as _json

    t = TxTable(spark, str(tmp_path / "t"), stats_cols=["k"])
    t.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]).coalesce(1))
    t.append(_mk(spark, [(9, "z", 1)]).coalesce(1))
    t.delete_by_key_mor(spark.createDataFrame([(2,)], "k long"), ["k"])
    meta = {r["file"]: r for r in t.files().collect()}
    live, _ = t._snapshot_files(t.latest_version())
    assert sorted(meta) == sorted(live)
    for r in meta.values():
        assert r["size_bytes"] > 0
        st = _json.loads(r["stats"])
        assert "k" in st  # min/max recorded for stats_cols
    # exactly the file holding k=2 carries a deletion vector
    dv_flags = [r["has_dv"] for r in meta.values()]
    assert sum(dv_flags) == 1
    # version pinning: the pre-delete snapshot shows no DVs
    assert not any(r["has_dv"] for r in t.files(version=1).collect())


def test_append_audited_all_null_metric_fails_closed(spark, tmp_path):
    """An all-NULL audited column must raise AuditFailedError (NULL metric
    fails a bounded expectation) and unstage — not crash with ANSI
    DIVIDE_BY_ZERO and leak staged files."""
    import os as _os

    from reflex_spark.operators import validate as V
    from reflex_spark.sources.tx_table import AuditFailedError

    t = TxTable(spark, str(tmp_path / "t"))
    bad = spark.createDataFrame([(1, None), (2, None)], "k long, v double")
    with pytest.raises(AuditFailedError, match="mean"):
        t.append_audited(bad, [V.has_mean("v", lo=0.0)])
    assert t.latest_version() == -1
    assert _os.listdir(t.data_dir) == []


@pytest.mark.slow  # multi-minute-class probe; default run excluded (r17 verify budget), runs under -m slow
def test_mor_cross_type_probe_falls_back_to_full_scan(spark, tmp_path):
    """A probe frame whose key type differs from the column's must DISABLE
    pruning (full scan, correct delete) — never crash or silently skip
    files the casting equi-join would have matched."""
    t = TxTable(spark, str(tmp_path / "t"), stats_cols=["k"], bloom_cols=["k"])
    t.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]).coalesce(1))
    t.append(_mk(spark, [(100, "z", 1)]).coalesce(1))
    # double-typed probe against the bigint column
    t.delete_by_key_mor(
        spark.createDataFrame([(2.0,)], "k double"), ["k"]
    )
    assert _rows(t.read()) == [(1, "a", 1), (100, "z", 1)]
    total, scanned = t.last_mor_scan
    assert scanned == total  # pruning off, not wrong


def test_dv_rewrite_skipped_when_no_file_removed(spark, tmp_path):
    """A delete of absent keys on a DV-carrying table must not rewrite the
    DV set (no file removed -> every position still live)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]))
    t.delete_by_key_mor(spark.createDataFrame([(2,)], "k long"), ["k"])
    dvs_before = t._snapshot_state(t.latest_version())[3]
    t.delete_by_key(spark.createDataFrame([(999,)], "k long"), ["k"])
    dvs_after = t._snapshot_state(t.latest_version())[3]
    assert dvs_after == dvs_before  # verbatim carry, no rewrite
    assert _rows(t.read()) == [(1, "a", 1)]


def test_merge_retries_after_lost_version_race(spark, tmp_path):
    """Delta-parity writer behavior: losing the optimistic version race
    with retries>0 re-executes against the new head; the losing attempt's
    staged files are unstaged (no orphans)."""
    import os as _os

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]))

    real_commit = t._commit
    fails = {"n": 1}

    def racy_commit(version, entry):
        if entry.get("op") == "merge" and fails["n"]:
            fails["n"] -= 1
            # simulate a concurrent writer winning this version
            real_commit(version, {"op": "append", "adds": [], "stats": {}})
            raise ConcurrentCommitError(f"version {version} taken")
        real_commit(version, entry)

    t._commit = racy_commit
    v = t.merge_by_key(_mk(spark, [(2, "B", 2)]), ["k"], "ver", retries=1)
    assert v == t.latest_version()
    assert _rows(t.read()) == [(1, "a", 1), (2, "B", 2)]
    # every data file on disk is referenced by some retained version
    referenced = set()
    for ver in t._versions():
        referenced |= set(t._entry(ver).get("adds", []))
        referenced |= set(t._entry(ver).get("dv_adds", []))
    on_disk = set(_os.listdir(t.data_dir))
    assert on_disk <= referenced, f"orphans: {on_disk - referenced}"


def test_merge_race_still_raises_without_retries(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1)]))
    real_commit = t._commit

    def racy_commit(version, entry):
        if entry.get("op") == "merge":
            real_commit(version, {"op": "append", "adds": [], "stats": {}})
            raise ConcurrentCommitError(f"version {version} taken")
        real_commit(version, entry)

    t._commit = racy_commit
    with pytest.raises(ConcurrentCommitError):
        t.merge_by_key(_mk(spark, [(1, "A", 2)]), ["k"], "ver")


def test_timestamp_as_of_reads(spark, tmp_path):
    """TIMESTAMP AS OF parity: version_at resolves the latest commit at or
    before the wall time; read_as_of reproduces that snapshot; predating
    timestamps refuse."""
    import time as _time

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1)]))
    ts_v0 = _time.time()
    _time.sleep(0.05)
    t.append(_mk(spark, [(2, "b", 1)]))
    assert t.version_at(ts_v0) == 0
    assert t.version_at(_time.time()) == 1
    assert _rows(t.read_as_of(ts_v0)) == [(1, "a", 1)]
    assert sorted(h["ts"] for h in t.history()) == [
        h["ts"] for h in t.history()
    ]  # history carries monotonic commit times
    with pytest.raises(ValueError, match="predates"):
        t.version_at(ts_v0 - 10_000)


def test_empty_table_merge_race_leaves_no_orphans(spark, tmp_path):
    """A raced version-0 merge must unstage its files like every other
    rewrite (review finding: the empty-table degenerate path committed
    via _commit and leaked its parquet on ConcurrentCommitError)."""
    import os as _os

    t = TxTable(spark, str(tmp_path / "t"))
    real_commit = t._commit

    def racy_commit(version, entry):
        if entry.get("op") == "merge":
            real_commit(version, {"op": "append", "adds": [], "stats": {}})
            raise ConcurrentCommitError(f"version {version} taken")
        real_commit(version, entry)

    t._commit = racy_commit
    with pytest.raises(ConcurrentCommitError):
        t.merge_by_key(_mk(spark, [(1, "a", 1)]), ["k"], "ver")
    assert _os.listdir(t.data_dir) == []


def test_version_at_well_defined_under_writer_clock_skew(spark, tmp_path):
    """Concurrent-writer clock skew can make recorded commit ts
    NON-monotonic across versions; version_at must monotonicize while
    scanning (Delta-style ts' = max(prev', ts)) so resolution is
    well-defined instead of depending on where an early break lands."""
    import json as _json
    import os as _os

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a", 1)]))
    t.append(_mk(spark, [(2, "b", 1)]))
    t.append(_mk(spark, [(3, "c", 1)]))
    # simulate skew: v1's writer clock ran 50s ahead of v2's
    for v, ts in ((0, 100.0), (1, 300.0), (2, 250.0)):
        p = _os.path.join(t.log_dir, f"{v:020d}.json")
        e = _json.load(open(p))
        e["ts"] = ts
        with open(p, "w") as f:
            _json.dump(e, f)
    # adjusted times are 100, 300, 300: t=260 falls before v1's adjusted
    # commit, so the prefix rule resolves to v0 — NOT v2, whose raw ts
    # (250) predates its predecessor's
    assert t.version_at(260.0) == 0
    assert t.version_at(300.0) == 2  # latest version at the adjusted time
    assert t.version_at(100.0) == 0
    with pytest.raises(ValueError, match="predates"):
        t.version_at(50.0)
