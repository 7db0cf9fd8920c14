"""Commit records: what EventLog's commit step publishes.

Each commit (an append, a gap fill, a compaction) publishes one small JSON
record

    {"seq": 7, "min_id": 101, "max_id": 140, "files": ["part-....parquet"],
     "commit_ts": 1760000000.25}

as ``<dir>/<seq:08d>.json``. ``files`` are paths relative to the log root;
``[min_id, max_id]`` is the id range the commit holds. A record is
written to a hidden temp file and ``os.replace``-d into place, so a reader
sees either no record or the whole record, and it is published strictly
after the data files it names are visible. A published record never
changes and a seq is never reused, compactions included, so a record path
always names the same record and readers parse each one once
(``read_records``'s ``cache``).

Records are only ever listed under the ``_``-prefixed ``COMMITS_DIR``,
never as ``part-*`` files: Spark, Structured Streaming and DuckDB
``part-*`` scans do not see them.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

#: EventLog's record directory inside the log (the ``_`` prefix hides it
#: from Spark's file listing).
COMMITS_DIR = "_commits"


def publish(dirpath: str, seq: int, min_id: int, max_id: int, files: list[str]) -> None:
    """Atomically publish record ``seq``."""
    rec = {
        "seq": seq,
        "min_id": min_id,
        "max_id": max_id,
        "files": files,
        "commit_ts": time.time(),
    }
    os.makedirs(dirpath, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=dirpath, prefix=".", suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, os.path.join(dirpath, f"{seq:08d}.json"))  # the commit point


def read_records(dirpath: str, cache: dict[str, dict]) -> list[dict]:
    """The published records under ``dirpath`` in seq order ([] when the
    directory does not exist). ``cache`` maps record path → record and is
    filled as records are parsed."""
    try:
        names = sorted(n for n in os.listdir(dirpath) if n.endswith(".json"))
    except FileNotFoundError:
        return []
    out = []
    for name in names:
        path = os.path.join(dirpath, name)
        rec = cache.get(path)  # one lookup: the cache may be cleared meanwhile
        if rec is None:
            with open(path) as f:
                rec = cache[path] = json.load(f)
        out.append(rec)
    return out

