"""How a control file becomes visible: the one module that knows.

- **Exclusive publish** (``publish_exclusive``): a JSON file is written to
  a hidden temp file, then hard-linked to its name, so readers see no file
  or the whole file, and an existing name is never overwritten
  (``ConcurrentCommitError``). EventLog's records and TxTable's versions.
- **Durable replace** (``replace_json``): the same temp file, fsynced and
  renamed over the name: readers see the old file or the whole new one.
  FileCursorStore's cursors, ``run_stream``'s ``bootstrap_head.json``,
  TxTable's checkpoints, the blob sink's ``_SUCCESS``, IvfIndex's ledger.
- **Writer claim** (``WriterClaim``): an exclusive publish that refuses a
  second writer until released. The blob sink (constructor to
  ``commit``/``abort``) and IvfIndex maintenance (a ``with`` block).
- **Generation swap** (``swap_generation``): a directory is republished
  whole behind an atomically replaced symlink. ``EventLog.compact`` and
  ``MaterializedCounts``.

EventLog moves its data files into place with ``move_in``; other writers
move theirs themselves. One of the above makes them visible.

Each publish is durable when it returns: a file is fsynced before it is
linked, renamed or swapped into place, and the directory that gains it
right after. So a record never names a data file a power loss can take,
and a record is on disk a directory fsync after it becomes visible, well
before a consumer can deliver it and fsync a cursor past it.

An EventLog record ``{seq, min_id, max_id, files, commit_ts}`` at
``_commits/<seq:08d>.json`` names the data files (relative to the log)
holding ids ``[min_id, max_id]``. It is published after they are visible,
never changes, and its seq is never reused, compactions included, so
readers parse each record path once (``read_records``'s ``cache``). The
``_`` prefix keeps records out of Spark, Structured Streaming and DuckDB
``part-*`` scans.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable

#: EventLog's record directory inside the log (the ``_`` prefix hides it
#: from Spark's file listing).
COMMITS_DIR = "_commits"


class ConcurrentCommitError(Exception):
    """Another writer committed this version first — reread and retry."""


def link_exclusive(src: str, dest: str) -> None:
    """Hard-link ``src`` at ``dest``; ConcurrentCommitError when ``dest``
    already exists."""
    try:
        os.link(src, dest)
    except FileExistsError:
        raise ConcurrentCommitError(f"{dest} was published by another writer") from None


def _fsync(path: str) -> None:
    """fsync the file or directory at ``path``."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _fsync_tree(root: str) -> None:
    """fsync every file and directory under ``root``, then ``root``."""
    for d, _dirs, files in os.walk(root, topdown=False):
        for name in files:
            _fsync(os.path.join(d, name))
        _fsync(d)


def _durable_temp(path: str, obj) -> str:
    """``obj`` as JSON in a hidden temp file beside ``path``, fsynced; the
    temp file is removed on any error."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), prefix=".", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
    except BaseException:
        os.unlink(tmp)
        raise
    return tmp


def publish_exclusive(path: str, obj) -> None:
    """Publish ``obj`` as JSON at ``path`` unless something is there
    already (then ConcurrentCommitError, and nothing changes). The file is
    fsynced before it is linked, and its directory right after."""
    tmp = _durable_temp(path, obj)
    try:
        link_exclusive(tmp, path)  # the commit point
    finally:
        os.unlink(tmp)
    _fsync(os.path.dirname(path))


def replace_json(path: str, obj) -> None:
    """Write ``obj`` as JSON at ``path``, replacing any file there. Readers
    see the old file or the whole new one; the new one is fsynced before
    the rename and its directory right after, and the temp file is removed
    on any error."""
    tmp = _durable_temp(path, obj)
    try:
        os.replace(tmp, path)  # the commit point
    except BaseException:
        os.unlink(tmp)
        raise
    _fsync(os.path.dirname(path))


def move_in(staged: str, root: str, files: list[str]) -> None:
    """Rename each of ``files`` (paths relative to ``staged``) to the same
    path under ``root``, durably: each file is fsynced before its rename,
    and ``root`` and every directory a file lands in after the renames, so
    a record published next never names a file a power loss can take."""
    dirs = {root}
    for f in files:
        src, dest = os.path.join(staged, f), os.path.join(root, f)
        _fsync(src)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.rename(src, dest)
        dirs.add(os.path.dirname(dest))
    for d in sorted(dirs, reverse=True):  # subdirectories before root
        _fsync(d)


class WriterClaim:
    """The single-writer claim file at ``path`` for ``writer``. ``acquire``
    publishes ``{"pid": ...}`` exclusively, or raises ValueError naming
    the file, its holder and its age; a crashed writer's claim refuses
    until removed by hand. ``release`` removes it; ``with`` does both."""

    def __init__(self, path: str, writer: str):
        self.path = path
        self.writer = writer

    def acquire(self) -> None:
        try:
            publish_exclusive(self.path, {"pid": os.getpid()})
        except ConcurrentCommitError:
            try:
                age = max(0.0, time.time() - os.path.getmtime(self.path))
                with open(self.path, encoding="utf-8") as f:
                    holder = f.read().strip()
            except OSError:
                age, holder = -1.0, "?"
            raise ValueError(
                f"another writer holds the claim {self.path} (holder {holder!r}, "
                f"age {age:.0f}s): {self.writer} is single-writer. If that writer "
                "crashed, remove the claim file once no writer is live."
            ) from None

    def release(self) -> None:
        with contextlib.suppress(FileNotFoundError):
            os.remove(self.path)

    __enter__ = acquire

    def __exit__(self, *exc) -> None:
        self.release()


def publish(dirpath: str, seq: int, min_id: int, max_id: int, files: list[str]) -> None:
    """Publish EventLog record ``seq``; ConcurrentCommitError when another
    writer published that seq first."""
    if not os.path.isdir(dirpath):
        os.makedirs(dirpath, exist_ok=True)
        _fsync(os.path.dirname(dirpath))
    rec = {"seq": seq, "min_id": min_id, "max_id": max_id, "files": files, "commit_ts": time.time()}
    publish_exclusive(os.path.join(dirpath, f"{seq:08d}.json"), rec)


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


def swap_generation(path: str, write: Callable[[str], None]) -> None:
    """Republish the directory at ``path``: ``write(gen)`` fills a new
    sibling ``<path>.data.<id>``, the symlink at ``path`` is replaced to
    point at it, and every other ``<path>.data.*`` (the superseded
    generation, any a crash left unpublished) is removed. Converting a
    plain directory leaves ``path`` absent for a moment: quiesce readers.
    The new generation's files and directories are fsynced before the
    swap, and ``parent`` after it."""
    parent, name = os.path.split(os.path.abspath(path))
    prefix = f"{name}.data."
    gen = prefix + uuid.uuid4().hex
    write(os.path.join(parent, gen))
    _fsync_tree(os.path.join(parent, gen))
    link = os.path.join(parent, f".{name}.lnk")
    if os.path.lexists(link):
        os.remove(link)  # left by a crashed swap
    os.symlink(gen, link)  # relative: the pair can move together
    if os.path.isdir(path) and not os.path.islink(path):
        os.rename(path, os.path.join(parent, prefix + uuid.uuid4().hex))
    os.replace(link, path)  # the commit point
    _fsync(parent)
    for d in os.listdir(parent):
        if d.startswith(prefix) and d != gen:
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
