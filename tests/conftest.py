from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Route TEST scratch (pytest tmp_path, the queries' tempfile.mkdtemp
# sandboxes, Spark shuffle/local dirs) to the tmpfs when one exists: the
# suite is dominated by control-plane I/O — state-store commits, ledger
# fsyncs, thousands of tiny parquet files — and on this box's ext4 that
# was ~37 min of SYS time for a 26-min wall run (measured r17; tmpfs
# writes are 4x faster and fsync-free). Tests only: bench.py and the
# driver's query runs are untouched, so timed numbers stay comparable.
# An externally-set TMPDIR always wins.
#
# tmpfs is memory: each run writes under its own ``run-<pid>`` directory,
# removed when the session ends (``_shm_scratch``), and a run deletes
# what runs that died left behind before it starts.
_SHM = "/dev/shm"
_SHM_ROOT = os.path.join(_SHM, "reflex_spark_tests")
_run_scratch = None


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


if os.path.isdir(_SHM) and os.access(_SHM, os.W_OK) and "TMPDIR" not in os.environ:
    os.makedirs(_SHM_ROOT, exist_ok=True)
    _run_scratch = os.path.join(_SHM_ROOT, f"run-{os.getpid()}")
    for _name in os.listdir(_SHM_ROOT):
        _pid = _name.removeprefix("run-")
        _path = os.path.join(_SHM_ROOT, _name)
        if _path != _run_scratch and _pid.isdigit() and _alive(int(_pid)):
            continue  # a live run's scratch
        if os.path.isdir(_path):
            shutil.rmtree(_path, ignore_errors=True)
        else:
            os.remove(_path)
    os.makedirs(_run_scratch)
    os.environ["TMPDIR"] = _run_scratch
    tempfile.tempdir = None  # drop the cached pre-TMPDIR choice


@pytest.fixture(scope="session", autouse=True)
def _shm_scratch():
    """Remove this run's tmpfs scratch when the session ends."""
    yield
    if _run_scratch is not None:
        shutil.rmtree(_run_scratch, ignore_errors=True)


from reflex_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="reflex_spark_tests",
        shuffle_partitions=8,
        extra_conf={"spark.local.dir": tempfile.gettempdir()},
    )
    yield s


def jobs_in(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` runs."""
    sc, group = spark.sparkContext, f"count-jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    time.sleep(0.5)  # let the listener bus record the last jobs
    return len(sc.statusTracker().getJobIdsForGroup(group))


def jobs_started(spark, fn) -> int:
    """The number of Spark jobs outside any job group that start while
    ``fn()`` runs, e.g. those of a server's threads: a thread does not
    inherit its starter's job group, so ``jobs_in`` cannot see them."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    fn()
    time.sleep(0.5)  # let the listener bus record the last jobs
    return len(set(tracker.getJobIdsForGroup(None)) - before)
