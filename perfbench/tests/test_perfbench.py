"""Tests of the benchmark itself, on the smoke size.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The traced run covers every workload in one process; the untraced runs
check the end-to-end output of each workload.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    # Files, not pipes: a process left running would hold a pipe open, so
    # run() would wait for it to end and the leak would not show.
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        proc = subprocess.run(
            [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
            cwd=cwd,
            stdout=out,
            stderr=err,
            text=True,
            timeout=170,
        )
        out.seek(0), err.seek(0)
        proc.stdout, proc.stderr = out.read(), err.read()
    return proc


def leftover_processes(cwd: str = ROOT) -> list[str]:
    """Command lines of live processes that name a run's work dir under
    ``cwd``: a run's JVM does, through its tmpdir and warehouse."""
    marker = os.path.join(cwd, ".bench_work", "run-").encode()
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if marker in cmd:
            out.append(cmd.replace(b"\0", b" ").decode(errors="replace")[:200])
    return out


def result_of(proc: subprocess.CompletedProcess) -> dict:
    assert not leftover_processes(), "a process outlived the run"
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    return result


def test_inputs_follow_the_seed():
    size = gen.SIZES["smoke"]
    a, b, c = (gen.tail_input(s, size, 5.0) for s in (1, 1, 2))
    assert np.array_equal(a.offset_s, b.offset_s)
    assert np.array_equal(a.foreign_id, b.foreign_id)
    assert not (
        len(a.offset_s) == len(c.offset_s) and np.array_equal(a.offset_s, c.offset_s)
    )
    f1, f2, f3 = (gen.backfill_frames(s, size) for s in (7, 7, 8))
    assert all(x.equals(y) for x, y in zip(f1, f2))
    assert not all(x.equals(y) for x, y in zip(f1, f3))
    q1, q2, q3 = (gen.query_tables(s, size) for s in (5, 5, 6))
    assert all(q1[t].equals(q2[t]) for t in q1)
    assert not any(q1[t].equals(q3[t]) for t in q1)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_smoke_reports_every_end_to_end_metric(workload):
    proc = bench("--workload", workload, "--seed", "3", "--seconds", "2", "--trace", "0", "--size", "smoke")
    result = result_of(proc)
    declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    for name, unit in declared.items():
        assert result["metrics"][name]["value"] > 0, name
        line = rf"^{workload}: {name} = \S+ {re.escape(unit)}$"
        assert re.search(line, proc.stdout, re.M), name


def test_traced_smoke_reports_every_per_layer_metric():
    proc = bench("--workload", "tail", "--seed", "4", "--seconds", "2", "--trace", "1", "--size", "smoke")
    result = result_of(proc)
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    for name, unit in declared.items():
        line = rf"^{re.escape(name)} = \S+ {re.escape(unit)}$"
        assert re.search(line, proc.stdout, re.M), name


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", "tail", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
