"""Seeded input generation for the benchmark workloads.

Pure numpy/pandas, no Spark: the same seed always yields the same inputs,
and the tests can check that cheaply. The program under test only ever sees
the frames built here.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pandas as pd

N_TYPES = 5  # event types 1..5 (type 0 is reserved for noops)
BACKFILL_EPOCH = datetime(2026, 1, 1)
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")  # of the `events` table


@dataclass(frozen=True)
class Size:
    """Input sizes of one benchmark size preset."""

    tail_rate: float  # events created per second in `tail`
    tail_cardinality: int  # foreign_id range in `tail`
    backfill_appends: int  # appends (= data files) in the `backfill` log
    backfill_events: int  # events per append
    backfill_cardinality: int  # foreign_id range in `backfill`
    batch_limit: int  # run() batch_limit for the backfill replay
    max_files_per_trigger: int  # run_stream() files per micro-batch
    warmup_s: float  # untimed `tail` window run first
    warmup_pairs: int  # untimed `backfill` replay pairs run first
    lineitem_rows: int  # generated `lineitem` table for the query phase
    event_rows: int  # generated `events` table for the query phase
    users: int  # user_id range of the `events` table


SIZES = {
    "full": Size(
        tail_rate=200.0,
        tail_cardinality=10_000,
        backfill_appends=4,
        backfill_events=4_000,
        backfill_cardinality=1_000_000,
        batch_limit=8_000,
        max_files_per_trigger=2,
        # A fresh JVM runs its first appends, polls and replays several
        # times slower while the JIT compiles them.
        warmup_s=6.0,
        warmup_pairs=1,
        lineitem_rows=100_000,
        event_rows=50_000,
        users=2_000,
    ),
    "smoke": Size(
        tail_rate=40.0,
        tail_cardinality=100,
        backfill_appends=3,
        backfill_events=200,
        backfill_cardinality=1_000,
        batch_limit=250,
        max_files_per_trigger=1,
        warmup_s=0.0,
        warmup_pairs=0,
        lineitem_rows=2_000,
        event_rows=1_000,
        users=50,
    ),
}


def _foreign_ids(rng: np.random.Generator, n: int, cardinality: int) -> np.ndarray:
    """Pareto-skewed ids in [1, cardinality]: a few hot entities, a long tail."""
    x = rng.pareto(1.1, n) * (cardinality / 200.0)
    return (np.minimum(x, cardinality - 1).astype(np.int64) + 1).astype(str)


@dataclass(frozen=True)
class TailInput:
    """An open-loop schedule: event i is created at ``offset_s[i]`` seconds
    after the window opens, whatever the system under test is doing."""

    offset_s: np.ndarray  # sorted creation offsets
    event_type: np.ndarray
    foreign_id: np.ndarray


def tail_input(seed: int, size: Size, seconds: float) -> TailInput:
    """Poisson arrivals at ``size.tail_rate`` over ``seconds``."""
    rng = np.random.default_rng([seed, 1])
    gaps = rng.exponential(1.0 / size.tail_rate, int(size.tail_rate * seconds * 2) + 64)
    offsets = np.cumsum(gaps)
    offsets = offsets[offsets < seconds]
    n = len(offsets)
    return TailInput(
        offset_s=offsets,
        event_type=rng.integers(1, N_TYPES + 1, n).astype(np.int32),
        foreign_id=_foreign_ids(rng, n, size.tail_cardinality),
    )


def tail_frame(inp: TailInput, lo: int, hi: int, wall0: float) -> pd.DataFrame:
    """Events [lo, hi) of the schedule, stamped with their creation time
    (``wall0`` is the wall-clock second the window opened)."""
    ts = pd.to_datetime(wall0 + inp.offset_s[lo:hi], unit="s")
    return _frame(inp.event_type[lo:hi], inp.foreign_id[lo:hi], ts)


def backfill_frames(seed: int, size: Size) -> list[pd.DataFrame]:
    """One frame per append of the backfill log, in commit order."""
    rng = np.random.default_rng([seed, 2])
    n = size.backfill_appends * size.backfill_events
    ts = BACKFILL_EPOCH + pd.to_timedelta(np.cumsum(rng.integers(1, 2_000, n)), unit="ms")
    types = rng.integers(1, N_TYPES + 1, n).astype(np.int32)
    fids = _foreign_ids(rng, n, size.backfill_cardinality)
    k = size.backfill_events
    return [
        _frame(types[i : i + k], fids[i : i + k], ts[i : i + k]) for i in range(0, n, k)
    ]


def _frame(event_type, foreign_id, ts) -> pd.DataFrame:
    n = len(event_type)
    return pd.DataFrame(
        {
            "event_type": np.asarray(event_type, dtype=np.int32),
            "foreign_id": np.asarray(foreign_id, dtype=object),
            "timestamp": pd.DatetimeIndex(ts).astype("datetime64[us]"),
            "metadata": [None] * n,
            "trace": [None] * n,
        }
    )


def query_tables(seed: int, size: Size) -> dict[str, pd.DataFrame]:
    """The ``lineitem`` and ``events`` tables the query phase reads, shaped
    like the TPC-H-style fixtures the query layer is written against."""
    rng = np.random.default_rng([seed, 3])
    n = size.lineitem_rows
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(1, n // 4 + 2, n),
            "l_partkey": rng.integers(1, 2_000, n),
            "l_suppkey": rng.integers(1, 100, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            # whole cents and percent: sums over them are exact in the
            # decimal arithmetic both the query and its oracle use
            "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n).astype(object),
            "l_linestatus": rng.choice(["F", "O"], n).astype(object),
            "l_shipdate": (
                pd.Timestamp("1995-01-02") + pd.to_timedelta(rng.integers(0, 2_500, n), unit="D")
            ).astype("datetime64[us]"),
        }
    )
    m = size.event_rows
    # whole seconds: the sessionizer compares timestamps at second precision
    secs = np.sort(rng.integers(0, 30 * 86_400, m))
    events = pd.DataFrame(
        {
            "event_id": np.arange(m, dtype=np.int64),
            "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(secs, unit="s")).astype(
                "datetime64[us]"
            ),
            "user_id": np.minimum(rng.pareto(1.2, m) * size.users / 50, size.users - 1).astype(
                np.int64
            ),
            "event_type": rng.choice(EVENT_TYPES, m).astype(object),
            "value": rng.integers(0, 5_000, m) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
        }
    )
    return {"lineitem": lineitem, "events": events}


def query_order(seed: int, names) -> list[str]:
    """The seed sets the order the queries run in."""
    return [str(x) for x in np.random.default_rng([seed, 4]).permutation(list(names))]
