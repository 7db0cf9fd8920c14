"""Registry structural integrity: the decorator-insertion hazard
(round 7) made permanent — inserting a new @query block between an
existing decorator and its def silently re-binds the old decorator.
This test walks every query module with ast and pins: each @query
decorator sits directly on a function with EXACTLY one decorator, the
decorator's literal name is unique, and every name found in source is
actually registered (and vice versa)."""

from __future__ import annotations

import pytest

import ast
from pathlib import Path

from reflex_spark.queries import all_oracle_sql, all_queries

QUERY_DIR = Path(__file__).resolve().parent.parent / "reflex_spark" / "queries"


def _source_query_names() -> dict[str, int]:
    names: dict[str, int] = {}
    for path in sorted(QUERY_DIR.glob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if not isinstance(node, ast.FunctionDef):
                continue
            q_decos = [
                d
                for d in node.decorator_list
                if isinstance(d, ast.Call)
                and isinstance(d.func, ast.Name)
                and d.func.id == "query"
            ]
            if not q_decos:
                continue
            assert len(node.decorator_list) == 1, (
                f"{path.name}:{node.lineno} {node.name} has "
                f"{len(node.decorator_list)} decorators — the insertion "
                "hazard: a @query block was likely inserted between "
                "another decorator and its def"
            )
            arg = q_decos[0].args[0]
            assert isinstance(arg, ast.Constant) and isinstance(arg.value, str), (
                f"{path.name}:{node.lineno} query name must be a string literal"
            )
            names[arg.value] = names.get(arg.value, 0) + 1
        # call-style registration: name = query("...", oracle=...)(fn)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Call)
                and isinstance(node.func.func, ast.Name)
                and node.func.func.id == "query"
                and node.func.args
                and isinstance(node.func.args[0], ast.Constant)
            ):
                nm = node.func.args[0].value
                names[nm] = names.get(nm, 0) + 1
    return names


def test_every_source_decorator_registers_exactly_once():
    src = _source_query_names()
    dupes = {n: c for n, c in src.items() if c > 1}
    assert not dupes, f"duplicate @query names in source: {dupes}"
    registered = set(all_queries())
    assert set(src) == registered, (
        f"source/registry drift: only-in-source={set(src) - registered}, "
        f"only-registered={registered - set(src)}"
    )


def test_oracle_names_are_registered_queries():
    assert set(all_oracle_sql()) <= set(all_queries())


def test_driver_window_is_rotated_and_green_capable():
    """The driver judges exactly the first 50 names in all_queries()
    order.  Pin the round-11 rotation contract: the window list is 50
    unique registered names, every one oracle-checkable (no no_oracle
    name may burn a driver slot), and all_queries() actually emits them
    first and in window order."""
    from reflex_spark.queries import _WINDOW

    assert len(_WINDOW) == 50
    assert len(set(_WINDOW)) == 50
    q = list(all_queries())
    oracle = set(all_oracle_sql())
    assert q[:50] == _WINDOW
    missing_oracle = [n for n in _WINDOW if n not in oracle]
    assert not missing_oracle, (
        f"window names without an oracle (would record no_oracle in the "
        f"driver slot): {missing_oracle}"
    )
    # rotation invariant: the tail preserves registration order
    assert len(q) == len(set(q))


@pytest.mark.slow  # ~80 s probe; default run excluded (r17 verify budget), runs under -m slow
def test_every_oracle_parses_and_plans_in_duckdb():
    """Slow gate (about 80 s on 4 cores, most of it DuckDB's optimizer on
    a few large unrolled oracles; still far cheaper than the 30-minute
    two-SF value sweep): every registered oracle must PARSE and PLAN,
    optimizer on, in DuckDB against the sf0.001 views. Round 10 shipped a
    query whose oracle had never been executed locally. The default run
    catches that with the parse-and-bind gate below
    (``test_every_oracle_parses_and_binds_in_duckdb``, optimizer off,
    about 12 s); this test adds optimizer-stage failures and runs only
    under ``-m slow``."""
    bad = _unplannable_oracles(optimize=True)
    assert not bad, f"oracles that fail to plan in DuckDB: {bad}"


def test_every_oracle_parses_and_binds_in_duckdb():
    """The default-run share of the gate above (about 12 s on 4 cores
    instead of about 80 s): every oracle must parse, bind against the
    sf0.001 views and get a logical plan with DuckDB's optimizer switched
    off — the optimizer is where the few large unrolled oracles spend
    their planning time. Catches the syntax and view-mismatch errors of
    an oracle that never ran; optimizer-stage failures stay with the
    slow gate."""
    bad = _unplannable_oracles(optimize=False)
    assert not bad, f"oracles that fail to bind in DuckDB: {bad}"


def _unplannable_oracles(optimize: bool) -> dict[str, str]:
    """name → first error line of every oracle DuckDB cannot EXPLAIN."""
    import duckdb

    from reflex_spark.tables import TABLES, table_path

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    if not optimize:
        con.sql("PRAGMA disable_optimizer")
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
        )
    bad: dict[str, str] = {}
    for name, sql in all_oracle_sql().items():
        try:
            con.sql(f"EXPLAIN {sql}").fetchall()
        except Exception as e:  # noqa: BLE001 — collect all failures
            bad[name] = str(e).splitlines()[0]
    return bad


def test_duckdb_list_reduce_struct_accumulator_is_unsafe():
    """Harness self-test pinning the engine bug that produced round 10's
    only wrong answer: DuckDB 1.x evaluates struct-accumulator fields of
    list_reduce IN PLACE, so a coupled recurrence reads the already-
    updated first field when computing the second.  Minimal repro: over
    four zero elements, a correct fold of {a: acc.a+1, b: acc.b+acc.a}
    gives b=3; the struct accumulator gives b=5.  The LIST accumulator
    folds correctly — which is why every oracle with multi-field fold
    state MUST use a LIST accumulator (see events_holt_trend_forecast).
    If a DuckDB upgrade fixes the struct path, this test fails loudly and
    the comment trail can be retired."""
    import duckdb

    con = duckdb.connect()
    struct_b = con.sql(
        "SELECT list_reduce(list_transform([0, 0, 0, 0],"
        " x -> {'a': 0, 'b': 0}),"
        " (acc, x) -> {'a': acc.a + 1, 'b': acc.b + acc.a}).b"
    ).fetchone()[0]
    list_b = con.sql(
        "SELECT list_reduce(list_transform([0, 0, 0, 0], x -> [0, 0]),"
        " (acc, x) -> [acc[1] + 1, acc[2] + acc[1]])[2]"
    ).fetchone()[0]
    assert list_b == 3, f"LIST accumulator fold broke: {list_b}"
    assert struct_b == 5, (
        f"DuckDB struct-accumulator behavior changed (b={struct_b}); "
        "if it now folds correctly (b=3), the engine bug is fixed — "
        "update this pin and the oracle-authoring guidance"
    )


def test_no_new_unpartitioned_windows_in_queries():
    """Registry-wide plan gate (VERDICT r12 #5): an unpartitioned
    ``Window.orderBy`` funnels the whole frame through ONE task — the
    100 TB failure mode ``operators/scan.bucketed_prefix_sum`` exists to
    avoid. Every EXISTING site below runs over a bounded
    post-aggregation series (hour/day/bin rollups or fixture-sized
    control frames — each audited and documented in SCALE_NOTES); any
    NEW running aggregate must use the two-phase bucketed operator from
    day one, or consciously add itself here with the same bounded-series
    justification. The gate parses source, so it covers every registered
    query without executing the operational rollups.

    Exactness both ways: a new site fails the gate (use
    bucketed_prefix_sum or justify), and a removed site must leave the
    allowlist (no dead entries masking future additions)."""
    import ast
    import glob
    import os

    qdir = os.path.join(
        os.path.dirname(__file__), "..", "reflex_spark", "queries"
    )
    found: set[tuple[str, str]] = set()
    for path in sorted(glob.glob(os.path.join(qdir, "*.py"))):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        fname = os.path.basename(path)
        # names bound to pyspark's Window in this module (any alias)
        aliases = {
            (a.asname or a.name)
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            and node.module in ("pyspark.sql", "pyspark.sql.window")
            for a in node.names
            if a.name == "Window"
        }
        funcs = [
            (n.lineno, n.end_lineno or n.lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]

        def enclosing(ln: int) -> str:
            best = None
            for lo, hi, name in funcs:
                if lo <= ln <= hi and (best is None or lo > best[0]):
                    best = (lo, name)
            return best[1] if best else "<module>"

        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "orderBy"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id in aliases
            ):
                found.add((fname, enclosing(node.lineno)))

    allowed = {
        # hourly/daily/bin post-aggregation series (bounded by calendar)
        ("events.py", "events_max_concurrent"),
        ("events.py", "events_value_histogram_quantiles"),
        ("events.py", "events_cusum_changepoint"),
        ("events.py", "events_ks_two_sample"),
        ("relational_ext.py", "ntile_percent_rank_orders"),
        ("relational_ext.py", "prefix_scan_running_revenue"),  # the
        # single-partition BIT-EQUALITY TWIN judged against the bucketed
        # operator inside the same query — it exists to be compared away
        ("relational_tpch.py", "monthly_revenue_trend"),
        # bounded-sample / control-plane frames (ntile over a capped
        # sample; reservoir over k<<n winners; per-batch fixture splits)
        ("events.py", "events_sample_bottomk_quantiles"),
        ("pipeline.py", "sample_weighted_reservoir"),
        ("streaming_judged.py", "stream_watermark_rollup"),
        ("streaming_judged.py", "stream_stateful_sessions"),
        ("streaming_judged.py", "stream_gapfill_recovery_rollup"),
    }
    new = found - allowed
    assert not new, (
        f"NEW unpartitioned Window.orderBy site(s) {sorted(new)}: a global "
        "running aggregate must use operators/scan.bucketed_prefix_sum "
        "(range-bucketed partials + broadcast offsets) — or, if the frame "
        "is provably bounded post-aggregation, add the site here with a "
        "justification comment"
    )
    stale = allowed - found
    assert not stale, f"stale allowlist entries (site removed): {sorted(stale)}"
