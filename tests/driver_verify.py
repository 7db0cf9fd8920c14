"""Driver-surface verification CLI (the /verify recipe, scripted).

Mimics the external driver exactly: a PLAIN SparkSession (no engine
configs), import ``__spark_entry__`` from its file path, run
``queries()[name](spark, sf_dir)`` and compare bit-exactly against
``oracle_sql()[name]`` executed in DuckDB over the same parquet tables.

Usage::

    python tests/driver_verify.py [--sf /root/testdata/sf0.01] name [name ...]
    python tests/driver_verify.py --window          # the judged 50
    python tests/driver_verify.py --entry           # smoke entry(spark)

Exit code 0 iff every requested check passes. It runs from any working
directory: the repository root is this script's parent directory, and it
goes on ``PYTHONPATH`` before the session starts, so the Python workers
Spark forks (foreachBatch handlers, UDFs) import ``reflex_spark`` too.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--window", action="store_true", help="verify all_queries()[:50]")
    ap.add_argument("--entry", action="store_true", help="also smoke entry(spark)")
    args = ap.parse_args()

    # before the session starts: its JVM, and the workers it forks,
    # inherit this environment
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    sys.path.insert(0, ROOT)
    from tests.oracle_harness import compare, run_oracle

    failures: list[str] = []

    if args.entry:
        n = mod.entry(spark).count()
        print(f"entry rows: {n}")
        if n < 0:
            failures.append("entry")

    queries = mod.queries()
    oracles = mod.oracle_sql()
    names = list(queries)[:50] if args.window else args.names
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf)
            if name in oracles:
                odf = run_oracle(oracles[name], args.sf)
                errs = compare(sdf, odf, name)
            else:
                errs = [] if sdf.count() >= 0 else [f"{name}: negative rows?"]
            dt = time.time() - t0
            if errs:
                failures.append(name)
                print(f"FAIL {name} ({dt:.1f}s): {errs}")
            else:
                print(f"ok   {name} ({dt:.1f}s)")
        except Exception as e:  # noqa: BLE001 — report and continue
            failures.append(name)
            print(f"ERR  {name}: {type(e).__name__}: {e}")
    print(f"--- {len(names) - len(failures)}/{len(names)} green; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
