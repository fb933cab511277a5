#!/usr/bin/env python
"""Driver-contract sweep: run `__spark_entry__.queries()` entries and
hash-compare each against its `oracle_sql()` in DuckDB on the same
parquet, through `flu_data_pipeline_spark.oracle.compare` (the driver's
t2 compare: sorted column names, order-insensitive rows, floats rounded
to 6dp; the rules are in that module).

By default every query runs on a STOCK, driver-like SparkSession
(default confs: ANSI on, nanos parquet unreadable, non-UTC timezone), the
strongest local predictor of CORRECTNESS_r{N}.json: the round-1
postmortem showed engine-session-only testing hid 17/19 driver failures.
``--engine-session`` runs on ``get_spark()``'s session instead, the fast
loop for checking named queries at a bigger scale factor. Usage:

    python scripts/driver_sweep.py [sf_dir]          # default sf0.01
    python scripts/driver_sweep.py --only name1,name2
    python scripts/driver_sweep.py --engine-session --only name1,name2 <sf0.1 dir>

Prints one line per query and a final summary; exits 1 on any failure
and 2, before Spark starts, on a name ``--only`` does not know.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_session(engine: bool):
    if engine:
        from flu_data_pipeline_spark.session import get_spark

        return get_spark(app_name="driver-sweep")
    from pyspark.sql import SparkSession

    # A deliberately STOCK session: no engine confs. ensure_session_defaults
    # inside the builders must make every query work here.
    return (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("driver-sweep")
        .config("spark.sql.shuffle.partitions", "200")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--only", type=lambda s: s.split(","), help="name1,name2,...")
    ap.add_argument("--engine-session", action="store_true",
                    help="run on get_spark()'s session, not a stock one")
    args = ap.parse_args(argv)

    import duckdb

    import __spark_entry__ as entry
    from flu_data_pipeline_spark.oracle import compare, fetch, register_tables

    qs, oracles = entry.queries(), entry.oracle_sql()
    unknown = [n for n in args.only or () if n not in qs]
    if unknown:
        print(f"unknown registry queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    names = [n for n in qs if args.only is None or n in args.only]
    spark = build_session(args.engine_session)
    con = duckdb.connect()
    register_tables(con, args.sf_dir)

    failures = []
    t_all = time.time()
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf_dir)
            s_rows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                print(f"[{i+1}/{len(names)}] {name}: rows-only ({len(s_rows)} rows) "
                      f"{time.time()-t0:.1f}s")
                continue
            failure = compare(sdf.columns, s_rows, *fetch(con, oracles[name]))
            if failure:
                failures.append(name)
            status = f"MISMATCH {failure}" if failure else f"OK ({len(s_rows)} rows)"
            print(f"[{i+1}/{len(names)}] {name}: {status} {time.time()-t0:.1f}s")
        except Exception:
            failures.append(name)
            tb = traceback.format_exc().strip().splitlines()
            print(f"[{i+1}/{len(names)}] {name}: ERROR {tb[-1]}")
    print(f"\n{len(names) - len(failures)}/{len(names)} green in "
          f"{time.time()-t_all:.0f}s; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
