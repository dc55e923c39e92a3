#!/usr/bin/env python
"""Run EVERY registry entry against its DuckDB oracle at an arbitrary
scale factor — the comparison tier-1 `test_oracle_parity` makes at sf0.01.

    python scripts/oracle_sweep.py [sf_dir] [name_filter...]

Defaults to /root/testdata/sf0.1 (the scale where tie/short-doc edge
cases actually surface; tier-1 parity runs sf0.01). Prints one line
per entry and a FAILURES summary; exit code 1 if anything failed.
Runs on local[$SPARK_GRAFT_CPUS], by default one core per CPU this
process may run on (the full registry at sf0.1 took ~9 min on 16 cores).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    name_filter = sys.argv[2:]

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from gomysql2pg_spark.catalog import TABLES
    from gomysql2pg_spark.functions.consume import force_count
    from oracle_utils import compare_query

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        # deliberately vanilla otherwise (results must not depend on
        # the tuned get_spark), but the UTC pin is part of the
        # ENGINE's cross-engine contract: without it, a non-UTC host
        # collects different datetimes than the naive-UTC DuckDB
        # oracle for every timestamp-bucketing entry (r15 review)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:  # ONE fixture list (catalog.TABLES), not a copy
        path = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{path}')"
            )
    qs, osql = entry.queries(), entry.oracle_sql()
    fails: list[str] = []
    for name in sorted(qs):
        if name_filter and not any(f in name for f in name_filter):
            continue
        try:
            if name not in osql:
                # force_count, not count(): pruning would delete the
                # output expressions, and execution is the ONLY sweep
                # coverage a rows-only entry gets (r15 review)
                n = force_count(qs[name](spark, sf))
                print(f"{name}: rows-only ({n} rows)")
                continue
            r = compare_query(qs[name](spark, sf), osql[name], con)
            ok = (
                r["count_match"]
                and r["schema_match"]
                and r["value_match"]
                and r["dtype_match"]
            )
            print(f"{name}: {'OK' if ok else 'FAIL ' + repr(r)}")
            if not ok:
                fails.append(name)
        except Exception as exc:  # keep sweeping past one bad entry
            print(f"{name}: ERROR {type(exc).__name__}: {exc}"[:300])
            fails.append(name)
    print(f"\nFAILURES ({len(fails)}):", fails or "none")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
