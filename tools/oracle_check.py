"""Local clone of the driver's correctness gate (CLI over
`patientdataintegration_spark.verify`).

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet tables, then compares row count,
column names, and order-insensitive values (exact for
ints/strings/bools, exact-or-1e-12-relative for floats so we catch
accidental FP-order dependence before the driver's hash does).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from patientdataintegration_spark.session import build_session
    from patientdataintegration_spark.suite import QUERIES
    from patientdataintegration_spark.verify import duckdb_connection, verify_query

    spark = build_session("oracle-check")
    con = duckdb_connection(sf_dir)

    failures = 0
    for name in sorted(QUERIES):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            res = verify_query(spark, sf_dir, name, con=con)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: error: {e}")
            failures += 1
            continue
        dt = time.time() - t0
        if res["match"]:
            print(f"PASS {name} ({res['rows']} rows, {dt:.1f}s)")
        else:
            failures += 1
            print(f"FAIL {name} ({res['rows']} rows):")
            for p in res["problems"]:
                print(f"  {p}")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
