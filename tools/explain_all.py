"""Dump the formatted physical plan of every registered query.

Usage: python tools/explain_all.py [sf_dir] [query ...]

Exits 2, before Spark starts, when a named query is not registered.

Audit checklist per plan (what to look for):
  * PushedFilters on parquet scans (predicates reached the source)
  * ReadSchema lists only needed columns (pruning reached the source)
  * BroadcastHashJoin for dimension joins (no accidental sort-merge)
  * partial_ aggregate functions before exchanges (map-side combine)
  * TakeOrderedAndProject for sort+limit (no global sort)
  * No back-to-back Exchange on the same keys (reused partitioning)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import __spark_entry__ as entrymod
    from training_etl_demo_2_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    queries = entrymod.queries()
    unknown = sorted(only - set(queries))
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    spark = get_spark(app_name="explain")
    for name, fn in queries.items():
        if only and name not in only:
            continue
        print(f"\n{'=' * 70}\n## {name}\n{'=' * 70}")
        try:
            df = fn(spark, sf_dir)
            print(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        except Exception as e:  # keep auditing the rest
            print(f"(failed: {e})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
