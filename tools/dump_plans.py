"""Dump .explain("formatted") for every registry query to a directory.

Usage: python tools/dump_plans.py <out_dir> <suffix> [query ...]
Writes <out_dir>/<query>_<suffix>.txt for each query (suffix: before/after).
Runs on local[$SPARK_GRAFT_CPUS], all cores by default. Expression ids
(``#<n>``), ``plan_id=<n>``, RDD ids (``RDD[<n>]``) and lambda variable
suffixes (``lambda x_<n>``) are masked, as they count up per session, so two
dumps of the same code compare byte for byte, and a query whose plan did not
change compares equal when an earlier query's did.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def mask_ids(plan: str) -> str:
    """``plan`` with the per-session expression, plan, RDD and lambda
    variable ids replaced."""
    return re.sub(r"(#|plan_id=|RDD\[|lambda [a-z]+_)\d+", r"\1N", plan)


def main():
    out_dir, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    os.makedirs(out_dir, exist_ok=True)
    import __spark_entry__ as E
    from pgsql2osm_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    spark = get_spark(
        app="dump_plans", master=f"local[{cpus}]", shuffle_partitions=cpus * 2
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:
            plan = f"PLAN FAILED: {type(ex).__name__}: {ex}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(mask_ids(plan))
        print(name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
