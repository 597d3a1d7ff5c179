"""One-command round gate: pytest suite + DuckDB oracle parity + entry smoke.

Usage: python tools/verify_all.py    (exits nonzero on any failure)
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    rc = subprocess.call([sys.executable, "-m", "pytest", "tests/", "-q"], cwd=ROOT)
    if rc:
        return rc
    rc = subprocess.call(
        [sys.executable, "tools/oracle_check.py", "/root/testdata/sf0.01"], cwd=ROOT
    )
    if rc:
        return rc
    sys.path.insert(0, ROOT)
    from pgsql2osm_spark.session import get_spark

    import __spark_entry__ as E

    master = f"local[{os.cpu_count() or 1}]"
    spark = get_spark(app="verify_all_smoke", master=master, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    df = E.entry(spark)
    n = df.count()
    print(f"entry smoke: {n} rows, schema {df.schema.simpleString()}")
    spark.stop()
    if n > 0:
        return 0
    print(f"entry smoke FAILED: entry() returned {n} rows", file=sys.stderr)
    return 1


if __name__ == "__main__":
    sys.exit(main())
