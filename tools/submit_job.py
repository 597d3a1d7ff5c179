"""spark-submit entry script — the north rule's deployment shape:

    ZIP=$(python -c 'from pgsql2osm_spark.session import make_pyfiles_zip; print(make_pyfiles_zip())')
    /opt/spark/bin/spark-submit --master local[16] \
        --py-files "$ZIP" \
        tools/submit_job.py --input pts.parquet --bbox=-20,30,30,55 --out out/

(the zip is named by a hash of the package's files:
``<tempdir>/pgsql2osm_spark_pyfiles-<hash>.zip``)

Identical dataflow to `python -m pgsql2osm_spark.cli`; this script exists so
the engine demonstrably runs under spark-submit with the package shipped via
--py-files: executors AND driver import pgsql2osm_spark from the shipped zip.
Note the import order — --py-files entries join sys.path only once the
SparkContext exists, so the session is created before the package import.
"""

import sys

from pyspark.sql import SparkSession

if __name__ == "__main__":
    spark = SparkSession.builder.getOrCreate()
    # Spark 4 ships --py-files to executors but no longer injects them into
    # the client-mode driver's sys.path — do it explicitly from the conf.
    for p in spark.conf.get("spark.submit.pyFiles", "").split(","):
        if p:
            sys.path.insert(0, p.removeprefix("file:"))
    from pgsql2osm_spark.cli import main

    sys.exit(main())
