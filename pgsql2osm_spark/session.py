"""SparkSession factory with the engine's scale-oriented defaults.

Local mode stands in for the target multi-executor cluster: every conf here is
one we would also set on a 1000-executor deployment (AQE on, skew-join on,
Arrow batches bounded so image-decode stages can't blow executor memory —
SURVEY.md X1/X9/X10).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def make_pyfiles_zip(dest: str | None = None) -> str:
    """Zip this package for spark-submit --py-files / addPyFile shipment —
    the deployment unit the north rule's multi-executor run uses.

    No-ops (returns the existing zip) when the package was itself imported
    FROM a zip: os.walk can't see into zipimport paths, and overwriting the
    shipped zip with an empty one would break every later import."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    dest = dest or os.path.join(tempfile.gettempdir(), "pgsql2osm_spark_pyfiles.zip")
    if not os.path.isdir(pkg_dir):  # zipimported — pkg_dir is inside a zip
        if os.path.exists(dest):
            return dest
        raise RuntimeError("package imported from a zip and no prebuilt pyfiles zip found")
    entries = []
    for dirpath, _, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                entries.append((full, os.path.relpath(full, root)))
    if not entries:
        raise RuntimeError(f"no .py files under {pkg_dir}")
    tmp = dest + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for full, rel in entries:
            zf.write(full, rel)
    os.replace(tmp, dest)  # atomic — readers never see a partial zip
    return dest


def get_spark(
    app: str = "pgsql2osm_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
    n_shuffle = shuffle_partitions or (64 if cores == "*" else max(int(cores) * 2, 8))
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting — the Spark
        # heir of the reference's adaptive chunk sizing (pgsql2osm.py:26-136).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # Arrow everywhere; bound decode-stage batch memory (SURVEY.md X9).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Pin UTC so DuckDB oracle comparisons are TZ-stable.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # Ship the package to python workers regardless of the driver's cwd —
    # the local-mode equivalent of spark-submit --py-files (north rule).
    # Re-adding the same zip in a reused session does not raise.
    spark.sparkContext.addPyFile(make_pyfiles_zip())
    return spark
