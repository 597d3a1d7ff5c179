"""Whole-stage-codegen health of the headline pipeline.

The headline stage (generator + morton encode + explode + broadcast join +
agg) sits AT janino's 64KB processNext() limit: r4 measured that adding a
single predicate pushes it into `ERROR CodeGenerator: Failed to compile`
-> SILENT interpreted fallback, 1.5-10x slower with no exception
(BENCH/PLANS.md r4). This guard runs the pipeline in a subprocess and
fails if that ERROR ever appears, so an innocent-looking expression added
to the hot path cannot silently de-optimize the benchmark again."""

import os
import subprocess
import sys

_CANARY = r"""
import sys
sys.path.insert(0, {repo!r})
sys.path.insert(0, {repo!r} + "/perfbench")
import inputs
from pyspark.sql import functions as F
from pgsql2osm_spark.session import get_spark
from pgsql2osm_spark.functions import cells as C
from pgsql2osm_spark.functions import geometry as G
from pgsql2osm_spark.operators import spatial_join as SJ
from pgsql2osm_spark.sources import fixtures as FX

spark = get_spark(
    app="codegen_canary", master="local[4]", shuffle_partitions=8,
    extra_conf={{"spark.ui.showConsoleProgress": "false"}},
)
spark.sparkContext.setLogLevel("ERROR")
pts = inputs.points_jvm(spark, 1_000_000, 1, 4)
pts, names = C.with_cell_columns(pts, "lon", "lat", (7, 8, 9, 10, 11))
out = SJ.pip_join(
    spark, pts, FX.gen_admin_polygons(12),
    keep_cols=["image_id", "lon", "lat", "h3_7"],
    cell_cols=dict(zip((7, 8, 9, 10, 11), names)),
)
x, y = G.tile_expr(F.col("lon"), F.col("lat"), 12)
n = out.withColumn("tx", x).withColumn("ty", y).groupBy(
    "region_id", "tx", "ty"
).agg(F.count(F.lit(1)).alias("n")).count()
assert n > 0
spark.stop()
print("ROWS_OK", n)
"""


def test_headline_composition_compiles_whole_stage():
    """The headline composition as the benchmark runs it, on the
    benchmark's own JVM point generator (perfbench/inputs.points_jvm)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _CANARY.format(repo=repo)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ROWS_OK" in proc.stdout
    assert "Failed to compile" not in proc.stderr, (
        "headline stage fell back to interpreted execution:\n" + proc.stderr[-2000:]
    )
