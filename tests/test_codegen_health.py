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
pts = FX.points_jvm_df(spark, 1_000_000, parts=4)
pts, names = C.with_cell_columns(pts, "lon", "lat", (7, 8, 9, 10, 11))
out = SJ.pip_join(
    spark, pts, FX.gen_admin_polygons(12),
    keep_cols=["image_id", "lon", "lat", "h3_7"],
    cell_cols=dict(zip((7, 8, 9, 10, 11), names)),
    coarse_prefilter={coarse_prefilter},
)
x, y = G.tile_expr(F.col("lon"), F.col("lat"), 12)
n = out.withColumn("tx", x).withColumn("ty", y).groupBy(
    "region_id", "tx", "ty"
).agg(F.count(F.lit(1)).alias("n")).count()
assert n > 0
spark.stop()
print("ROWS_OK", n)
"""


def _assert_canary_compiles(coarse_prefilter: bool) -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _CANARY.format(repo=repo, coarse_prefilter=coarse_prefilter)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ROWS_OK" in proc.stdout
    assert "Failed to compile" not in proc.stderr, (
        f"headline stage (coarse_prefilter={coarse_prefilter}) fell back to "
        "interpreted execution:\n" + proc.stderr[-2000:]
    )


def test_headline_composition_compiles_whole_stage():
    """The headline composition as the benchmark runs it (prefilter off)."""
    _assert_canary_compiles(coarse_prefilter=False)


def test_prefilter_on_generator_source_compiles_with_gated_shape():
    """r5 update of the r4 canary: the r4 `.where(isin)` prefilter pushed
    the generator stage past janino's 64KB limit; the r5 when-gated
    explode_outer shape COMPILES on the same source (verified here — this
    test now asserts NO compile failure). The headline still ships with
    coarse_prefilter OFF: 1e9-row measurements (BENCH/PLANS.md r5) show
    8-core parity (16.4-19.5s vs 18.6s) but an UNSTABLE 32-core leg
    (11.7/21.9/29.2s vs 8.4s plain) — suspected boxed-InSet alloc/GC
    pressure amplified at 32 threads. Revisit if InSet codegen learns
    primitive long sets."""
    _assert_canary_compiles(coarse_prefilter=True)


_SCAN_PREFILTER = r"""
import sys
sys.path.insert(0, {repo!r})
import numpy as np
import __spark_entry__ as E
from pgsql2osm_spark.operators import spatial_join as SJ
from pgsql2osm_spark.session import get_spark

spark = get_spark(
    app="codegen_scan_prefilter", master="local[4]", shuffle_partitions=8,
    extra_conf={{"spark.ui.showConsoleProgress": "false"}},
)
spark.sparkContext.setLogLevel("ERROR")
# pip_convex: the registry query whose source is a REAL parquet scan, with
# coarse_prefilter=True live in the plan (not folded)
rows = sorted(r["id"] for r in
              E.queries()["pip_convex"](spark, "/root/testdata/sf0.001").collect())
# same join, prefilter OFF, directly on the same scan
p = E._points(spark, "/root/testdata/sf0.001")
region = [{{"region_id": 1, "rings": [np.asarray(E._HEX, dtype=np.float64)]}}]
base = SJ.pip_join(spark, p, region, keep_cols=["id"], coarse_prefilter=False)
rows_base = sorted(r["id"] for r in base.collect())
assert rows == rows_base and len(rows) > 0, (rows[:3], rows_base[:3])
plan = E.queries()["pip_convex"](spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
scan_line = next(l for l in plan.splitlines() if "Scan parquet" in l)
if "shiftrightunsigned" not in scan_line and "FLOOR" not in scan_line:
    print("SCAN_CLEAN")
spark.stop()
print("ROWS_OK", len(rows))
"""


def test_scan_shaped_prefilter_output_and_scan_stay_clean():
    """VERDICT r4 #4 positive half, r5-refined after measurement: on a
    SCAN-shaped source the WHEN-GATED coarse prefilter must (a) produce
    identical output to the prefilter-off join, and (b) keep the
    morton-spread OUT of the scan's pushed DataFilters — the r5 finding is
    that the naive `.where(isin)` form predicate-pushes the whole spread
    subtree INTO the scan, re-evaluated per row outside codegen (measured
    17x slower at 20M scan rows), while the when-gated explode leaves
    nothing to push. The gated stage may drop from FUSED whole-stage
    codegen to volcano-with-compiled-expressions (janino 64KB, a ~1.2x
    effect measured by the r5 scan-shaped probe) — that tradeoff is
    accepted and documented in BENCH/PLANS.md r5, so 'Failed to compile'
    is NOT asserted against here."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _SCAN_PREFILTER.format(repo=repo)],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ROWS_OK" in proc.stdout
    assert "SCAN_CLEAN" in proc.stdout, proc.stdout[-1000:]
