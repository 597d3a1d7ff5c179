"""Plan lint: sweep every driver query's physical plan for scale anti-shapes.

Guards the properties VERDICT r1/r2 graded: no cartesian products anywhere
(except the two oracle-flavored brute-force baselines that intentionally
broadcast-cross-join a <=25-row query set), and Python evaluation confined
to a bounded number of Arrow stages per query (a regression that re-inlines
a UDF subtree shows up as extra ArrowEvalPython/MapInPandas nodes).
"""

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"

# brute-force baselines: tiny broadcast side crossed on purpose;
# doc_top_terms crosses a 1-ROW broadcast (the corpus-count scalar) — the
# right plan for folding an aggregate constant in without a driver action
CROSS_OK = {"knn_planar", "cosine_topk", "doc_top_terms"}
# queries whose plan construction itself runs jobs (iterative/streaming) —
# linted too, just slower to build
MAX_PY_STAGES = {
    # signature computed once thanks to localCheckpoint; decode stages
    "image_decode_stats": 2,
    "audio_features": 1,
    "minhash_pairs": 1,
    "phash_near_dups": 0,
    "s2_encode": 1,
    # both PIP paths refine with a codegen predicate (the partitioned
    # cover's mapInPandas runs before, into a checkpoint) and knn_rings
    # runs JVM-side: no Python stage
    "pip_convex": 0,
    "pip_fixture_regions": 0,
    "pip_partitioned_fixture": 0,
    "knn_rings_fixture": 0,
}
DEFAULT_MAX_PY = 4  # any other query


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_query_plan_shapes(spark, name):
    df = E.queries()[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if name not in CROSS_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join"
    n_py = plan.count("ArrowEvalPython") + plan.count("MapInPandas") + plan.count(
        "FlatMapGroupsInPandas"
    )
    cap = MAX_PY_STAGES.get(name, DEFAULT_MAX_PY)
    assert n_py <= cap, f"{name}: {n_py} Python stages (cap {cap})"
    if name == "pip_convex":
        # no cell math is pushed into the parquet scan: a filter over the
        # cell columns would be re-evaluated per row in the scan's
        # DataFilters, outside codegen
        assert "Scan parquet" in plan, plan
        scan_line = next(l for l in plan.splitlines() if "Scan parquet" in l)
        assert "shiftrightunsigned" not in scan_line and "FLOOR" not in scan_line, scan_line
