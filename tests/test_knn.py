"""kNN: ring expansion must equal brute force exactly (rank-for-rank)."""

import numpy as np
import pandas as pd

from pgsql2osm_spark.operators import knn as K
from pgsql2osm_spark.sources import fixtures as FX


def _points_df(spark, n):
    lon, lat = FX.gen_points_slice(0, n)
    return spark.createDataFrame(
        pd.DataFrame({"image_id": [f"img{i:012d}" for i in range(n)], "lon": lon, "lat": lat})
    )


def test_knn_rings_equals_bruteforce(spark):
    n = 3000
    pts = _points_df(spark, n)
    rng = np.random.default_rng(5)
    qlon = rng.uniform(-170, 170, 12)
    qlat = rng.uniform(-55, 65, 12)
    # include a metro center (dense) and a remote ocean point (sparse)
    qlon[0], qlat[0] = 8.54, 47.37
    qlon[1], qlat[1] = -140.0, -45.0
    queries = pd.DataFrame({"query_id": np.arange(12), "lon": qlon, "lat": qlat})
    k = 5
    bf = K.knn_bruteforce(pts, spark.createDataFrame(queries), k).toPandas()
    rings = K.knn_rings(spark, pts, queries, k).toPandas()
    bf_set = {(int(r.query_id), r.neighbor_id, int(r.rank)) for r in bf.itertuples()}
    ring_set = {(int(r.query_id), r.neighbor_id, int(r.rank)) for r in rings.itertuples()}
    assert bf_set == ring_set


def test_knn_bruteforce_against_numpy(spark):
    from pgsql2osm_spark.functions import geometry as G

    n = 800
    lon, lat = FX.gen_points_slice(0, n)
    pts = _points_df(spark, n)
    queries = pd.DataFrame({"query_id": [0, 1], "lon": [10.0, -70.0], "lat": [45.0, 40.0]})
    got = K.knn_bruteforce(pts, spark.createDataFrame(queries), 3).toPandas()
    for _, q in queries.iterrows():
        d = G.haversine_m(lon, lat, q["lon"], q["lat"])
        order = np.lexsort((np.array([f"img{i:012d}" for i in range(n)]), d))[:3]
        exp = [f"img{i:012d}" for i in order]
        mine = got[got["query_id"] == q["query_id"]].sort_values("rank")["neighbor_id"].tolist()
        assert mine == exp


def test_knn_rings_plan_has_no_cartesian_product(spark):
    """Scale guard (VERDICT r1 #3): the candidate join must be a broadcast
    equi-join on cell — no cross join is reachable from knn_rings, even for
    pathological queries (pole, empty region, k > total points)."""
    pts = _points_df(spark, 500)
    queries = pd.DataFrame({"query_id": [0, 1], "lon": [0.0, 5.0], "lat": [89.9, -89.9]})
    out = K.knn_rings(spark, pts, queries, 600)  # k > n: worst case, all cells
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # still exact in the degenerate case: every query sees all 500 points
    got = out.groupBy("query_id").count().collect()
    assert {r["count"] for r in got} == {500}


def test_knn_rings_polar_and_sparse(spark):
    """Ring-expansion stays exact where the lon-direction distance bound
    degenerates (high latitude) and in empty-ocean regions."""
    n = 2500
    pts = _points_df(spark, n)
    queries = pd.DataFrame(
        {
            "query_id": [0, 1, 2],
            "lon": [5.0, -140.0, 170.0],
            "lat": [82.0, -58.0, 71.5],  # near-polar, sparse, high-lat
        }
    )
    bf = K.knn_bruteforce(pts, spark.createDataFrame(queries), 4).toPandas()
    rings = K.knn_rings(spark, pts, queries, 4).toPandas()
    b = {(int(r.query_id), r.neighbor_id, int(r.rank)) for r in bf.itertuples()}
    g = {(int(r.query_id), r.neighbor_id, int(r.rank)) for r in rings.itertuples()}
    assert b == g


def test_knn_rings_two_level_probe_equals_bruteforce(spark):
    """res > COARSE_PROBE_RES takes the coarse-then-fine probe (VERDICT r3
    'wrong #3'): the bounded fine collect must not change results —
    rank-for-rank equal to brute force at res 11 and res 12."""
    n = 3000
    pts = _points_df(spark, n)
    rng = np.random.default_rng(9)
    qlon = rng.uniform(-170, 170, 8)
    qlat = rng.uniform(-55, 65, 8)
    qlon[0], qlat[0] = 8.54, 47.37     # dense metro
    qlon[1], qlat[1] = -140.0, -45.0   # sparse ocean
    queries = pd.DataFrame({"query_id": np.arange(8), "lon": qlon, "lat": qlat})
    k = 5
    bf = K.knn_bruteforce(pts, spark.createDataFrame(queries), k).toPandas()
    bf_set = {(int(r.query_id), r.neighbor_id, int(r.rank)) for r in bf.itertuples()}
    for res in (11, 12):
        rings = K.knn_rings(spark, pts, queries, k, res=res).toPandas()
        ring_set = {
            (int(r.query_id), r.neighbor_id, int(r.rank)) for r in rings.itertuples()
        }
        assert ring_set == bf_set, res


def test_knn_rings_fine_cap_guard(spark, monkeypatch):
    """The a-priori fine-collect bound raises instead of collecting
    unboundedly when MAX_FINE_CELLS is exceeded."""
    import pytest

    pts = _points_df(spark, 2000)
    queries = pd.DataFrame({"query_id": [0], "lon": [8.54], "lat": [47.37]})
    monkeypatch.setattr(K, "MAX_FINE_CELLS", 10)
    with pytest.raises(ValueError, match="MAX_FINE_CELLS"):
        K.knn_rings(spark, pts, queries, 5, res=13)
