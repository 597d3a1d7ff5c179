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
    lon, lat = FX.gen_points_slice(0, n)
    # seven tied neighbours: one lon/lat, ids out of sort order
    tie_ids = [f"tie{j}" for j in (6, 2, 4, 0, 5, 1, 3)]
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"img{i:012d}" for i in range(n)] + tie_ids,
                "lon": np.concatenate([lon, np.full(len(tie_ids), 30.05)]),
                "lat": np.concatenate([lat, np.full(len(tie_ids), 10.02)]),
            }
        )
    )
    rng = np.random.default_rng(5)
    qlon = rng.uniform(-170, 170, 13)
    qlat = rng.uniform(-55, 65, 13)
    # include a metro center (dense), a remote ocean point (sparse) and a
    # query next to the tied neighbours
    qlon[0], qlat[0] = 8.54, 47.37
    qlon[1], qlat[1] = -140.0, -45.0
    qlon[12], qlat[12] = 30.0, 10.0
    queries = pd.DataFrame({"query_id": np.arange(13), "lon": qlon, "lat": qlat})
    k = 5
    bf = K.knn_bruteforce(pts, spark.createDataFrame(queries), k).toPandas()
    rings = K.knn_rings(spark, pts, queries, k).toPandas()
    bf_set = {(int(r.query_id), r.neighbor_id, int(r.rank)) for r in bf.itertuples()}
    ring_set = {(int(r.query_id), r.neighbor_id, int(r.rank)) for r in rings.itertuples()}
    assert bf_set == ring_set
    # equal distances rank by neighbor id ascending
    tied = rings[rings["query_id"] == 12].sort_values("rank")
    assert tied["neighbor_id"].tolist() == sorted(tie_ids)[:k]
    assert tied["rank"].tolist() == list(range(1, k + 1))


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
