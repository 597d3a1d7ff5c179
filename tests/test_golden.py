"""Engine outputs vs COMMITTED golden parquet (generated by the independent
numpy oracles in tools/make_golden.py — catches engine/kernel drift)."""

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pgsql2osm_spark.functions import geometry as G
from pgsql2osm_spark.operators import knn as K
from pgsql2osm_spark.operators import spatial_join as SJ
from pgsql2osm_spark.sources import fixtures as FX

GOLDEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "golden")
N = 4000


def _pts(spark):
    lon, lat = FX.gen_points_slice(0, N)
    return spark.createDataFrame(
        pd.DataFrame({"idx": np.arange(N), "lon": lon, "lat": lat})
    ), lon, lat


def test_join_rows_golden(spark):
    pts, _, _ = _pts(spark)
    got = SJ.pip_join(spark, pts, FX.gen_admin_polygons(12), keep_cols=["idx"])
    got_set = {(r["idx"], r["region_id"]) for r in got.collect()}
    gold = pd.read_parquet(f"{GOLDEN}/join_rows.parquet")
    assert got_set == {(r.idx, r.region_id) for r in gold.itertuples()}


def test_tile_assign_golden(spark):
    pts, _, _ = _pts(spark)
    gold = pd.read_parquet(f"{GOLDEN}/tile_assign.parquet")
    for z in (7, 12):
        x, y = G.tile_expr(F.col("lon"), F.col("lat"), z)
        got = {r["idx"]: (r["x"], r["y"]) for r in pts.select("idx", x.alias("x"), y.alias("y")).collect()}
        gz = gold[gold["z"] == z]
        assert got == {r.idx: (r.x, r.y) for r in gz.itertuples()}


def test_knn_golden(spark):
    pts, _, _ = _pts(spark)
    rng = np.random.default_rng(5)
    queries = pd.DataFrame(
        {"query_id": np.arange(12), "lon": rng.uniform(-170, 170, 12), "lat": rng.uniform(-55, 65, 12)}
    )
    got = K.knn_rings(
        spark, pts.withColumnRenamed("idx", "image_id"), queries, 5, point_id="image_id"
    ).toPandas()
    gold = pd.read_parquet(f"{GOLDEN}/knn.parquet")
    g = {(r.query_id, r.rank): r.neighbor_id for r in got.itertuples()}
    e = {(r.query_id, r.rank): r.neighbor_id for r in gold.itertuples()}
    assert g == e


def test_oracle_golden_files_exist_and_load():
    """Every golden-parquet-backed oracle must ship its file (a changed
    engine-only query without `make_golden --oracle` regeneration should
    fail HERE, not at the driver's gate)."""
    import pandas as pd

    import __spark_entry__ as E

    for name, sql in E.oracle_sql().items():
        if "golden/oracle/" not in sql:
            continue
        path = sql.split("FROM '")[1].rstrip("'")
        assert os.path.exists(path), f"{name}: missing golden {path}"
        pdf = pd.read_parquet(path)
        assert len(pdf) > 0, f"{name}: empty golden"
