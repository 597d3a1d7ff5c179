"""Cell-index kernel unit + property tests (numpy / Spark-expr / SQL parity)."""

import duckdb
import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pgsql2osm_spark.functions import cells as C

rng = np.random.default_rng(7)


def test_morton_roundtrip():
    x = rng.integers(0, 1 << 26, 5000).astype(np.uint64)
    y = rng.integers(0, 1 << 26, 5000).astype(np.uint64)
    xd, yd = C.morton_decode(C.morton_encode(x, y))
    assert (xd.astype(np.uint64) == x).all() and (yd.astype(np.uint64) == y).all()


def test_parent_child_hierarchy():
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-90, 90, 2000)
    c11 = C.cell_encode(lon, lat, 11)
    assert (C.cell_parent(c11, 7) == C.cell_encode(lon, lat, 7)).all()
    for c in C.cell_encode(np.array([8.54]), np.array([47.37]), 9):
        kids = C.cell_children(int(c))
        assert (C.cell_parent(kids, 9) == c).all()


def test_cell_bounds_contain_point():
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-90, 90, 2000)
    c = C.cell_encode(lon, lat, 10)
    lon0, lat0, lon1, lat1 = C.cell_bounds(c)
    assert ((lon >= lon0) & (lon <= lon1) & (lat >= lat0) & (lat <= lat1)).all()


def test_grid_disk_ring():
    c = int(C.cell_encode(np.array([10.0]), np.array([50.0]), 9)[0])
    assert len(C.grid_disk(c, 0)) == 1
    assert len(C.grid_disk(c, 1)) == 9
    assert len(C.grid_disk(c, 2)) == 25
    # pole clamp: near the top row the disk truncates
    cp = int(C.cell_encode(np.array([0.0]), np.array([89.99]), 9)[0])
    assert len(C.grid_disk(cp, 1)) == 6


def test_lon_wrap_in_disk():
    c = int(C.cell_encode(np.array([-179.99]), np.array([0.0]), 9)[0])
    disk = C.grid_disk(c, 1)
    x, _ = C.cell_to_xy(disk)
    assert (x == (1 << 9) - 1).any() and (x == 0).any()  # wraps the antimeridian


@settings(max_examples=200, deadline=None)
@given(
    lon=st.floats(-180, 180, allow_nan=False),
    lat=st.floats(-90, 90, allow_nan=False),
    res=st.integers(0, 15),
)
def test_encode_always_valid(lon, lat, res):
    c = C.cell_encode(np.array([lon]), np.array([lat]), res)
    assert C.cell_res(c)[0] == res
    x, y = C.cell_to_xy(c)
    assert 0 <= x[0] < (1 << res) and 0 <= y[0] < (1 << res)


def test_sql_and_expr_parity_with_numpy(spark):
    """Same bits three ways: numpy kernel, Spark's with_cell_columns, DuckDB SQL."""
    n = 3000
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-90, 90, n)
    pdf = pd.DataFrame({"lon": lon, "lat": lat})
    for res in (5, 9, 11):
        want = C.cell_encode(lon, lat, res)
        got_sql = duckdb.sql(
            f"SELECT {C.cell_sql('lon', 'lat', res)} AS c FROM pdf"
        ).df()["c"].to_numpy()
        assert (got_sql == want).all(), f"duckdb mismatch at res {res}"
        df, _ = C.with_cell_columns(spark.createDataFrame(pdf), "lon", "lat", [res], ["c"])
        got_spark = np.array([r["c"] for r in df.select("c").collect()])
        assert (got_spark == want).all(), f"spark mismatch at res {res}"


def test_s2_face_coverage():
    lon = rng.uniform(-180, 180, 20000)
    lat = rng.uniform(-90, 90, 20000)
    s = C.s2_encode(lon, lat, 16)
    faces = np.unique(np.asarray(s).astype(np.uint64) >> np.uint64(60))
    assert set(faces.tolist()) == {0, 1, 2, 3, 4, 5}


def test_with_cell_columns_matches_numpy(spark):
    """The shared-spread multi-res path (bench + pip_join production path)
    is bit-identical to the per-res numpy kernel, poles/antimeridian incl."""
    n = 8000
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-90, 90, n)
    lon[:4] = [-180.0, 180.0, 0.0, 179.999999]
    lat[:4] = [-90.0, 90.0, 0.0, 89.999999]
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    out, names = C.with_cell_columns(df, "lon", "lat", [7, 9, 11, 26])
    got = out.toPandas()
    for r, nm in zip([7, 9, 11, 26], names):
        assert (got[nm].to_numpy() == C.cell_encode(lon, lat, r)).all(), f"res {r}"


def test_pandas_udf_wrappers_match_kernels(spark):
    """The S2 Arrow UDF returns the same values as the numpy kernel."""
    import pandas as pd

    from pgsql2osm_spark.functions import udfs

    n = 1500
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-85, 85, n)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    from pyspark.sql import functions as F

    out = df.select(udfs.make_s2_udf(16)(F.col("lon"), F.col("lat")).alias("s")).toPandas()
    assert (out["s"].to_numpy() == C.s2_encode(lon, lat, 16)).all()
