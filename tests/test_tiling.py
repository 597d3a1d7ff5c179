"""Raster<->vector tiling: decode stats, tile keys, region-tile joins."""

import numpy as np

from pgsql2osm_spark.functions import geometry as G
from pgsql2osm_spark.functions import imaging as I
from pgsql2osm_spark.operators import tiling as TL
from pgsql2osm_spark.sources import fixtures as FX


def test_image_tile_stats_golden(spark):
    n = 24
    images = FX.images_df(spark, n)
    got = {r["image_id"]: r for r in TL.image_tile_stats(images, 12).collect()}
    pdf = FX.gen_images_pandas(n, with_pixels=True)
    for _, row in pdf.iterrows():
        g = got[row["image_id"]]
        xt, yt = G.lonlat_to_tile(np.array([row["lon"]]), np.array([row["lat"]]), 12)
        assert (g["x"], g["y"]) == (xt[0], yt[0])
        dec = I.decode_image(row["bytes"], row["fmt"])
        assert g["px_count"] == dec.shape[0] * dec.shape[1]
        assert abs(g["mean_r"] - dec[..., 0].mean()) < 1e-9
        assert g["phash"] == row["phash"]


def test_tile_key_expr_matches_numpy(spark):
    n = 2000
    lon, lat = FX.gen_points_slice(0, n)
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"image_id": [str(i) for i in range(n)], "lon": lon, "lat": lat}))
    rows = TL.tile_key_expr(df, 7).orderBy("image_id").collect()
    by_id = {r["image_id"]: (r["x"], r["y"]) for r in rows}
    xt, yt = G.lonlat_to_tile(lon, lat, 7)
    for i in range(n):
        assert by_id[str(i)] == (xt[i], yt[i])


def test_raster_vector_join_assigns_only_region_tiles(spark):
    import pandas as pd

    regions = FX.gen_admin_polygons(8)
    n = 20000
    lon, lat = FX.gen_points_slice(0, n)
    pts = spark.createDataFrame(
        pd.DataFrame({"image_id": [str(i) for i in range(n)], "lon": lon, "lat": lat})
    )
    joined = TL.raster_vector_join(spark, pts, regions, z=7, decode=False)
    rows = joined.collect()
    assert len(rows) > 100  # non-vacuous at this scale
    vec = TL.region_tiles(regions, 7)
    vecset = {(int(r.region_id), int(r.x), int(r.y)) for r in vec.itertuples()}
    for r in rows:
        assert (r["region_id"], r["x"], r["y"]) in vecset
    # every point whose tile is a region tile must appear exactly once per region-tile
    xt, yt = G.lonlat_to_tile(lon, lat, 7)
    exp = sum(
        1
        for i in range(n)
        for reg in {rid for rid, _, _ in vecset}
        if (reg, int(xt[i]), int(yt[i])) in vecset
    )
    assert len(rows) == exp


def test_frame_sample_fakevideo_and_stub(spark):
    import numpy as np
    import pandas as pd
    import pytest

    rng = np.random.default_rng(9)
    frames = [rng.integers(0, 256, (8, 8, 3)).astype(np.uint8) for _ in range(25)]
    payload = TL.pack_fakevideo(frames)
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": ["vid0"], "bytes": [payload], "fmt": ["fakevideo"]})
    )
    out = TL.frame_sample(media, every_n=10).collect()
    assert [(r["media_id"], r["frame_idx"]) for r in out] == [("vid0", 0), ("vid0", 10), ("vid0", 20)]
    # sampled frames decode back bit-exactly
    assert (I.png_decode(bytes(out[1]["frame"])) == frames[10]).all()
    # real-codec stub seam raises cleanly
    bad = spark.createDataFrame(
        pd.DataFrame({"media_id": ["v1"], "bytes": [b"xx"], "fmt": ["mp4"]})
    )
    with pytest.raises(Exception, match="NotImplementedError|fakevideo"):
        TL.frame_sample(bad).collect()


def test_region_tiles_covers_all_interior_tiles(spark):
    """Every tile whose center lies inside the region appears in
    region_tiles — cover cells coarser than tiles must fan out to the full
    tile range, not just the tile under the cell center."""
    ring = np.array([[0.0, 0.0], [12.0, 0.0], [12.0, 10.0], [0.0, 10.0]])
    region = [{"region_id": 1, "rings": [ring]}]
    z = 9  # tile ~0.7 deg, adaptive cover res likely coarser per cell
    vec = TL.region_tiles(region, z)
    vecset = {(int(r.x), int(r.y)) for r in vec.itertuples()}
    # probe a dense grid of interior points
    gx, gy = np.meshgrid(np.linspace(0.2, 11.8, 60), np.linspace(0.2, 9.8, 50))
    xt, yt = G.lonlat_to_tile(gx.ravel(), gy.ravel(), z)
    missing = {(int(a), int(b)) for a, b in zip(xt, yt)} - vecset
    assert not missing, f"missing {len(missing)} tiles e.g. {list(missing)[:4]}"
