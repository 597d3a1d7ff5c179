"""Hypothesis property tests for the numpy kernels (no Spark session)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pgsql2osm_spark.functions import cells as C
from pgsql2osm_spark.functions import geometry as G
from pgsql2osm_spark.operators import spatial_join as SJ

lons = st.floats(min_value=-180.0, max_value=179.999999, allow_nan=False)
lats = st.floats(min_value=-89.999999, max_value=89.999999, allow_nan=False)
res_s = st.integers(min_value=1, max_value=20)


@settings(max_examples=200, deadline=None)
@given(lons, lats, res_s)
def test_cell_bounds_contain_their_point(lon, lat, res):
    cell = C.cell_encode(np.asarray([lon]), np.asarray([lat]), res)
    lon0, lat0, lon1, lat1 = C.cell_bounds(cell)
    assert lon0[0] - 1e-9 <= lon <= lon1[0] + 1e-9
    assert lat0[0] - 1e-9 <= lat <= lat1[0] + 1e-9
    assert C.cell_res(cell)[0] == res


@settings(max_examples=200, deadline=None)
@given(lons, lats, res_s)
def test_cell_parent_contains_child(lon, lat, res):
    cell = C.cell_encode(np.asarray([lon]), np.asarray([lat]), res)
    parent = C.cell_parent(cell, res - 1)
    pl0, pb0, pl1, pb1 = C.cell_bounds(parent)
    l0, b0, l1, b1 = C.cell_bounds(cell)
    assert pl0[0] <= l0[0] and pb0[0] <= b0[0]
    assert pl1[0] >= l1[0] and pb1[0] >= b1[0]
    # parent equals direct encode at res-1 (shift consistency)
    direct = C.cell_encode(np.asarray([lon]), np.asarray([lat]), res - 1)
    assert parent[0] == direct[0]


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(lons, lats), min_size=3, max_size=12))
def test_pack_unpack_rings_roundtrip(verts):
    ring = np.asarray(verts, dtype=np.float64)
    blob = G.pack_rings([ring, ring[::-1]])
    back = G.unpack_rings(blob)
    assert len(back) == 2
    assert np.array_equal(back[0], ring) and np.array_equal(back[1], ring[::-1])


@settings(max_examples=100, deadline=None)
@given(lons, lats, lons, lats)
def test_haversine_metric_properties(lon1, lat1, lon2, lat2):
    a = np.asarray([lon1]), np.asarray([lat1])
    b = np.asarray([lon2]), np.asarray([lat2])
    d_ab = G.haversine_m(a[0], a[1], b[0], b[1])[0]
    d_ba = G.haversine_m(b[0], b[1], a[0], a[1])[0]
    assert d_ab >= 0.0
    assert abs(d_ab - d_ba) <= 1e-6 * max(d_ab, 1.0)  # symmetry
    assert d_ab <= np.pi * G.EARTH_R_M + 1.0  # bounded by half circumference
    d_self = G.haversine_m(a[0], a[1], a[0], a[1])[0]
    assert d_self == 0.0


@settings(max_examples=100, deadline=None)
@given(lons, lats, st.integers(min_value=0, max_value=18))
def test_tile_indices_in_range(lon, lat, z):
    xt, yt = G.lonlat_to_tile(np.asarray([lon]), np.asarray([lat]), z)
    n = 1 << z
    assert 0 <= xt[0] < n and 0 <= yt[0] < n
    # roundtrip: the tile's lonlat box contains the point (lon only; lat is
    # mercator-clamped near the poles)
    lon_w, _ = G.tile_to_lonlat(xt, yt, z)
    lon_e, _ = G.tile_to_lonlat(xt + 1, yt, z)
    assert lon_w[0] - 1e-9 <= lon <= lon_e[0] + 1e-9


def _slot_kernel_inside(px, py, cover, rid):
    """spatial_join.refine_sql evaluated in numpy from ``rid``'s rows of the
    broadcast cover: each point looks up its cover cell (one per region; a
    point in no cover cell is outside), then parity + slot crossings."""
    rows = cover[cover["region_id"] == rid]
    index = {int(c): i for i, c in enumerate(rows["cell"])}
    row = np.full(px.size, -1)
    for res in rows["res"].unique():
        for i, c in enumerate(C.cell_encode(px, py, int(res))):
            row[i] = index.get(int(c), row[i])
    par = rows["_par"].to_numpy()[row]
    slots = rows[SJ.SLOT_COLS].to_numpy().reshape(len(rows), SJ.EDGE_SLOTS, 5)[row]
    x, y, y1, d, dx = np.moveaxis(slots, -1, 0)
    cond = (y > py[:, None]) != (y1 > py[:, None])
    hit = cond & (px[:, None] < x + (py[:, None] - y) / d * dx)
    return (row >= 0) & ((par + hit.sum(axis=1)) % 2 == 1)


@settings(max_examples=60, deadline=None)
@given(
    st.floats(min_value=-180.0, max_value=180.0),
    st.floats(min_value=-90.0, max_value=90.0),
    st.floats(min_value=0.01, max_value=40.0),
    st.integers(min_value=3, max_value=60),
    st.booleans(),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_cell_slot_kernel_matches_points_in_rings(cx, cy, scale, m, hole, seed):
    """The per-cell slot kernel equals G.points_in_rings on points inside
    boundary cells, on their edges and corners, and beyond +/-180 / +/-90
    where clipping puts them in a border cell. Random star polygons with
    lon wrapped into range (antimeridian crossings split) and lat clamped
    to the poles; small ones force cells to split past RES_HI."""
    rng = np.random.default_rng(seed)
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, m))
    rad = scale * rng.uniform(0.2, 1.0, m)
    rings = [np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)]
    if hole:
        rings.append(np.stack([cx + 0.3 * rad * np.cos(ang), cy + 0.3 * rad * np.sin(ang)], axis=1))
    for r in rings:
        r[:, 0] = (r[:, 0] + 180.0) % 360.0 - 180.0
        r[:, 1] = np.clip(r[:, 1], -90.0, 90.0)
    rings = G.normalize_rings(rings)
    cover = SJ.build_cover([{"region_id": 1, "rings": rings}])
    slots = cover[SJ.SLOT_COLS].to_numpy().reshape(len(cover), SJ.EDGE_SLOTS, 5)
    bnd = cover[(cover["_par"] == 0) | (slots[:, :, 3] != 1e-300).any(axis=1)]
    if bnd.empty:
        return
    cells = bnd["cell"].to_numpy()
    lon0, lat0, lon1, lat1 = C.cell_bounds(cells)
    k = cells.size
    u, v = rng.random(k), rng.random(k)
    px = [lon0 + u * (lon1 - lon0), lon0, lon1, lon0 + u * (lon1 - lon0), lon0]
    py = [lat0 + v * (lat1 - lat0), lat0 + v * (lat1 - lat0), lat1, lat0, lat0]
    # beyond the map: border cells take the clipped points
    gx, gy = C.cell_to_xy(cells)
    n = np.int64(1) << C.cell_res(cells)
    for sel, ox, oy in (
        (gx == 0, -1.0, 0.0), (gx == n - 1, 1.0, 0.0),
        (gy == 0, 0.0, -1.0), (gy == n - 1, 0.0, 1.0),
    ):
        far = 1.0 + 5.0 * rng.random(int(sel.sum()))
        px.append(np.where(ox < 0, -180.0 - far, np.where(ox > 0, 180.0 + far, px[0][sel])))
        py.append(np.where(oy < 0, -90.0 - far, np.where(oy > 0, 90.0 + far, py[0][sel])))
    px, py = np.concatenate(px), np.concatenate(py)
    got = _slot_kernel_inside(px, py, cover, 1)
    exp = G.points_in_rings(px, py, rings)
    bad = np.nonzero(got != exp)[0]
    assert bad.size == 0, list(zip(px[bad][:5], py[bad][:5]))
