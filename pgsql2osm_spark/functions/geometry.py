"""Vectorized planar/spherical geometry kernels (numpy, no per-row Python).

Replaces the PostGIS functions the reference leans on (SURVEY.md F1:
ST_Intersects / ST_Transform / ST_MakeEnvelope / ST_X / ST_Y at
/root/reference/pgsql2osm/settings.py:104-139, pgsql2osm.py:768-769) with
from-scratch implementations:

* ``points_in_polygon`` — crossing-number (even-odd) test, vectorized over
  points x edges; holes via even-odd over all rings.
* ``winding_number_inside`` — an independent second algorithm, used only by
  property tests as the in-repo oracle (no shapely in this container).
* ``haversine_m`` — great-circle distance for exact kNN refinement.
* ``lonlat_to_tile`` — slippy-map z/x/y web-mercator tile math (the
  ST_Transform(3857<->4326) analogue, SURVEY.md P2), plus the inverse.
* ``polygon_cover`` — cover a polygon with grid cells at a resolution,
  classifying each cell interior vs boundary: interior-cell candidates skip
  the exact PIP refine entirely — the engine's version of the reference's
  "AND of ST_Intersects beats ST_Intersection, cost 1000x lower" staging
  (settings.py:132-140, SURVEY.md X2).

Geometry conventions (matching the reference's planar lon/lat model):
all polygon math is planar over (lon, lat) degrees. Rings that cross the
antimeridian (consecutive lon jump > 180) are split automatically by
``normalize_rings`` (Sutherland-Hodgman clip against the +/-180 planes) —
both join paths normalize on entry. Points exactly ON a ring edge are
measure-zero and may land on either side (same as ST_Intersects edge
behavior differences between engines).
"""

from __future__ import annotations

import numpy as np

from . import cells as C

EARTH_R_M = 6_371_008.8


# ---------------------------------------------------------------------------
# Point in polygon.
# ---------------------------------------------------------------------------


def _crossings(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Count of ray crossings (even-odd) for each point against one ring.

    px, py: (N,) point coords. ring: (M, 2) closed or open ring vertices.
    Vectorized as (N, M) edge tests. Memory is N*M*8 bytes per temp — callers
    batch points (Arrow batches bound N; rings are small broadcast data).
    """
    x0, y0 = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    px = px[:, None]
    py = py[:, None]
    cond = (y0[None, :] > py) != (y1[None, :] > py)
    # x coordinate of edge at scanline py (safe: cond guarantees y1 != y0)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0[None, :] + (py - y0[None, :]) / (y1[None, :] - y0[None, :] + 1e-300) * (
            x1[None, :] - x0[None, :]
        )
    return np.sum(cond & (px < xint), axis=1)


def points_in_rings(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd PIP over a ring set (outers + holes together): inside iff the
    total crossing count over all rings is odd — exactly the PostGIS
    multipolygon-with-holes semantics the reference relies on."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    total = np.zeros(px.shape[0], dtype=np.int64)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if r.shape[0] >= 3:
            total += _crossings(px, py, r)
    return (total % 2) == 1


def winding_number_inside(px: float, py: float, ring: np.ndarray) -> bool:
    """Independent scalar winding-number PIP — the in-repo test oracle."""
    r = np.asarray(ring, dtype=np.float64)
    x0, y0 = r[:, 0], r[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    wn = 0
    for i in range(len(x0)):
        if y0[i] <= py:
            if y1[i] > py and _is_left(x0[i], y0[i], x1[i], y1[i], px, py) > 0:
                wn += 1
        else:
            if y1[i] <= py and _is_left(x0[i], y0[i], x1[i], y1[i], px, py) < 0:
                wn -= 1
    return wn != 0


def _is_left(x0, y0, x1, y1, px, py) -> float:
    return (x1 - x0) * (py - y0) - (px - x0) * (y1 - y0)


# ---------------------------------------------------------------------------
# Distances.
# ---------------------------------------------------------------------------


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in meters, vectorized."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_R_M * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


# ---------------------------------------------------------------------------
# Web-mercator slippy tiles (z/x/y).
# ---------------------------------------------------------------------------

_MERC_LAT_MAX = 85.05112877980659


def lonlat_to_tile(lon, lat, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Standard slippy-map tile indices at zoom z (pure math; the engine's
    replacement for ST_Transform into 3857, SURVEY.md P2)."""
    n = 1 << z
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -_MERC_LAT_MAX, _MERC_LAT_MAX)
    xt = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    lat_r = np.radians(lat)
    yt = np.floor((1.0 - np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r)) / np.pi) / 2.0 * n).astype(np.int64)
    np.clip(xt, 0, n - 1, out=xt)
    np.clip(yt, 0, n - 1, out=yt)
    return xt, yt


def tile_to_lonlat(xt, yt, z: int) -> tuple[np.ndarray, np.ndarray]:
    """NW corner of tile (inverse of lonlat_to_tile)."""
    n = 1 << z
    xt = np.asarray(xt, dtype=np.float64)
    yt = np.asarray(yt, dtype=np.float64)
    lon = xt / n * 360.0 - 180.0
    lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * yt / n))))
    return lon, lat


def tile_sql(lon_expr: str, lat_expr: str, z: int) -> tuple[str, str]:
    """DuckDB SQL for the identical x/y tile indices (oracle parity)."""
    n = 1 << z
    lat = f"least(greatest({lat_expr}, {-_MERC_LAT_MAX}), {_MERC_LAT_MAX})"
    x = f"CAST(least(greatest(floor((({lon_expr}) + 180.0) / 360.0 * {n}), 0), {n - 1}) AS BIGINT)"
    y = (
        f"CAST(least(greatest(floor((1.0 - ln(tan(radians({lat})) + 1.0/cos(radians({lat}))) / pi()) "
        f"/ 2.0 * {n}), 0), {n - 1}) AS BIGINT)"
    )
    return x, y


def tile_expr(lon, lat, z: int):
    """Spark Columns (x, y) for the identical tile math, JVM-side built-ins.

    ``lon``/``lat``: column names, or plain ``F.col`` references. Each
    Column is ONE ``F.expr`` with ``tile_sql``'s operations in the same
    order, so the DuckDB oracle matches bit for bit (as Column trees the
    pair costs ~280 py4j round trips)."""
    from pyspark.sql import functions as F

    lon_s, lat_s = (C.sql_ident(c if isinstance(c, str) else c._jc.toString()) for c in (lon, lat))
    n = 1 << z
    lat_c = f"least(greatest({lat_s}, {-_MERC_LAT_MAX!r}D), {_MERC_LAT_MAX!r}D)"
    x = f"CAST(least(greatest(floor(({lon_s} + 180.0D) / 360.0D * {n}), 0), {n - 1}) AS BIGINT)"
    y = (
        f"CAST(least(greatest(floor((1.0D - ln(tan(radians({lat_c})) + 1.0D / cos(radians({lat_c}))) "
        f"/ pi()) / 2.0D * {n}), 0), {n - 1}) AS BIGINT)"
    )
    return F.expr(x), F.expr(y)


# ---------------------------------------------------------------------------
# Polygon -> cell cover (broadcast side of the PIP join).
# ---------------------------------------------------------------------------


def _segments_intersect_rect(ring: np.ndarray, lon0, lat0, lon1, lat1) -> np.ndarray:
    """For each cell rect (arrays), does ANY edge of ``ring`` intersect it?
    Conservative & exact via separating-axis per edge-vs-rect. Vectorized as
    (edges, cells)."""
    x0, y0 = ring[:, 0][:, None], ring[:, 1][:, None]
    x1, y1 = np.roll(ring[:, 0], -1)[:, None], np.roll(ring[:, 1], -1)[:, None]
    # bbox overlap test edge vs rect
    overlap = (
        (np.minimum(x0, x1) <= lon1[None, :])
        & (np.maximum(x0, x1) >= lon0[None, :])
        & (np.minimum(y0, y1) <= lat1[None, :])
        & (np.maximum(y0, y1) >= lat0[None, :])
    )
    # line of the edge separates? signed side of the 4 rect corners
    dx, dy = x1 - x0, y1 - y0
    s1 = dx * (lat0[None, :] - y0) - dy * (lon0[None, :] - x0)
    s2 = dx * (lat0[None, :] - y0) - dy * (lon1[None, :] - x0)
    s3 = dx * (lat1[None, :] - y0) - dy * (lon0[None, :] - x0)
    s4 = dx * (lat1[None, :] - y0) - dy * (lon1[None, :] - x0)
    all_pos = (s1 > 0) & (s2 > 0) & (s3 > 0) & (s4 > 0)
    all_neg = (s1 < 0) & (s2 < 0) & (s3 < 0) & (s4 < 0)
    hit = overlap & ~(all_pos | all_neg)
    return hit.any(axis=0)


def polygon_cover(
    rings: list[np.ndarray],
    res: int,
    max_cells: int = 65536,
) -> tuple[np.ndarray, np.ndarray]:
    """Cover a (multi)polygon with res-``res`` grid cells.

    Returns (cell_ids, is_boundary): is_boundary=False means the cell is
    FULLY inside the polygon — probe points landing there need no exact PIP
    (SURVEY.md X2's cheap-candidate stage); True means the cell touches the
    boundary and probe points must be refined with points_in_rings.

    Driver-side computation (polygons are the small broadcast dimension,
    mirroring the reference's single-boundary model, settings.py:120-126).
    """
    rings = [np.asarray(r, dtype=np.float64) for r in rings if len(r) >= 3]
    if not rings:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=bool)
    allv = np.vstack(rings)
    n = 1 << res
    x_min, y_min = C.latlon_to_xy(allv[:, 0].min(), allv[:, 1].min(), res)
    x_max, y_max = C.latlon_to_xy(allv[:, 0].max(), allv[:, 1].max(), res)
    xs = np.arange(int(x_min[0]), int(x_max[0]) + 1)
    ys = np.arange(int(y_min[0]), int(y_max[0]) + 1)
    if xs.size * ys.size > max_cells:
        raise ValueError(
            f"cover at res {res} needs {xs.size * ys.size} cells > max_cells={max_cells}; "
            "lower the res (adaptive cover picks it automatically)"
        )
    gx, gy = np.meshgrid(xs, ys)
    gx, gy = gx.ravel(), gy.ravel()
    lon0 = gx / n * 360.0 - 180.0
    lat0 = gy / n * 180.0 - 90.0
    lon1 = lon0 + 360.0 / n
    lat1 = lat0 + 180.0 / n
    # boundary cells: any ring edge intersects the cell rect
    boundary = np.zeros(gx.shape[0], dtype=bool)
    for ring in rings:
        boundary |= _segments_intersect_rect(ring, lon0, lat0, lon1, lat1)
    # non-boundary cells are uniformly in or out: test their centers
    cx, cy = (lon0 + lon1) / 2.0, (lat0 + lat1) / 2.0
    center_in = points_in_rings(cx, cy, rings)
    keep = boundary | center_in
    cells = C.xy_to_cell(gx[keep], gy[keep], res)
    return cells, boundary[keep]


def adaptive_cover_res(
    rings: list[np.ndarray], res_lo: int = 7, res_hi: int = 11, target_cells: int = 4096
) -> int:
    """Pick the finest res in [res_lo, res_hi] whose bbox cover stays under
    ``target_cells`` — the analogue of the reference's adaptive chunk sizing
    (pgsql2osm.py:26-136, SURVEY.md X1) applied to cover granularity."""
    allv = np.vstack([np.asarray(r, dtype=np.float64) for r in rings if len(r) >= 3])
    dlon = max(allv[:, 0].max() - allv[:, 0].min(), 1e-9)
    dlat = max(allv[:, 1].max() - allv[:, 1].min(), 1e-9)
    for res in range(res_hi, res_lo - 1, -1):
        n = 1 << res
        est = (dlon / 360.0 * n + 2) * (dlat / 180.0 * n + 2)
        if est <= target_cells:
            return res
    return res_lo


def _clip_halfplane(ring: np.ndarray, axis_val: float, keep_le: bool) -> np.ndarray:
    """Sutherland–Hodgman clip of a ring against lon <= axis_val (keep_le)
    or lon >= axis_val. Returns the clipped ring (possibly empty)."""
    out = []
    n = ring.shape[0]
    for i in range(n):
        cur = ring[i]
        prv = ring[i - 1]
        cur_in = (cur[0] <= axis_val) if keep_le else (cur[0] >= axis_val)
        prv_in = (prv[0] <= axis_val) if keep_le else (prv[0] >= axis_val)
        if cur_in != prv_in:
            t = (axis_val - prv[0]) / (cur[0] - prv[0])
            out.append([axis_val, prv[1] + t * (cur[1] - prv[1])])
        if cur_in:
            out.append([cur[0], cur[1]])
    return np.asarray(out, dtype=np.float64) if len(out) >= 3 else np.empty((0, 2))


def normalize_rings(rings: list[np.ndarray]) -> list[np.ndarray]:
    """Split antimeridian-crossing rings into in-range parts.

    A ring 'crosses' when consecutive vertices jump more than 180 deg of
    longitude (the standard encoding of a crossing in [-180,180] data).
    The ring is unwrapped to a continuous lon domain, then clipped against
    the +/-180 planes; the out-of-range part is shifted back by 360. Even-odd
    PIP over the union of parts equals PIP over the original spherical ring
    (crossing counts are additive over disjoint ring pieces), so holes and
    multipolygons need no special casing."""
    out = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if r.shape[0] < 3:
            continue
        dlon = np.abs(np.diff(np.concatenate([r[:, 0], r[:1, 0]])))
        if (dlon <= 180.0).all():
            out.append(r)
            continue
        unwrapped = r.copy()
        unwrapped[:, 0] = np.unwrap(r[:, 0], period=360.0)
        # center the unwrapped span so it straddles one boundary only
        mid = (unwrapped[:, 0].min() + unwrapped[:, 0].max()) / 2.0
        shift = 360.0 * np.round((mid - 0.0) / 360.0)
        unwrapped[:, 0] -= shift
        lo, hi = unwrapped[:, 0].min(), unwrapped[:, 0].max()
        boundary = 180.0 if hi > 180.0 else -180.0
        keep = _clip_halfplane(unwrapped, boundary, keep_le=(boundary == 180.0))
        spill = _clip_halfplane(unwrapped, boundary, keep_le=(boundary != 180.0))
        if keep.shape[0] >= 3:
            out.append(keep)
        if spill.shape[0] >= 3:
            spill = spill.copy()
            spill[:, 0] += -360.0 if boundary == 180.0 else 360.0
            out.append(spill)
    return out


def pack_rings(rings: list[np.ndarray]) -> bytes:
    """Serialize a ring set to bytes — the engine's WKB analogue (SURVEY.md
    §1.2: exact geometry as BinaryType on the polygon side). Layout:
    uint32 ring count, then per ring uint32 vertex count + float64 lon/lat
    pairs. Ragged nested arrays don't survive Arrow->pandas conversion in
    pyspark, so geometry always travels as this flat binary column."""
    import struct

    parts = [struct.pack("<I", len(rings))]
    for r in rings:
        r = np.ascontiguousarray(np.asarray(r, dtype=np.float64))
        parts.append(struct.pack("<I", r.shape[0]))
        parts.append(r.tobytes())
    return b"".join(parts)


def unpack_rings(blob: bytes) -> list[np.ndarray]:
    import struct

    (n,) = struct.unpack_from("<I", blob, 0)
    pos = 4
    rings = []
    for _ in range(n):
        (nv,) = struct.unpack_from("<I", blob, pos)
        pos += 4
        rings.append(np.frombuffer(blob, dtype=np.float64, count=nv * 2, offset=pos).reshape(nv, 2))
        pos += nv * 16
    return rings


def polygon_bbox(rings: list[np.ndarray]) -> tuple[float, float, float, float]:
    allv = np.vstack([np.asarray(r, dtype=np.float64) for r in rings if len(r) >= 3])
    return float(allv[:, 0].min()), float(allv[:, 1].min()), float(allv[:, 0].max()), float(allv[:, 1].max())
