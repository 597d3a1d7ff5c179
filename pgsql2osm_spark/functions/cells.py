"""Hierarchical geospatial cell index — the engine's H3/S2 stand-in.

The north rule calls for H3 (res 7-11) and S2 cell encoding. Neither library is
available in this container, so this module implements an equivalent hierarchical
cell scheme from scratch in vectorized numpy:

* ``cell`` ("h3-style"): a Morton (Z-order) quadtree over the equirectangular
  lon/lat plane. Resolution ``r`` partitions the world into a 2^r x 2^r grid;
  a cell id packs ``(res, morton(x, y))`` into one int64. Parent/child are bit
  shifts, neighbors are +/-1 grid arithmetic with longitude wrap, so
  ``grid_disk`` (the kNN ring primitive, SURVEY.md J11) is exact and cheap.
* ``s2_cell`` ("s2-style"): cube-face projection (6 faces, gnomonic with the
  S2 quadratic UV transform) + per-face Morton quadtree, matching the real S2
  cell geometry family.

Both encoders are pure arithmetic over numpy arrays — zero per-row Python.
The lat/lon cell is also emitted as Spark SQL projections
(``with_cell_columns``, the engine's one Spark encoder) and as DuckDB SQL
text (``cell_sql``) so the driver's oracle cross-check can verify the exact
same bits three independent ways.

Reference parity: this replaces the PostGIS index stratum of
/root/reference/pgsql2osm/settings.py:90-146 (boundary predicate over a GiST
index) with explicit cell-grid candidate selection (SURVEY.md S1, J1, X2).

Cell id layout (int64, always positive):
    bits 59..56  resolution (0..26)
    bits 51..0   morton code, 2*res bits used
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26
_RES_SHIFT = 56

# ---------------------------------------------------------------------------
# Morton (Z-order) bit interleaving — vectorized magic-number bit spreading.
# ---------------------------------------------------------------------------

_SPREAD_MASKS = (
    (16, np.uint64(0x0000FFFF0000FFFF)),
    (8, np.uint64(0x00FF00FF00FF00FF)),
    (4, np.uint64(0x0F0F0F0F0F0F0F0F)),
    (2, np.uint64(0x3333333333333333)),
    (1, np.uint64(0x5555555555555555)),
)


def _spread_bits(x: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of x so bit i lands at position 2*i."""
    x = x.astype(np.uint64) & np.uint64(0x00000000FFFFFFFF)
    for shift, mask in _SPREAD_MASKS:
        x = (x | (x << np.uint64(shift))) & mask
    return x


def _compact_bits(x: np.ndarray) -> np.ndarray:
    """Inverse of _spread_bits: gather even-position bits back together."""
    x = x.astype(np.uint64) & np.uint64(0x5555555555555555)
    x = (x | (x >> np.uint64(1))) & np.uint64(0x3333333333333333)
    x = (x | (x >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return x


def morton_encode(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Interleave x (even bits) and y (odd bits) into one uint64."""
    return _spread_bits(x) | (_spread_bits(y) << np.uint64(1))


def morton_decode(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    m = m.astype(np.uint64)
    return _compact_bits(m), _compact_bits(m >> np.uint64(1))


# ---------------------------------------------------------------------------
# Lat/lon grid cells.
# ---------------------------------------------------------------------------


def latlon_to_xy(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Equirectangular grid coordinates at resolution ``res`` (2^res x 2^res)."""
    n = 1 << res
    lon = np.atleast_1d(np.asarray(lon, dtype=np.float64))
    lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return x, y


def cell_encode(lon, lat, res: int) -> np.ndarray:
    """lon/lat arrays -> int64 cell ids at ``res``. Pure numpy, vectorized."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    x, y = latlon_to_xy(lon, lat, res)
    m = morton_encode(x.astype(np.uint64), y.astype(np.uint64))
    return ((np.uint64(res) << np.uint64(_RES_SHIFT)) | m).astype(np.int64)


def cell_res(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell).astype(np.uint64) >> np.uint64(_RES_SHIFT)).astype(np.int64)


def cell_to_xy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    m = np.asarray(cell).astype(np.uint64) & np.uint64((1 << _RES_SHIFT) - 1)
    return tuple(v.astype(np.int64) for v in morton_decode(m))


def xy_to_cell(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    m = morton_encode(np.asarray(x).astype(np.uint64), np.asarray(y).astype(np.uint64))
    return ((np.uint64(res) << np.uint64(_RES_SHIFT)) | m).astype(np.int64)


def cell_parent(cell: np.ndarray, parent_res: int | np.ndarray) -> np.ndarray:
    """Ancestor cell at ``parent_res`` — a pure bit shift, no geometry.
    ``parent_res`` is one resolution or one per cell."""
    cell = np.asarray(cell)
    res = cell_res(cell)
    steps = res - parent_res
    if np.any(steps < 0):
        raise ValueError("parent_res must be <= cell res")
    pres = np.full_like(res, parent_res)
    m = cell.astype(np.uint64) & np.uint64((1 << _RES_SHIFT) - 1)
    m = m >> (np.uint64(2) * steps.astype(np.uint64))
    return ((pres.astype(np.uint64) << np.uint64(_RES_SHIFT)) | m).astype(np.int64)


def cell_children(cell: int) -> np.ndarray:
    """The 4 direct children of a single cell id."""
    res = int(cell_res(np.asarray([cell]))[0])
    m = (int(cell) & ((1 << _RES_SHIFT) - 1)) << 2
    base = ((res + 1) << _RES_SHIFT) | m
    return np.asarray([base, base + 1, base + 2, base + 3], dtype=np.int64)


def cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lon_min, lat_min, lon_max, lat_max) of each cell."""
    cell = np.asarray(cell)
    res = cell_res(cell)
    n = (np.int64(1) << res).astype(np.float64)
    x, y = cell_to_xy(cell)
    lon0 = x / n * 360.0 - 180.0
    lat0 = y / n * 180.0 - 90.0
    return lon0, lat0, lon0 + 360.0 / n, lat0 + 180.0 / n


def grid_disk(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of ``cell`` (the H3 grid_disk
    analogue used for kNN ring expansion, SURVEY.md J11). Longitude wraps,
    latitude clamps at the poles."""
    res = int(cell_res(np.asarray([cell]))[0])
    n = 1 << res
    x, y = cell_to_xy(np.asarray([cell]))
    x, y = int(x[0]), int(y[0])
    dx, dy = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1))
    xs = (x + dx.ravel()) % n
    ys = y + dy.ravel()
    keep = (ys >= 0) & (ys < n)
    return np.unique(xy_to_cell(xs[keep], ys[keep], res))


# ---------------------------------------------------------------------------
# S2-style cube-face cells.
# ---------------------------------------------------------------------------


def _latlon_to_face_uv(lon: np.ndarray, lat: np.ndarray):
    """Project to unit sphere, pick dominant axis -> cube face + (u, v)."""
    lon_r = np.radians(np.asarray(lon, dtype=np.float64))
    lat_r = np.radians(np.asarray(lat, dtype=np.float64))
    x = np.cos(lat_r) * np.cos(lon_r)
    y = np.cos(lat_r) * np.sin(lon_r)
    z = np.sin(lat_r)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az), np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    # major axis value per face
    major = np.choose(face, [x, y, z, -x, -y, -z])
    u_num = np.choose(face, [y, -x, -x, -z, -z, y])  # same axis pairing as S2
    v_num = np.choose(face, [z, z, y, y, x, x])
    u = u_num / major
    v = v_num / major
    return face, u, v


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    """S2's quadratic projection: makes cell areas near-uniform on the sphere."""
    u = np.asarray(u, dtype=np.float64)
    pos = np.sqrt(np.maximum(1.0 + 3.0 * u, 0.0))
    neg = np.sqrt(np.maximum(1.0 - 3.0 * u, 0.0))
    return np.where(u >= 0, 0.5 * pos, 1.0 - 0.5 * neg)


def s2_encode(lon, lat, res: int = 16) -> np.ndarray:
    """S2-style cell id: face (3 bits) + Morton(si, ti) at ``res`` (<=26).

    Layout: bits 62..60 face, bits 59..56 unused-zero pad of res tag omitted
    (res is a call-site constant for this engine; one res per column)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    face, u, v = _latlon_to_face_uv(lon, lat)
    n = 1 << res
    si = np.clip((_uv_to_st(u) * n).astype(np.int64), 0, n - 1)
    ti = np.clip((_uv_to_st(v) * n).astype(np.int64), 0, n - 1)
    m = morton_encode(si.astype(np.uint64), ti.astype(np.uint64))
    return ((face.astype(np.uint64) << np.uint64(60)) | m).astype(np.int64)


# ---------------------------------------------------------------------------
# Spark Column / DuckDB SQL emitters for the same encoding (oracle parity).
# ---------------------------------------------------------------------------


def _spread_sql(expr: str) -> str:
    """DuckDB SQL text computing _spread_bits(expr) via the same magic masks."""
    out = f"(({expr}) & 4294967295)"
    for shift, mask in _SPREAD_MASKS:
        out = f"(({out} | ({out} << {shift})) & {int(np.int64(mask))})"
    return out


def cell_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """DuckDB SQL computing the exact same int64 cell id as cell_encode()."""
    n = 1 << res
    x = f"CAST(least(greatest(floor((({lon_expr}) + 180.0) / 360.0 * {n}), 0), {n - 1}) AS BIGINT)"
    y = f"CAST(least(greatest(floor((({lat_expr}) + 90.0) / 180.0 * {n}), 0), {n - 1}) AS BIGINT)"
    return f"(({_spread_sql(x)} | ({_spread_sql(y)} << 1)) | {res << _RES_SHIFT})"


def sql_ident(name: str) -> str:
    """A column name quoted for Spark SQL text (backticks, doubled inside)."""
    return "`" + name.replace("`", "``") + "`"


def _axis_sql(col: str, off: float, span: float, res: int) -> str:
    """Spark SQL text of latlon_to_xy's x (``off`` 180, ``span`` 360) or y
    (90, 180) at ``res`` for the quoted column ``col``."""
    n = 1 << res
    return f"CAST(least(greatest(floor(({col} + {off}D) / {span}D * {n}), 0), {n - 1}) AS BIGINT)"


def grid_sql(lon: str, lat: str, res: int) -> str:
    """Spark SQL text of a point's res-``res`` grid index ``x << res | y``
    (latlon_to_xy's x and y; ``lon``/``lat`` are column names): it names
    the point's cell without the Morton spread. grid_index is its twin for
    cell ids."""
    x, y = _axis_sql(sql_ident(lon), 180.0, 360.0, res), _axis_sql(sql_ident(lat), 90.0, 180.0, res)
    return f"shiftleft({x}, {res}) | {y}"


def grid_index(cell: np.ndarray, res: int) -> np.ndarray:
    """The grid index ``x << res | y`` of cells at ``res`` (grid_sql's twin)."""
    x, y = cell_to_xy(cell)
    return (x << res) | y


def with_cell_columns(df, lon: str, lat: str, res_list, names=None):
    """Attach one cell-id column per resolution with the heavy bit-spreading
    computed ONCE (at MAX_RES) and every coarser cell derived by a single
    shift — the hierarchy is literal bit truncation (m_r = m_26 >> 2*(26-r)).

    Uses chained projections instead of one inline expression: Spark's
    Generate and interpreted fallbacks walk duplicated subtrees
    exponentially (measured 100x on the bench), while chained projections
    stay inside whole-stage codegen with linear code size. Each step is ONE
    ``withColumns`` of SQL-text expressions (the grid clip, one per Morton
    mask, then all resolutions): the same expressions as Column trees cost
    a py4j round trip per operator and literal.

    Returns (df, [colnames]). Temp columns are dropped.
    """
    from pyspark.sql import functions as F

    names = list(names or [f"h3_{r}" for r in res_list])

    def step(df, exprs):
        return df.withColumns({k: F.expr(v) for k, v in exprs.items()})

    df = step(
        df,
        {
            "_cx": f"{_axis_sql(sql_ident(lon), 180.0, 360.0, MAX_RES)} & 4294967295",
            "_cy": f"{_axis_sql(sql_ident(lat), 90.0, 180.0, MAX_RES)} & 4294967295",
        },
    )
    for shift, mask in _SPREAD_MASKS:
        m = int(np.int64(mask))
        df = step(df, {c: f"({c} | shiftleft({c}, {shift})) & {m}" for c in ("_cx", "_cy")})
    df = step(
        df,
        {
            name: f"shiftrightunsigned(_cx | shiftleft(_cy, 1), {2 * (MAX_RES - r)}) "
            f"| {r << _RES_SHIFT}"
            for r, name in zip(res_list, names)
        },
    )
    return df.drop("_cx", "_cy"), names


def cell_parent_sql(cell: str, res: str, parent_res: int | str) -> str:
    """Spark SQL text computing cell_parent(cell, parent_res) for a cell
    expression whose resolution is the int expression ``res`` (SQL text);
    ``parent_res`` (<= ``res``) is an int or an int SQL expression. One
    mask, one shift, one OR — pure bit math, codegen-friendly."""
    return (
        f"shiftrightunsigned({cell} & {(1 << _RES_SHIFT) - 1}, 2 * ({res} - {parent_res})) "
        f"| shiftleft(CAST({parent_res} AS BIGINT), {_RES_SHIFT})"
    )

