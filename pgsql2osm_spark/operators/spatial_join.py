"""Broadcast point-in-polygon join — the engine's flagship operator.

Semantics: the reference's boundary selection (`all_nwr_within`,
/root/reference/pgsql2osm/pgsql2osm.py:178-212: ST_Intersects(way, boundary)
over a GiST index) re-expressed for Spark at 10^12-point scale:

  1. cover: each region polygon -> grid-cell cover at an adaptively chosen
     resolution (geometry.adaptive_cover_res — the X1 "adaptive chunk" idea),
     each cover cell classified interior vs boundary (geometry.polygon_cover).
     One function builds a region's rows (cover_rows), and pip_join, the
     one entry point, runs it on the driver for a region list or in one
     mapInPandas pass for a region table (REGIONS_DF_SCHEMA).
  2. points: cell id per needed resolution computed with PURE JVM bitwise
     expressions (cells.with_cell_columns — whole-stage codegen, no Python).
  3. broadcast equi-join with one probe row per point and key band: the
     cover's resolutions fall into bands (_key_res), every cover row
     carries ``_key``, its cell's ancestor at its band's lowest resolution,
     and a point probes each band with its own cell there;
     ``CASE res WHEN r THEN <point's res-r cell> ... END = cell`` in the join
     condition keeps the cover rows of the point's own cells (a band's
     lowest resolution needs no CASE branch: its key is the cell). A probe reads
     every row under its key, so a band holds resolutions together only
     while its rows stay few per key (KEY_ROWS): one band and one probe for
     disjoint regions of nearby resolutions, a band per resolution for
     nested admin levels. No shuffle of the fact table at all: broadcast
     hash join + codegen'd cell computation stream through the scan.
  4. the exact even-odd test rides in the join condition as ONE SQL
     predicate (refine_sql) over per-cell data computed with the cover
     (cell_slots, in the style of S2ShapeIndex's per-cell clipped edges): a
     parity bit for the edges that always count and at most EDGE_SLOTS
     edges that may count. Interior cells carry parity 1 and no
     slots, so their matches are DONE without exact work — the reference's
     "AND of ST_Intersects is 1000x cheaper than ST_Intersection" staging
     (settings.py:132-140, SURVEY.md X2) and GeoBlocks' "exact work only in
     boundary cells". A cell that meets more edges is split into children.
     The predicate is bit-equal to geometry.points_in_rings and stays inside
     whole-stage codegen: no Python worker sees a candidate row, and the
     expression is fixed in size (a per-region when-chain over every edge
     leaves codegen, ~9x worse at 134 edges, BENCH/PLANS.md r3).

Scale notes (100 TB): the fact side is never collected, and never
shuffled while the cover fits the broadcast; the cover (with its slot
columns) is O(regions * cells_per_region) data (bounded by TARGET_CELLS per
region). A cover above MAX_BROADCAST_CELLS joins through a cell-keyed
shuffle of the points instead — the fallback, not the default — keyed on
each resolution's own cell, so a dense area's points spread over reducers
as its fine cells do. Ahead of that shuffle, one IN-list over the cover's
res-RES_LO cells (at most 4^RES_LO of them) drops every point that no
cover cell can hold.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions import geometry as G
from ..session import local_frame
from ..sources import fixtures as FX

_LOG = logging.getLogger(__name__)

# Cover granularity: each region's cover resolution is picked in
# [RES_LO, RES_HI] so that its bbox cover stays under TARGET_CELLS.
RES_LO = 7
RES_HI = 11
TARGET_CELLS = 4096
# Both PIP paths broadcast a cover of at most this many cells and shuffle
# a larger one (a cover row is 44 columns, ~344 B: ~690 MB at the limit).
MAX_BROADCAST_CELLS = 2_000_000

# The exact refine reads at most this many edges per cover cell (the slot
# columns of the cover); cell_slots splits a cell that needs more.
EDGE_SLOTS = 8
# An edge must clear a cell by this many degrees before cell_slots calls it
# west, east or outside the cell's latitude band: the slack covers rounding
# between a point's cell (floor of its scaled lon/lat) and cells.cell_bounds.
SLOT_EPS = 1e-9
# Per slot, the operands of geometry._crossings: edge start (x, y), end
# latitude y1, d = y1 - y0 + 1e-300 and dx = x1 - x0. An unused slot holds
# _SLOT_PAD, whose crossing condition is always false.
_SLOT_FIELDS = ("x", "y", "y1", "d", "dx")
_SLOT_PAD = (0.0, 0.0, 0.0, 1e-300, 0.0)
SLOT_COLS = [f"_{f}_{k}" for k in range(EDGE_SLOTS) for f in _SLOT_FIELDS]
# cell_slots gives up (ValueError) once one region's splits made this many
# cells, and batches its (cells x edges) temporaries to this many entries.
MAX_SPLIT_CELLS = TARGET_CELLS * 16
_SLOT_BATCH = 1 << 21
# Cover resolutions share one probe key while their rows average at most
# this many per key (_key_res): each probe reads every row under its key.
KEY_ROWS = 4


def _ring_edges(rings: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """(edges, prev): the (E, 4) edges (x0, y0, x1, y1) of every ring of
    >= 3 vertices, paired as geometry._crossings pairs them, and for each
    edge the index of the one before it in its ring (cyclic). Horizontal
    edges are left out: their crossing condition ``(y0 > py) != (y1 > py)``
    is never true, and the chain's latitudes stay continuous without them."""
    edges, prev = [np.empty((0, 4))], [np.empty(0, dtype=np.int64)]
    n = 0
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if r.shape[0] < 3:
            continue
        x0, y0 = r[:, 0], r[:, 1]
        e = np.stack([x0, y0, np.roll(x0, -1), np.roll(y0, -1)], axis=1)
        e = e[e[:, 1] != e[:, 3]]
        edges.append(e)
        prev.append(n + np.roll(np.arange(len(e)), 1))
        n += len(e)
    return np.concatenate(edges), np.concatenate(prev)


def _level_slots(cells: np.ndarray, edges: np.ndarray, prev: np.ndarray):
    """cell_slots for one batch of cells, without splitting: (fits, parity,
    n_slots, slots), the last three for the cells that fit only."""
    lon0, lat0, lon1, lat1 = (b[:, None] for b in C.cell_bounds(cells))
    x0, y0, x1, y1 = edges.T
    b0, b1 = lat0 - SLOT_EPS, lat1 + SLOT_EPS
    # each edge's x-range inside the cell's latitude band (y1 != y0 always)
    xa = x0 + np.clip((b0 - y0) / (y1 - y0), 0.0, 1.0) * (x1 - x0)
    xb = x0 + np.clip((b1 - y0) / (y1 - y0), 0.0, 1.0) * (x1 - x0)
    meets = (np.maximum(y0, y1) >= b0) & (np.minimum(y0, y1) <= b1)
    east = np.minimum(xa, xb) > lon1 + SLOT_EPS
    west = np.maximum(xa, xb) < lon0 - SLOT_EPS
    local = meets & ~east & ~west
    # an edge outside the band or east of the cell counts exactly when its
    # crossing condition holds, so over a run of consecutive such edges the
    # count telescopes to [y_first > py] != [y_last > py]
    through = ~meets | east
    ends = np.concatenate(
        [through & ~through[:, prev], through & ~through[:, np.argsort(prev)]], axis=1
    )
    end_y = np.concatenate([y0, y1])
    above = ends & (end_y > b1)
    vary = ends & ~above & (end_y >= b0)
    n_local = local.sum(axis=1)
    n_slots = n_local + (vary.sum(axis=1) + 1) // 2
    fits = n_slots <= EDGE_SLOTS
    slots = np.tile(np.asarray(_SLOT_PAD), (int(fits.sum()), EDGE_SLOTS, 1))
    local, vary, n_local = local[fits], vary[fits], n_local[fits]
    row, edge = np.nonzero(local)
    pos = (np.cumsum(local, axis=1) - 1)[row, edge]
    slots[row, pos] = np.stack([x0, y0, y1, y1 - y0 + 1e-300, x1 - x0], axis=1)[edge]
    # run-end terms pair up: (+inf, y_a, y_b, d, 0) counts [y_a > py] != [y_b > py]
    row, col = np.nonzero(vary)
    rank = (np.cumsum(vary, axis=1) - 1)[row, col]
    pos = n_local[row] + rank // 2
    slots[row, pos, 0] = np.inf
    slots[row, pos, 2] = -np.inf  # a lone term pairs with [-inf > py] = 0
    slots[row, pos, 4] = 0.0
    slots[row, pos, 1 + rank % 2] = end_y[col]
    slots[row, pos, 3] = slots[row, pos, 2] - slots[row, pos, 1] + 1e-300
    parity = (above.sum(axis=1) % 2).astype(np.int32)
    return fits, parity[fits], n_slots[fits], slots


def cell_slots(cells: np.ndarray, edges: np.ndarray, prev: np.ndarray):
    """Per-cell data of the exact refine: (cells, parity, n_slots, slots).

    Even-odd membership of a point in cell [lon0,lon1]x[lat0,lat1] becomes
    ``(parity + crossings over slots) % 2 == 1``, equal to
    geometry.points_in_rings. Each edge is judged by its part inside the
    cell's latitude band (``SLOT_EPS`` of slack on every bound):

    * wholly west of the cell: it never counts and is dropped;
    * passing through the cell: a slot (x0, y0, y1, d, dx), evaluated per
      point exactly as geometry._crossings does;
    * outside the band or wholly east: it counts exactly when its crossing
      condition holds, so a run of consecutive such edges telescopes to
      ``[y_first > py] != [y_last > py]``. Each run end adds one term
      ``[y > py]``: constant (folded into ``parity``) when y clears the
      band, otherwise paired with another such term into one slot
      (+inf, y_a, y_b, d, 0) whose x test always passes. A ring wholly of
      such edges adds nothing.

    A cell that needs more than ``EDGE_SLOTS`` slots is replaced by its four
    children, level by level, so the returned cells may be finer than the
    input. ``slots`` is (N, EDGE_SLOTS, 5), unused slots padded by
    ``_SLOT_PAD``. Cells are processed in batches that bound the
    (cells x edges) temporaries.
    """
    parts, made = [], cells.size
    batch = max(1, _SLOT_BATCH // max(len(edges), 1))
    while True:
        over = []
        for chunk in np.array_split(cells, -(-cells.size // batch) or 1):
            fits, *rest = _level_slots(chunk, edges, prev)
            parts.append((chunk[fits], *rest))
            over.append(chunk[~fits])
        over = np.concatenate(over)
        if not over.size:
            return tuple(np.concatenate(col) for col in zip(*parts))
        if C.cell_res(over[:1])[0] >= C.MAX_RES or made > MAX_SPLIT_CELLS:
            lon, lat, _, _ = C.cell_bounds(over[:1])
            raise ValueError(
                f"cells near lon/lat ({lon[0]:.7f}, {lat[0]:.7f}) still meet more "
                f"than {EDGE_SLOTS} edges after splitting to res "
                f"{C.cell_res(over[:1])[0]} ({made} cells)"
            )
        cells = np.concatenate([C.cell_children(int(c)) for c in over])
        made += cells.size


def normalized_rings(reg: dict) -> list[np.ndarray]:
    """A region's rings for even-odd PIP, split at the antimeridian
    (geometry.normalize_rings). ``reg`` holds either ``outer_rings`` and
    ``inner_rings`` (the fixtures' shape) or plain ``rings``."""
    return G.normalize_rings(FX.region_rings(reg) if "outer_rings" in reg else reg["rings"])


def cover_rows(region_id: int, rings: list[np.ndarray]) -> pd.DataFrame:
    """One region's cover rows, the unit both cover builds emit.

    Columns: region_id:int64, res:int32, cell:int64, _par:int32 and the
    ``SLOT_COLS`` (float64). Interior cells carry parity 1 and no slots;
    boundary cells carry cell_slots' data, and a boundary cell that is
    wholly outside (parity 0, no slots) leaves the cover.
    """
    res = G.adaptive_cover_res(rings, RES_LO, RES_HI, TARGET_CELLS)
    cells_arr, is_bnd = G.polygon_cover(rings, res, max_cells=TARGET_CELLS * 16)
    inner = cells_arr[~is_bnd]
    try:
        bcells, par, n_slots, slots = cell_slots(cells_arr[is_bnd], *_ring_edges(rings))
    except ValueError as e:
        raise ValueError(f"region {region_id}: {e}") from None
    live = (par == 1) | (n_slots > 0)
    cells_all = np.concatenate([inner, bcells[live]])
    slots_all = np.concatenate(
        [np.tile(np.asarray(_SLOT_PAD), (inner.size, EDGE_SLOTS, 1)), slots[live]]
    )
    return pd.DataFrame(
        {
            "region_id": np.int64(region_id),
            "res": C.cell_res(cells_all).astype(np.int32),
            "cell": cells_all,
            "_par": np.concatenate([np.ones(inner.size, dtype=np.int32), par[live]]),
            **dict(zip(SLOT_COLS, slots_all.reshape(-1, len(SLOT_COLS)).T)),
        }
    )


def build_cover(regions: list[dict]) -> pd.DataFrame:
    """Driver-side cover build: cover_rows of every region, concatenated."""
    if not regions:
        return pd.DataFrame(
            {
                "region_id": pd.Series(dtype="int64"),
                "res": pd.Series(dtype="int32"),
                "cell": pd.Series(dtype="int64"),
                "_par": pd.Series(dtype="int32"),
                **{c: pd.Series(dtype="float64") for c in SLOT_COLS},
            }
        )
    return pd.concat(
        [cover_rows(reg["region_id"], normalized_rings(reg)) for reg in regions],
        ignore_index=True,
    )


def refine_sql(lon: str, lat: str) -> str:
    """The exact refine as ONE SQL predicate over a cover row's ``_par`` and
    slot columns and the point's ``lon``/``lat`` — geometry._crossings'
    operations in the same order, so it is bit-equal to
    geometry.points_in_rings and stays inside whole-stage codegen."""
    x, y = C.sql_ident(lon), C.sql_ident(lat)
    terms = " + ".join(
        f"CASE WHEN ((_y_{k} > {y}) != (_y1_{k} > {y})) "
        f"AND ({x} < _x_{k} + ({y} - _y_{k}) / _d_{k} * _dx_{k}) THEN 1 ELSE 0 END"
        for k in range(EDGE_SLOTS)
    )
    return f"((_par + {terms}) % 2) = 1"


REGIONS_DF_SCHEMA = "region_id long, wkb binary"


def regions_to_df(spark: SparkSession, regions: list[dict]) -> DataFrame:
    """Lift a driver-side region list into a region table
    (``REGIONS_DF_SCHEMA``): geometry packed to a binary column
    (geometry.pack_rings — the WKB analogue; ragged nested arrays don't
    survive pyspark's Arrow->pandas conversion)."""
    rows = [(int(reg["region_id"]), G.pack_rings(normalized_rings(reg))) for reg in regions]
    return local_frame(spark, rows, REGIONS_DF_SCHEMA)


def _check_regions_df(regions_df: DataFrame) -> None:
    """Raise ValueError naming the first ``REGIONS_DF_SCHEMA`` column that
    the table lacks or holds with another type (extra columns are fine)."""
    have = {f.name: f.dataType.typeName() for f in regions_df.schema.fields}
    for name, typ in (col.split() for col in REGIONS_DF_SCHEMA.split(", ")):
        if have.get(name) != typ:
            got = f"is {have[name]}" if name in have else "is missing"
            raise ValueError(
                f"region table column {name!r} {got}; expected {REGIONS_DF_SCHEMA!r}"
            )


# The cover's columns and the probe's band key: the join resolves them by
# name, so no point column that the join reads may share one.
_JOIN_COLS = ("region_id", "res", "cell", "_par", *SLOT_COLS, "_key", "_pk")


def _check_point_cols(points: DataFrame) -> None:
    """Raise ValueError naming the first point column that a join column
    shares (Spark compares names without case)."""
    join = {c.lower() for c in _JOIN_COLS}
    for name in points.columns:
        if name.lower() in join:
            raise ValueError(
                f"point column {name!r} collides with the join column of that "
                f"name; rename it before pip_join"
            )


def _key_res(res_rows: dict[int, int], broadcast: bool) -> dict[int, int]:
    """Each cover resolution -> the resolution of its probe key, given the
    cover's row count per resolution. Resolutions fall into bands and a
    point probes each band once, with its cell at the band's lowest
    resolution b, reading every cover row under that key. A resolution r
    joins the band below it while the band averages at most ``KEY_ROWS``
    rows per key, counting n res-r rows as no fewer than n / 4^(r - b)
    keys (a region's cells pack at most that many under one key). Nested
    admin levels (gen_continent) keep a band per resolution, disjoint
    regions at res 9 and 11 (the headline's) share one.

    A shuffled cover (``broadcast`` False) keys every resolution on its own
    cell: the shuffle partitions points by key, and a coarse key would send
    a dense area's points all to one reducer."""
    out, base, rows, keys = {}, None, 0, 0
    for r, n in sorted(res_rows.items()):
        if broadcast and base is not None:
            k = max(keys, -(-n // 4 ** (r - base)))
            if (rows + n) / k <= KEY_ROWS:
                out[r], rows, keys = base, rows + n, k
                continue
        out[r], base, rows, keys = r, r, n, n
    return out


def _build_cover_df(regions_df: DataFrame) -> DataFrame:
    """Distributed cover build: one mapInPandas pass over the region table
    emitting cover_rows per region — each region's cover is independent, so
    this scales with #regions instead of living on the driver. Rings are
    split at the antimeridian here as on the driver: a region table may hold
    unsplit rings."""

    def gen(pdf_iter):
        for pdf in pdf_iter:
            for rid, blob in zip(pdf["region_id"], pdf["wkb"]):
                yield cover_rows(rid, G.normalize_rings(G.unpack_rings(bytes(blob))))

    schema = ", ".join(
        ["region_id long", "res int", "cell long", "_par int", *(f"{c} double" for c in SLOT_COLS)]
    )
    return regions_df.mapInPandas(gen, schema)


def pip_join(
    spark: SparkSession,
    points: DataFrame,
    regions: list[dict] | DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    keep_cols: list[str] | None = None,
    cell_cols: dict[int, str] | None = None,
) -> DataFrame:
    """points x regions -> rows of points inside each region — the one PIP
    join, for a region list or a region table (``REGIONS_DF_SCHEMA``).

    Exact even-odd membership, bit-equal to geometry.points_in_rings: the
    join matches each point to the cover cells of its regions,
    and one SQL predicate (refine_sql) over the cell's parity bit and edge
    slots (cell_slots) decides it inside whole-stage codegen — no Python.

    Returns the point columns (or ``keep_cols``) + ``region_id``. A point in
    k overlapping regions yields k rows (nested admin levels do overlap, as
    in the reference's relation hierarchy).

    The input decides only how the cover is built. A region list builds it
    on the driver (build_cover). A region table — or a list too long to
    build on the driver — builds it in one mapInPandas pass
    (_build_cover_df), so no geometry visits the driver (SURVEY.md J1
    'range-partitioned fallback'); a table is checked against
    ``REGIONS_DF_SCHEMA`` before anything is planned. Either cover takes
    the same hash join (one probe per point and key band, _key_res) ->
    refine: broadcast up to ``MAX_BROADCAST_CELLS`` cells, a cell-keyed
    shuffle of the masked points above. The join reads only the kept point
    columns, ``lon``/``lat`` and ``cell_cols``; one of those that shares a
    join column's name (``_JOIN_COLS``) is a ValueError, raised before
    anything is planned.
    """
    out_cols = keep_cols or list(points.columns)
    points = points.select(*dict.fromkeys([*out_cols, lon, lat, *(cell_cols or {}).values()]))
    _check_point_cols(points)
    if not isinstance(regions, DataFrame) and (
        len(regions) * TARGET_CELLS > 2 * MAX_BROADCAST_CELLS
    ):
        # cheap pre-estimate: covers average ~TARGET_CELLS per region by
        # construction (adaptive_cover_res aims at TARGET_CELLS), so a huge
        # region list skips the driver-side cover build entirely. The
        # estimate is an upper bound (tiny polygons cover fewer cells), so it
        # can route a small-cover region list to the table path unmeasured.
        _LOG.warning(
            "pip_join: pre-estimate %d regions x %d cells > %d — taking the "
            "partitioned path without building the cover",
            len(regions), TARGET_CELLS, 2 * MAX_BROADCAST_CELLS,
        )
        regions = regions_to_df(spark, regions)
    if isinstance(regions, DataFrame):
        _check_regions_df(regions)
        # localCheckpoint: the res/count probe below and the join both read
        # the cover, and one rasterization serves both. Lazy, so the probe is
        # the job that materializes it; unlike persist(), ContextCleaner
        # frees the blocks once the DataFrame is garbage-collected.
        cover = _build_cover_df(regions).localCheckpoint(eager=False)
        # ONE probe job yields the row count per resolution and
        # the res-RES_LO parents of the shuffle branch's mask. The count
        # matters because a checkpointed cover has no Catalyst stats
        # (LogicalRDD -> default huge size): without the broadcast hint the
        # join shuffles the fact side — measured 3x wall at 100M points x
        # 256 regions against a 7 MB cover.
        counts = (
            cover.groupBy("res", F.expr(C.cell_parent_sql("cell", "res", RES_LO)).alias("_p"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        res_rows: dict[int, int] = {}
        for row in counts:
            res_rows[row["res"]] = res_rows.get(row["res"], 0) + row["_n"]
        parents = {row["_p"] for row in counts}
    else:
        cover = build_cover(regions)
        res_rows = {int(r): int(n) for r, n in cover["res"].value_counts().items()}
        parents = set(C.cell_parent(cover["cell"].to_numpy(), RES_LO).tolist())
    if not res_rows:
        return (
            points.select(*out_cols)
            .withColumn("region_id", F.lit(None).cast("long"))
            .where(F.lit(False))
        )
    broadcast = sum(res_rows.values()) <= MAX_BROADCAST_CELLS
    key_res = _key_res(res_rows, broadcast)
    if isinstance(cover, pd.DataFrame):
        # _key in pandas: a projection over the local relation would run
        # row by row on the driver at planning
        key_of = cover["res"].map(key_res).to_numpy()
        cover["_key"] = C.cell_parent(cover["cell"].to_numpy(), key_of)
        cover = local_frame(spark, cover)
    else:
        key_of = "CASE res " + " ".join(f"WHEN {r} THEN {b}" for r, b in key_res.items()) + " END"
        cover = cover.withColumn("_key", F.expr(C.cell_parent_sql("cell", "res", key_of)))
    # ONE scan, ONE join, ONE refine — fused, because the source subtree is
    # the expensive part (a 100 TB scan, or here heavy synthetic
    # generation): a branch-per-stage union re-executes it per branch
    # (measured 1.6-1.8x total wall on the 500M-row headline).
    # Each point probes once per key band, with its cell at the band's
    # lowest resolution against every cover row's ``_key`` (that cell's
    # ancestor); the join condition then picks, per cover row, the point's
    # cell at the row's own resolution. Per-res cells are projected columns
    # (a single shared Morton spread at res 26, per-res shift —
    # cells.with_cell_columns).
    res_list = sorted(key_res)
    cell_cols = dict(cell_cols or {})
    missing = [r for r in res_list if r not in cell_cols]
    probe = points
    if missing:
        probe, names = C.with_cell_columns(
            points, lon, lat, missing, names=[f"_cell_r{r}" for r in missing]
        )
        cell_cols.update(zip(missing, names))
    ref = {r: C.sql_ident(name) for r, name in cell_cols.items()}
    # MAX_BROADCAST_CELLS alone decides the broadcast: the shuffle_hash hint
    # keeps Spark's own size threshold (static or AQE) from broadcasting a
    # cover judged too large.
    if broadcast:
        cover = F.broadcast(cover)
    else:
        # the shuffle moves only points whose res-RES_LO cell holds cover
        # cells: at most 4^RES_LO = 16,384 such cells, so one IN-list. It
        # reads lon/lat, not a cell column: Catalyst pushes a filter below
        # the projections it reads and inlines them, and the Morton spread's
        # repeated references then outgrow codegen's 64 KB method limit.
        cover = cover.hint("shuffle_hash")
        keys = C.grid_index(np.fromiter(parents, np.int64), RES_LO)
        probe = probe.where(
            F.expr(f"{C.grid_sql(lon, lat, RES_LO)} IN ({', '.join(map(str, sorted(keys)))})")
        )
    bands = sorted(set(key_res.values()))
    pk = ref[bands[0]]
    if len(bands) > 1:
        # Generate evaluates its expressions interpreted (outside
        # whole-stage codegen), so it explodes column references only:
        # inlining the bit math there costs ~100x (16 s vs 0.14 s on 2M rows)
        refs = ", ".join(ref[b] for b in bands)
        probe = probe.withColumn("_pk", F.expr(f"explode(array({refs}))"))
        pk = "_pk"
    # Interior cells carry parity 1 and no slots, so their rows pass on the
    # parity bit alone (the X2 staging); boundary rows count crossings over
    # at most EDGE_SLOTS edges.
    # A row at its band's lowest resolution has _key = cell, so the key
    # match is the cell match; the CASE picks the point's cell only for the
    # finer resolutions of a band (none when every band holds one, so the
    # probe carries no cell column past the join).
    fine = " ".join(f"WHEN {r} THEN {ref[r]}" for r, b in key_res.items() if r != b)
    pick = f"CASE res {fine} ELSE cell END = cell AND " if fine else ""
    cond = f"{pk} = _key AND {pick}{refine_sql(lon, lat)}"
    return probe.join(cover, F.expr(cond), "inner").select(*out_cols, "region_id")


def pip_join_bbox_prefilter(
    points: DataFrame, regions: list[dict], lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Cheap global bbox pre-filter (union of region bboxes) to push into the
    parquet scan ahead of pip_join — the reference's conjunctive
    boundary-AND-bbox predicate (settings.py:132-140, SURVEY.md P1). ONE
    SQL predicate, ``D``-suffixed double literals."""
    x, y = C.sql_ident(lon), C.sql_ident(lat)
    boxes = []
    for reg in regions:
        x0, y0, x1, y1 = (float(v) for v in G.polygon_bbox(normalized_rings(reg)))
        boxes.append(f"({x} >= {x0!r}D AND {x} <= {x1!r}D AND {y} >= {y0!r}D AND {y} <= {y1!r}D)")
    return points.where(F.expr(" OR ".join(boxes))) if boxes else points
