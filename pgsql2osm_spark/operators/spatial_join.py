"""Broadcast point-in-polygon join — the engine's flagship operator.

Semantics: the reference's boundary selection (`all_nwr_within`,
/root/reference/pgsql2osm/pgsql2osm.py:178-212: ST_Intersects(way, boundary)
over a GiST index) re-expressed for Spark at 10^12-point scale:

  1. driver: each region polygon -> grid-cell cover at an adaptively chosen
     resolution (geometry.adaptive_cover_res — the X1 "adaptive chunk" idea),
     each cover cell classified interior vs boundary (geometry.polygon_cover).
  2. points: cell id per needed resolution computed with PURE JVM bitwise
     expressions (cells.cell_expr — whole-stage codegen, no Python).
  3. broadcast equi-join points.cell == cover.cell, one join per distinct
     cover resolution (<=5), unioned. No shuffle of the fact table at all:
     broadcast hash join + codegen'd cell computation stream through the scan.
  4. interior-cell matches are DONE (no exact test needed); boundary-cell
     matches get the exact even-odd PIP via the Arrow pandas UDF. Plan
     truth (r3, BENCH/PLANS.md): Spark extracts the UDF below the filter,
     so ALL candidate rows pay the Arrow round-trip even though only
     boundary rows consult the result — the two measured alternatives
     (split-cover union: re-executes the scan per branch, 1.6-1.8x worse;
     pure-Column unrolled refine: leaves codegen, ~9x worse at 134 edges,
     kept as refine='column' for tiny covers) both lose, and the round-trip
     is NOT the scaling bottleneck (the gather-shaped hash probe is). The
     two-stage split remains the reference's "AND of ST_Intersects is
     1000x cheaper than ST_Intersection" staging (settings.py:132-140,
     SURVEY.md X2): >90% of candidates are interior and skip the exact
     *computation*.

Scale notes (100 TB): the fact side is never shuffled or collected; cover +
rings are O(regions * cells_per_region) driver/broadcast data (bounded by
TARGET_CELLS per region). For region sets too large to broadcast, split the
region list and union — each pass stays broadcast; a shuffle-based cell-cell
join fallback is deliberately NOT the default (it would shuffle the planet).
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions import geometry as G
from ..functions import udfs
from ..sources import fixtures as FX

_LOG = logging.getLogger(__name__)

# Cover granularity: each region's cover resolution is picked in
# [RES_LO, RES_HI] so that its bbox cover stays under TARGET_CELLS.
RES_LO = 7
RES_HI = 11
TARGET_CELLS = 4096
# pip_join takes the partitioned path above this many cover cells.
MAX_BROADCAST_CELLS = 2_000_000
# refine='auto' unrolls the even-odd test as a Column up to this many edges.
MAX_COLUMN_EDGES = 64
# coarse_prefilter coarsens its ancestor InSet until it fits this size.
MAX_PREFILTER_CELLS = 512
# pip_join_partitioned broadcasts its cover up to this many cells.
BROADCAST_COVER_MAX_CELLS = 4_000_000
# pip_join_partitioned fans each region's boundary refine into this many
# salted groups.
REFINE_SALT = 16


def build_cover(regions: list[dict]):
    """Driver-side cover build: returns (cover_pdf, rings_by_region).

    cover_pdf columns: region_id:int64, res:int32, cell:int64, is_boundary:bool.
    """
    recs = []
    rings_by_region: dict[int, list[np.ndarray]] = {}
    for reg in regions:
        rings = FX.region_rings(reg) if "outer_rings" in reg else reg["rings"]
        rings = G.normalize_rings([np.asarray(r, dtype=np.float64) for r in rings])
        rid = int(reg["region_id"])
        rings_by_region[rid] = rings
        res = G.adaptive_cover_res(rings, RES_LO, RES_HI, TARGET_CELLS)
        cells_arr, is_bnd = G.polygon_cover(rings, res, max_cells=TARGET_CELLS * 16)
        recs.append(
            pd.DataFrame(
                {
                    "region_id": np.int64(rid),
                    "res": np.int32(res),
                    "cell": cells_arr,
                    "is_boundary": is_bnd,
                }
            )
        )
    if not recs:
        cover = pd.DataFrame(
            {
                "region_id": pd.Series(dtype="int64"),
                "res": pd.Series(dtype="int32"),
                "cell": pd.Series(dtype="int64"),
                "is_boundary": pd.Series(dtype="bool"),
            }
        )
        return cover, rings_by_region
    cover = pd.concat(recs, ignore_index=True)
    return cover, rings_by_region


def pip_join(
    spark: SparkSession,
    points: DataFrame,
    regions: list[dict],
    lon: str = "lon",
    lat: str = "lat",
    keep_cols: list[str] | None = None,
    cell_cols: dict[int, str] | None = None,
    refine: str = "udf",
    coarse_prefilter: bool = False,
) -> DataFrame:
    """points x regions -> rows of points inside each region.

    ``refine``: 'udf' (default) refines boundary rows with the Arrow
    pandas-UDF exact test; 'column' unrolls the even-odd test as a pure
    Column expression, 'auto' picks 'column' only up to ``MAX_COLUMN_EDGES``
    TOTAL edges. MEASURED: at ~130 edges x 12 regions the unrolled
    expression ran ~9x slower than the Arrow UDF on the 500M-row headline
    (the giant when-chain leaves whole-stage codegen), so 'udf' stays the
    default; 'column' only ever pays off for tiny covers (bbox rectangles,
    a handful of edges).

    Returns the point columns (or ``keep_cols``) + ``region_id``. A point in
    k overlapping regions yields k rows (nested admin levels do overlap, as
    in the reference's relation hierarchy).

    Dispatch: region sets whose cover exceeds ``MAX_BROADCAST_CELLS`` (or
    whose size makes even building the cover on the driver unreasonable)
    automatically take the shuffle-partitioned path (pip_join_partitioned) —
    one entry point, physical strategy chosen from measured cover size.

    ``coarse_prefilter``: add ONE coarse-ancestor InSet gate ahead of the
    multi-res explode — points whose coarse cell is not an ancestor of ANY
    cover cell (an exact superset of matches) emit a single null row that
    dies at the join instead of 5 exploded probes. The ancestor set is
    capped at ``MAX_PREFILTER_CELLS`` by coarsening (a multi-thousand-
    literal InSet costs minutes of py4j marshalling and bloats codegen).
    OPT-IN, workload-dependent (r5 measurements, BENCH/PLANS.md): it wins
    when the per-candidate work downstream dominates (probe/refine-heavy
    pipelines — the generator-shaped bench decomposition localized its
    cost there) and is neutral-to-negative on decode-bound light scans
    where the parquet read is the bottleneck. The implementation is
    shape-critical: see the in-body comment on why it must be a when-gated
    explode_outer rather than a .where() (predicate/infer pushdown would
    re-evaluate the whole cell expression inside the scan, measured 17x).
    """
    # cheap pre-estimate: covers average ~TARGET_CELLS per region by
    # construction (adaptive_cover_res aims at TARGET_CELLS), so a huge
    # region list skips the driver-side cover build entirely. The estimate
    # is an upper bound (tiny polygons cover fewer cells), so it can route a
    # small-cover region list to the shuffle path unmeasured — log it, and
    # forward cell_cols so the fallback keeps the precomputed probe columns.
    if len(regions) * TARGET_CELLS > 2 * MAX_BROADCAST_CELLS:
        _LOG.warning(
            "pip_join: pre-estimate %d regions x %d cells > %d — taking the "
            "partitioned path without building the cover",
            len(regions), TARGET_CELLS, 2 * MAX_BROADCAST_CELLS,
        )
        return pip_join_partitioned(
            spark, points, regions_to_df(spark, regions), lon=lon, lat=lat,
            keep_cols=keep_cols, cell_cols=cell_cols,
        )
    cover_pdf, rings_by_region = build_cover(regions)
    if len(cover_pdf) > MAX_BROADCAST_CELLS:
        return pip_join_partitioned(
            spark, points, regions_to_df(spark, regions), lon=lon, lat=lat,
            keep_cols=keep_cols, cell_cols=cell_cols,
        )
    if cover_pdf.empty:
        out_cols = keep_cols or list(points.columns)
        return (
            points.select(*out_cols)
            .withColumn("region_id", F.lit(None).cast("long"))
            .where(F.lit(False))
        )
    out_cols = keep_cols or [c for c in points.columns]

    # ONE scan, ONE broadcast join, ONE refine — fused, because the source
    # subtree is the expensive part (a 100 TB scan, or here heavy synthetic
    # generation): a branch-per-stage union re-executes it per branch
    # (measured 1.6-1.8x total wall on the 500M-row headline).
    res_list = [int(r) for r in sorted(cover_pdf["res"].unique())]
    cov = spark.createDataFrame(cover_pdf[["cell", "region_id", "is_boundary"]])
    # Materialize per-res cells as projected columns (single shared Morton
    # spread at res 26, per-res shift — cells.with_cell_columns) and explode
    # only the column references: Generate evaluates its expressions
    # interpreted (outside whole-stage codegen), so inlining the bit-math
    # there costs ~100x (measured 16s vs 0.14s on 2M rows).
    cell_cols = dict(cell_cols or {})
    missing = [r for r in res_list if r not in cell_cols]
    probe, new_names = C.with_cell_columns(
        points, lon, lat, missing, names=[f"_cell_r{r}" for r in missing]
    )
    cell_cols.update(dict(zip(missing, new_names)))
    refs = [cell_cols[r] for r in res_list]
    if coarse_prefilter:
        base_res = min(res_list)
        pre_res = base_res
        anc = {int(c) for c in C.cell_parent(cover_pdf["cell"].to_numpy(), pre_res)}
        # cap the InSet size by coarsening: a multi-thousand-literal isin()
        # spends minutes marshalling Columns through py4j and bloats the
        # generated code (the v_inset probe OOMed codegen near 4096
        # entries). Each level up shrinks the set ~4x and keeps the filter
        # an exact superset of matches.
        while len(anc) > MAX_PREFILTER_CELLS and pre_res > 1:
            pre_res -= 1
            anc = {
                int(c)
                for c in C.cell_parent(np.fromiter(anc, dtype=np.int64), pre_res)
            }
        pre_col = (
            F.col(cell_cols[base_res])
            if pre_res == base_res
            else C.cell_parent_expr(F.col(cell_cols[base_res]), base_res, pre_res)
        )
        # WHEN-GATED explode_outer, NOT a .where(): a Filter operator gets
        # predicate-pushed below the cell projections with the whole
        # morton-spread subtree SUBSTITUTED into the scan's DataFilters,
        # re-evaluated per row outside codegen — measured 17x slower at
        # 20M scan rows. A plain explode is no better: Spark's
        # InferFiltersFromGenerate infers `size(_arr) > 0` and pushes THAT
        # into the scan, inlining the same subtree. explode_outer defeats
        # the inference structurally (empties are kept, so nothing can be
        # inferred); non-candidates emit ONE null-key row that dies at the
        # inner join's null check instead of 5 probes — output identical,
        # scan clean (r5 measurements in BENCH/PLANS.md).
        # ONE py4j call for the whole InSet: Column.isin marshals one
        # literal per round trip (~0.4s of driver wall at 512 entries,
        # profiled r6); a server-side-parsed IN expression builds the same
        # In/InSet predicate in a single call.
        in_list = ",".join(str(int(c)) for c in sorted(anc))
        probe = (
            probe.withColumn("_pre", pre_col)
            .withColumn(
                "_arr",
                F.when(F.expr(f"_pre IN ({in_list})"), F.array(*refs)),
            )
            .withColumn("_cell", F.explode_outer(F.col("_arr")))
            .drop("_pre", "_arr", *new_names)
        )
    else:
        probe = probe.withColumn("_cell", F.explode(F.array(*refs))).drop(*new_names)
    cand = probe.join(F.broadcast(cov), probe["_cell"] == cov["cell"], "inner")
    # Interior-cell rows pass without the exact test (X2 staging); boundary
    # -cell rows take the exact refine. DEFAULT is refine='udf': the fused
    # `interior OR pip_udf(...)` predicate. Spark extracts the Python UDF
    # into an ArrowEvalPython stage BELOW the filter, so every candidate row
    # pays the Arrow round-trip — but this still measured fastest: the
    # split-cover union re-executes the source subtree per branch (1.6-1.8x
    # total wall), and the pure-Column unrolled even-odd expression
    # (geometry.pip_column, bit-exact) leaves whole-stage codegen and ran
    # ~9x worse at 134 edges (BENCH/PLANS.md r3). The Column path is OPT-IN:
    # refine='column', or 'auto' which picks it only when the cover is tiny
    # (n_edges <= MAX_COLUMN_EDGES).
    n_edges = sum(
        r.shape[0] for rings in rings_by_region.values()
        for r in rings if r.shape[0] >= 3
    )
    if refine == "column" or (refine == "auto" and n_edges <= MAX_COLUMN_EDGES):
        exact = G.pip_column(
            rings_by_region, F.col("region_id"), F.col(lon), F.col(lat)
        )
    else:
        rings_bc = spark.sparkContext.broadcast(
            {rid: [r for r in rings] for rid, rings in rings_by_region.items()}
        )
        exact = udfs.make_pip_udf(rings_bc)(
            F.col("region_id"), F.col(lon), F.col(lat)
        )
    kept = cand.where((~F.col("is_boundary")) | exact)
    return kept.select(*out_cols, "region_id")


REGIONS_DF_SCHEMA = "region_id long, wkb binary"
COVER_DF_SCHEMA = "region_id long, res int, cell long, is_boundary boolean"


def regions_to_df(spark: SparkSession, regions: list[dict]) -> DataFrame:
    """Lift a driver-side region list into the distributed representation
    used by the partitioned join path: geometry packed to a binary column
    (geometry.pack_rings — the WKB analogue; ragged nested arrays don't
    survive pyspark's Arrow->pandas conversion)."""
    rows = [
        (
            int(reg["region_id"]),
            G.pack_rings(
                G.normalize_rings(
                    FX.region_rings(reg) if "outer_rings" in reg else reg["rings"]
                )
            ),
        )
        for reg in regions
    ]
    return spark.createDataFrame(rows, REGIONS_DF_SCHEMA)


def build_cover_df(regions_df: DataFrame) -> DataFrame:
    """Distributed cover build: one mapInPandas pass over the region table —
    each region's cover is independent, so this scales with #regions instead
    of living on the driver (the large-boundary-set path)."""

    def gen(pdf_iter):
        for pdf in pdf_iter:
            for rid, blob in zip(pdf["region_id"], pdf["wkb"]):
                rings_np = G.unpack_rings(bytes(blob))
                res = G.adaptive_cover_res(rings_np, RES_LO, RES_HI, TARGET_CELLS)
                cells_arr, is_bnd = G.polygon_cover(rings_np, res, max_cells=TARGET_CELLS * 16)
                yield pd.DataFrame(
                    {
                        "region_id": np.int64(rid),
                        "res": np.int32(res),
                        "cell": cells_arr,
                        "is_boundary": is_bnd,
                    }
                )

    return regions_df.mapInPandas(gen, COVER_DF_SCHEMA)


def pip_join_partitioned(
    spark: SparkSession,
    points: DataFrame,
    regions_df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    keep_cols: list[str] | None = None,
    cell_cols: dict[int, str] | None = None,
) -> DataFrame:
    """Shuffle-partitioned PIP join — the fallback when the region set is too
    large to broadcast (SURVEY.md J1 'range-partitioned fallback').

    Same two-stage semantics as pip_join, different physical strategy:
      cover built distributed (build_cover_df), candidates via a cell-keyed
      shuffle join (AQE picks SMJ/SHJ; with a cell-bucketed fact table this
      becomes co-located), exact refine via applyInPandas grouped by region —
      each group carries its own rings through the join, no driver state,
      no broadcast of geometry.

    The cover is localCheckpoint()ed: the interior/boundary branches cannot
    share its exchange (the is_boundary filter pushes below the join and
    makes their cover subtrees differ — verified: the un-checkpointed plan
    rasterizes twice), and unlike persist() the checkpoint blocks are freed
    by ContextCleaner when the DataFrame is garbage-collected, so repeated
    calls in a long-lived session don't leak cache (the r1 persist did).
    """
    out_cols = keep_cols or list(points.columns)
    # lazy: the probe aggregate below is the first action and materializes
    # the checkpoint — an eager one would pay a separate rasterization job
    # before it
    cover = build_cover_df(regions_df).localCheckpoint(eager=False)
    # ONE probe job yields both the distinct resolutions and the total cell
    # count. The count matters because a checkpointed cover has no Catalyst
    # stats (LogicalRDD -> default huge size): without a hint the candidate
    # join plans as SMJ and SHUFFLES the exploded fact side — measured 3x
    # wall regression at 100M points x 256 regions (the 500M-row probe
    # shuffle against a 7 MB cover). Broadcast when it fits; only genuinely
    # giant covers pay the shuffle join.
    probe_rows = cover.groupBy("res").agg(F.count(F.lit(1)).alias("_n")).collect()
    res_rows = [r["res"] for r in probe_rows]
    cover_small = sum(r["_n"] for r in probe_rows) <= BROADCAST_COVER_MAX_CELLS

    cell_cols = dict(cell_cols or {})
    missing = sorted(r for r in res_rows if r not in cell_cols)
    probe, new_names = C.with_cell_columns(
        points, lon, lat, missing, names=[f"_cell_r{r}" for r in missing]
    )
    cell_cols.update(dict(zip(missing, new_names)))
    refs = [cell_cols[r] for r in sorted(res_rows)]
    probe = probe.withColumn("_cell", F.explode(F.array(*refs))).drop(*new_names)
    cov_sel = cover.select("cell", "region_id", "is_boundary")
    if cover_small:
        cov_sel = F.broadcast(cov_sel)
    cand = probe.join(cov_sel, probe["_cell"] == F.col("cell"), "inner")

    interior = cand.where(~F.col("is_boundary")).select(*out_cols, "region_id")
    boundary = cand.where(F.col("is_boundary")).join(regions_df, "region_id")

    carry = list(dict.fromkeys([*out_cols, lon, lat]))
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in boundary.select(*carry, "region_id").schema.fields
    )

    def refine(key, pdf):
        rings_np = G.unpack_rings(bytes(pdf["wkb"].iloc[0]))
        inside = G.points_in_rings(
            pdf[lon].to_numpy(dtype=np.float64), pdf[lat].to_numpy(dtype=np.float64), rings_np
        )
        return pdf.loc[inside, [*carry, "region_id"]]

    # SALTED group key: grouping by bare region_id would put every boundary
    # candidate of a region through ONE task — a country-sized boundary
    # crossing a metro cluster (10^8+ candidates at 10^12 points) serializes
    # the refine stage (VERDICT r2 weak #2). Salting on a hash of the cell id
    # fans each region into up to REFINE_SALT tasks; the rings are a
    # per-region CONSTANT carried on every row by the regions_df join, so
    # every salted group still unpacks them independently. Candidates of one
    # cell stay together (pmod of the same hash), keeping groups coherent.
    salt = F.pmod(F.xxhash64(F.col("_cell")), F.lit(REFINE_SALT))
    refined = (
        boundary.withColumn("_salt", salt)
        .groupBy("region_id", "_salt")
        .applyInPandas(refine, out_schema)
    )
    return interior.unionByName(refined.select(*out_cols, "region_id"))


def pip_join_bbox_prefilter(
    points: DataFrame, regions: list[dict], lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Cheap global bbox pre-filter (union of region bboxes) to push into the
    parquet scan ahead of pip_join — the reference's conjunctive
    boundary-AND-bbox predicate (settings.py:132-140, SURVEY.md P1)."""
    cond = None
    for reg in regions:
        rings = G.normalize_rings(
            [np.asarray(r) for r in (FX.region_rings(reg) if "outer_rings" in reg else reg["rings"])]
        )
        x0, y0, x1, y1 = G.polygon_bbox(rings)
        c = (
            (F.col(lon) >= x0)
            & (F.col(lon) <= x1)
            & (F.col(lat) >= y0)
            & (F.col(lat) <= y1)
        )
        cond = c if cond is None else (cond | c)
    return points.where(cond) if cond is not None else points
