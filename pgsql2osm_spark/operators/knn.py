"""kNN via cell-ring expansion — new capability per the north rule (J11).

The reference computes no nearest-neighbor queries; this operator extends its
cell-index machinery to kNN:

* ``knn_bruteforce`` — exact haversine top-k by broadcast cross join +
  window; the small-query-set baseline and the test oracle.
* ``knn_rings``      — scalable path: a per-cell count probe gives every
  query a provable upper bound on its k-th neighbor distance (the smallest
  Chebyshev cell disk holding >= k points), then ONE broadcast equi-join on
  the bounded candidate cell set + exact haversine + row_number top-k. Two
  jobs total; the fact table is never shuffled and never cross-joined.

Correctness: any point outside the candidate cells has a provable minimum
distance above the k-th-neighbor upper bound (see _kth_dist_upper_bound_m /
_cell_min_dist_m), so the exact top-k over candidates equals brute force.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import cells as C
from ..functions import geometry as G
from ..session import local_frame


def _haversine_col(lon1, lat1, lon2, lat2):
    """JVM-side haversine (meters) — same formula as geometry.haversine_m."""
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    h = (
        F.pow(F.sin((rlat2 - rlat1) / 2), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin((rlon2 - rlon1) / 2), 2)
    )
    return 2.0 * G.EARTH_R_M * F.asin(F.sqrt(F.least(h, F.lit(1.0))))


def knn_bruteforce(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    point_id: str = "image_id",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact kNN by broadcast cross join (queries side must be small).

    Output: (query_id, neighbor_id, rank, dist_m); ties broken by neighbor
    id so results are deterministic under any partitioning (SURVEY.md O1).
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id),
            F.col("lon").alias("_qlon"),
            F.col("lat").alias("_qlat"),
        )
    )
    joined = points.crossJoin(q).select(
        F.col(query_id),
        F.col(point_id).alias("neighbor_id"),
        _haversine_col(F.col("lon"), F.col("lat"), F.col("_qlon"), F.col("_qlat")).alias("dist_m"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("dist_m").asc(), F.col("neighbor_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "rank", "dist_m")
    )


def _kth_dist_upper_bound_m(r_k: np.ndarray, qlat: np.ndarray, res: int) -> np.ndarray:
    """Upper bound on the k-th neighbor distance when the Chebyshev disk of
    grid radius r_k around each query's cell holds >= k points: any point in
    that disk is reachable by a meridian leg (<= (r_k+1) cell heights) plus a
    parallel leg at the band latitude with the largest cosine."""
    cell_h = np.radians(180.0 / (1 << res))
    cell_w = np.radians(360.0 / (1 << res))
    dlat = (r_k + 1) * cell_h
    dlon = np.minimum((r_k + 1) * cell_w, np.pi)
    qlat_r = np.radians(qlat)
    # min |lat| over the band [qlat - dlat, qlat + dlat] maximizes cos
    lo, hi = qlat_r - dlat, qlat_r + dlat
    band_min_abs = np.where((lo <= 0) & (hi >= 0), 0.0, np.minimum(np.abs(lo), np.abs(hi)))
    return G.EARTH_R_M * (dlat + np.cos(np.minimum(band_min_abs, np.pi / 2)) * dlon)


def _cell_min_dist_m(
    qlon: float, qlat: float, lon0: np.ndarray, lat0: np.ndarray,
    lon1: np.ndarray, lat1: np.ndarray,
) -> np.ndarray:
    """Lower bound on haversine distance from a query point to anywhere in
    each [lon0,lon1]x[lat0,lat1] cell: max of the latitude-gap great circle
    and the longitude-gap bound from the haversine identity
    sin^2(d/2R) >= cos(phi1) cos(phi2) sin^2(dlam/2)."""
    lat_gap = np.maximum(0.0, np.maximum(lat0 - qlat, qlat - lat1))
    d_lat = G.EARTH_R_M * np.radians(lat_gap)
    # wrap-aware angular gap between qlon and [lon0, lon1]
    raw = np.maximum(0.0, np.maximum(lon0 - qlon, qlon - lon1))
    raw_wrapped = np.minimum(raw, 360.0 - np.maximum(lon1 - qlon, qlon - lon0))
    lon_gap = np.radians(np.clip(raw_wrapped, 0.0, 180.0))
    # smallest cos over the cell's lat range = cos at the extreme |lat|
    cell_max_abs = np.maximum(np.abs(lat0), np.abs(lat1))
    cos_prod = np.maximum(
        np.cos(np.radians(qlat)) * np.cos(np.radians(np.minimum(cell_max_abs, 90.0))), 0.0
    )
    d_lon = 2.0 * G.EARTH_R_M * np.arcsin(
        np.clip(np.sqrt(cos_prod) * np.sin(lon_gap / 2.0), 0.0, 1.0)
    )
    return np.maximum(d_lat, d_lon)


COARSE_PROBE_RES = 8  # 4^8 = 65,536 cells: the coarse-probe collect bound
# Bound on the cells a two-level probe's fine collect may bring to the driver.
MAX_FINE_CELLS = 4_000_000


def _query_keep_masks(
    cells: np.ndarray, counts: np.ndarray, qlon: np.ndarray, qlat: np.ndarray,
    k: int, res: int,
) -> list[np.ndarray]:
    """Per-query candidate-cell masks over (occupied cell, count) arrays:
    the smallest Chebyshev disk holding >= k points gives a PROVABLE upper
    bound U on the k-th distance (_kth_dist_upper_bound_m); kept cells are
    those whose minimum possible distance (_cell_min_dist_m) is <= U — any
    point outside them is provably farther than the k-th neighbor. Fewer
    than k points in total -> keep everything."""
    n_grid = 1 << res
    cx, cy = C.cell_to_xy(cells)
    lon0, lat0, lon1, lat1 = C.cell_bounds(cells)
    qx, qy = C.latlon_to_xy(qlon, qlat, res)
    masks = []
    for i in range(len(qlon)):
        dx = np.abs(cx - qx[i])
        cheb = np.maximum(np.minimum(dx, n_grid - dx), np.abs(cy - qy[i]))
        order = np.argsort(cheb, kind="stable")
        cum = np.cumsum(counts[order])
        pos = np.searchsorted(cum, k)
        if pos >= len(cum):
            masks.append(np.ones(len(cells), dtype=bool))
        else:
            u = _kth_dist_upper_bound_m(
                np.asarray([cheb[order[pos]]], dtype=np.float64), qlat[i : i + 1], res
            )[0]
            masks.append(
                _cell_min_dist_m(float(qlon[i]), float(qlat[i]), lon0, lat0, lon1, lat1)
                <= u
            )
    return masks


def knn_rings(
    spark: SparkSession,
    points: DataFrame,
    queries_pdf: pd.DataFrame,
    k: int,
    res: int = 7,
    point_id: str = "image_id",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact kNN via cell-count probes + one bounded candidate join — the
    scale path of SURVEY.md J11 (the r1 design ran one job per doubling
    ring round plus an unbounded cross-join fallback).

      job 1 (probe): per-cell point counts at ``res`` — map-side partial
        agg; only OCCUPIED cells come back.
      driver: per-query provable candidate masks (_query_keep_masks).
      job 2: broadcast equi-join on cell + exact haversine + window top-k.

    For res > COARSE_PROBE_RES the probe is TWO-LEVEL (VERDICT r3 'wrong
    #3': the single-level collect is bounded by 4^res): a coarse probe at
    res 8 (<= 65,536 rows) first computes per-query coarse candidate
    masks; the fine probe then aggregates ONLY cells whose res-8 parent is
    in the union of kept coarse cells (cells.cell_parent_sql + IN-list —
    the fact table still never shuffles), with the fine collect bounded a
    priori by sum(min(4^(res-8), n_coarse)) over kept coarse cells and
    guarded by ``MAX_FINE_CELLS``. Correctness: a fine cell outside every
    kept coarse cell has min-dist > its query's coarse U >= the k-th
    distance, so its points are provably excluded; the fine masks then
    tighten U on the restricted cell set.

    Worst case (query at a pole, or fewer than k points in total) degrades
    to an equi-join against ALL occupied cells — one full scan, never a
    cartesian product.

    queries_pdf: pandas DataFrame (query_id, lon, lat), small by
    construction. Output: (query_id, neighbor_id, rank, dist_m), rank ties
    broken by neighbor id (SURVEY.md O1 determinism).
    """
    nid_type = points.schema[point_id].dataType.simpleString()
    out_schema = f"{query_id} long, neighbor_id {nid_type}, rank int, dist_m double"
    if len(queries_pdf) == 0:
        return local_frame(spark, [], out_schema)
    qids = queries_pdf[query_id].to_numpy()
    qlon = queries_pdf["lon"].to_numpy(dtype=np.float64)
    qlat = queries_pdf["lat"].to_numpy(dtype=np.float64)

    pts = points.withColumn("_cell", C.cell_expr(F.col("lon"), F.col("lat"), res))
    fine = pts
    if res > COARSE_PROBE_RES:
        coarse = pts.withColumn(
            "_pcell", F.expr(C.cell_parent_sql("_cell", str(res), COARSE_PROBE_RES))
        )
        coarse_pdf = coarse.groupBy("_pcell").agg(F.count(F.lit(1)).alias("n")).toPandas()
        ccells = coarse_pdf["_pcell"].to_numpy(dtype=np.int64)
        ccounts = coarse_pdf["n"].to_numpy(dtype=np.int64)
        if len(ccells) == 0:
            return local_frame(spark, [], out_schema)
        cmasks = _query_keep_masks(ccells, ccounts, qlon, qlat, k, COARSE_PROBE_RES)
        union = np.zeros(len(ccells), dtype=bool)
        for m in cmasks:
            union |= m
        bound = int(
            np.minimum(ccounts[union], 1 << (2 * (res - COARSE_PROBE_RES))).sum()
        )
        if bound > MAX_FINE_CELLS:
            raise ValueError(
                f"fine probe could collect up to {bound} cells at res {res} "
                f"(> MAX_FINE_CELLS={MAX_FINE_CELLS}); lower res"
            )
        # one F.expr for the whole IN-list: Column.isin costs one py4j round
        # trip per literal (up to 65,536 here)
        kept_coarse = ",".join(str(int(c)) for c in ccells[union])
        fine = coarse.where(F.expr(f"_pcell IN ({kept_coarse})"))
    counts_pdf = fine.groupBy("_cell").agg(F.count(F.lit(1)).alias("n")).toPandas()
    cells = counts_pdf["_cell"].to_numpy(dtype=np.int64)
    counts = counts_pdf["n"].to_numpy(dtype=np.int64)
    if len(cells) == 0:
        return local_frame(spark, [], out_schema)

    masks = _query_keep_masks(cells, counts, qlon, qlat, k, res)
    cand_frames: list[pd.DataFrame] = []
    for i in range(len(qids)):
        cand_frames.append(
            pd.DataFrame(
                {
                    query_id: qids[i],
                    "_ccell": cells[masks[i]],
                    "_qlon": qlon[i],
                    "_qlat": qlat[i],
                }
            )
        )
    cand_df = local_frame(spark, pd.concat(cand_frames, ignore_index=True))
    hits = pts.join(F.broadcast(cand_df), pts["_cell"] == cand_df["_ccell"], "inner").select(
        F.col(query_id),
        F.col(point_id).alias("neighbor_id"),
        _haversine_col(F.col("lon"), F.col("lat"), F.col("_qlon"), F.col("_qlat")).alias(
            "dist_m"
        ),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("dist_m").asc(), F.col("neighbor_id").asc())
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "rank", "dist_m")
    )
