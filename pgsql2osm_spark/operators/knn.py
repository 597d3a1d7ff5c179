"""kNN via cell-count probes — new capability per the north rule (J11).

The reference computes no nearest-neighbor queries; this operator extends its
cell-index machinery to kNN:

* ``knn_bruteforce`` — exact haversine top-k by broadcast cross join; the
  small-query-set baseline and the test oracle.
* ``knn_rings``      — scalable path: a per-cell point count at ``CELL_RES``
  gives every query a provable upper bound on its k-th neighbor distance
  (the smallest Chebyshev cell disk holding >= k points), then ONE broadcast
  equi-join on the bounded candidate cell set + exact haversine. Two jobs
  total; the fact table is never shuffled and never cross-joined.
* ``top_k``          — the one ranked top-k tail both use, and the cosine
  operators in similarity.py: ties broken by neighbor id (SURVEY.md O1).

Correctness: any point outside the candidate cells has a provable minimum
distance above the k-th-neighbor upper bound (see _kth_dist_upper_bound_m /
_cell_min_dist_m), so the exact top-k over candidates equals brute force.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import cells as C
from ..functions import geometry as G
from ..session import local_frame

# knn_rings' cell resolution: its count probe brings at most 4^7 = 16,384
# occupied cells to the driver.
CELL_RES = 7


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
    return top_k(joined, query_id, F.col("dist_m").asc(), k)


def top_k(cands: DataFrame, query_id: str, order: Column, k: int) -> DataFrame:
    """Each query's k best candidates: ``row_number`` per ``query_id`` over
    the caller's score ``order`` (a sort Column), ties broken by
    ``neighbor_id`` ascending, so ranks are deterministic under any
    partitioning (SURVEY.md O1). Output: (query_id, neighbor_id, rank, then
    the candidates' other columns)."""
    w = Window.partitionBy(query_id).orderBy(order, F.col("neighbor_id").asc())
    rest = [c for c in cands.columns if c not in (query_id, "neighbor_id")]
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "rank", *rest)
    )


def _kth_dist_upper_bound_m(r_k: np.ndarray, qlat: np.ndarray) -> np.ndarray:
    """Upper bound on the k-th neighbor distance when the Chebyshev disk of
    grid radius r_k around each query's cell holds >= k points: any point in
    that disk is reachable by a meridian leg (<= (r_k+1) cell heights) plus a
    parallel leg at the band latitude with the largest cosine."""
    cell_h = np.radians(180.0 / (1 << CELL_RES))
    cell_w = np.radians(360.0 / (1 << CELL_RES))
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


def _query_keep_masks(
    cells: np.ndarray, counts: np.ndarray, qlon: np.ndarray, qlat: np.ndarray, k: int
) -> list[np.ndarray]:
    """Per-query candidate-cell masks over (occupied cell, count) arrays:
    the smallest Chebyshev disk holding >= k points gives a PROVABLE upper
    bound U on the k-th distance (_kth_dist_upper_bound_m); kept cells are
    those whose minimum possible distance (_cell_min_dist_m) is <= U — any
    point outside them is provably farther than the k-th neighbor. Fewer
    than k points in total -> keep everything."""
    n_grid = 1 << CELL_RES
    cx, cy = C.cell_to_xy(cells)
    lon0, lat0, lon1, lat1 = C.cell_bounds(cells)
    qx, qy = C.latlon_to_xy(qlon, qlat, CELL_RES)
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
                np.asarray([cheb[order[pos]]], dtype=np.float64), qlat[i : i + 1]
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
    point_id: str = "image_id",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact kNN via a cell-count probe + one bounded candidate join — the
    scale path of SURVEY.md J11 (the r1 design ran one job per doubling
    ring round plus an unbounded cross-join fallback).

      job 1 (probe): per-cell point counts at ``CELL_RES`` — map-side
        partial agg; only OCCUPIED cells come back.
      driver: per-query provable candidate masks (_query_keep_masks).
      job 2: broadcast equi-join on cell + exact haversine + ``top_k``.

    Worst case (query at a pole, or fewer than k points in total) degrades
    to an equi-join against ALL occupied cells — one full scan, never a
    cartesian product.

    queries_pdf: pandas DataFrame (query_id, lon, lat), small by
    construction. Output: (query_id, neighbor_id, rank, dist_m).
    """
    nid_type = points.schema[point_id].dataType.simpleString()
    out_schema = f"{query_id} long, neighbor_id {nid_type}, rank int, dist_m double"
    if len(queries_pdf) == 0:
        return local_frame(spark, [], out_schema)
    qids = queries_pdf[query_id].to_numpy()
    qlon = queries_pdf["lon"].to_numpy(dtype=np.float64)
    qlat = queries_pdf["lat"].to_numpy(dtype=np.float64)

    pts, _ = C.with_cell_columns(points, "lon", "lat", [CELL_RES], ["_cell"])
    counts_pdf = pts.groupBy("_cell").agg(F.count(F.lit(1)).alias("n")).toPandas()
    cells = counts_pdf["_cell"].to_numpy(dtype=np.int64)
    counts = counts_pdf["n"].to_numpy(dtype=np.int64)
    if len(cells) == 0:
        return local_frame(spark, [], out_schema)

    masks = _query_keep_masks(cells, counts, qlon, qlat, k)
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
    return top_k(hits, query_id, F.col("dist_m").asc(), k)
