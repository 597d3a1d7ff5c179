"""Seeded benchmark inputs and the independent reference checks.

Every input is a pure function of the workload seed. The point-in-polygon
reference here is a plain numpy even-odd test written for the benchmark; it
shares no code with ``pgsql2osm_spark.functions.geometry``.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Dense "metro" disks (lon, lat, radius in degrees): the same 80/20 skew
# shape as sources.fixtures, so 20% of points fall into three small disks.
METROS = ((8.54, 47.37, 1.5), (-74.0, 40.7, 1.2), (139.7, 35.7, 1.0))

# cli_export boundary: a 7-vertex polygon over Europe that holds the first
# metro disk and about 14% of all points.
EUROPE = [(-28.0, 22.0), (30.0, 18.0), (58.0, 38.0), (55.0, 66.0),
          (20.0, 71.0), (-20.0, 66.0), (-32.0, 45.0)]

_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


def points_jvm(spark, n: int, seed: int, parts: int, sample_every: int = 1):
    """(image_id, lon, lat) generated JVM-side from ``spark.range`` and
    xxhash64 — no Python in the hot path. ``sample_every`` keeps only ids that
    are a multiple of it: exactly those points of the full input."""
    from pyspark.sql import functions as F

    df = spark.range(0, n, 1, parts)
    if sample_every > 1:
        df = df.where(F.col("id") % sample_every == 0)
    idc = F.col("id")

    def u(k):  # uniform [0, 1) with a 53-bit mantissa
        h = F.xxhash64(idc, F.lit(seed), F.lit(k))
        return F.shiftrightunsigned(h, 11).cast("double") / float(1 << 53)

    pick = F.xxhash64(idc, F.lit(seed), F.lit(3))
    metro = F.pmod(pick, F.lit(5)) == 0
    which = F.pmod(F.shiftrightunsigned(pick, 3), F.lit(len(METROS)))
    r = F.sqrt(u(4))
    theta = u(5) * float(2 * np.pi)
    mlon = mlat = F.lit(None).cast("double")
    for m, (cx, cy, rad) in enumerate(METROS):
        mlon = F.when(which == m, F.lit(cx) + r * rad * F.cos(theta)).otherwise(mlon)
        mlat = F.when(which == m, F.lit(cy) + r * rad * F.sin(theta)).otherwise(mlat)
    return df.select(
        F.format_string("img%012d", idc).alias("image_id"),
        F.when(metro, mlon).otherwise(u(1) * 360.0 - 180.0).alias("lon"),
        F.when(metro, mlat).otherwise(u(2) * 132.0 - 60.0).alias("lat"),
    )


def points_numpy(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """lon/lat with the same 80/20 world/metro skew, drawn with numpy."""
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-60.0, 72.0, n)
    metro = rng.random(n) < 0.2
    which = rng.integers(0, len(METROS), n)
    r = np.sqrt(rng.random(n))
    theta = rng.uniform(0.0, 2 * np.pi, n)
    for m, (cx, cy, rad) in enumerate(METROS):
        sel = metro & (which == m)
        lon[sel] = cx + r[sel] * rad * np.cos(theta[sel])
        lat[sel] = cy + r[sel] * rad * np.sin(theta[sel])
    return lon, lat


def write_points_parquet(path: str, lon: np.ndarray, lat: np.ndarray, files: int) -> None:
    """Write the points as ``files`` parquet files under directory ``path``."""
    import os

    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(lon), files + 1).astype(np.int64)
    for i in range(files):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        table = pa.table({
            "image_id": pa.array([f"img{k:012d}" for k in range(lo, hi)]),
            "lon": lon[lo:hi],
            "lat": lat[lo:hi],
        })
        pq.write_table(table, f"{path}/part-{i:03d}.parquet")


def write_geojson(path: str, ring: list[tuple[float, float]]) -> None:
    closed = [list(p) for p in ring] + [list(ring[0])]
    with open(path, "w") as f:
        json.dump({"type": "Polygon", "coordinates": [closed]}, f)


def documents(n: int, seed: int):
    """The ``documents`` table (doc_id, text, lang, source, n_chars) in the
    shape of the sf0.1 test data: 10-100 tokens from a 30-word vocabulary, 5%
    of documents end with a ``dup`` marker and a few are exact copies."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    n_tok = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(n_tok.sum()))
    ends = np.cumsum(n_tok)
    texts = [" ".join(_VOCAB[w] for w in words[e - k:e]) for e, k in zip(ends, n_tok)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] += " dup"
    for i in rng.choice(np.arange(n // 2, n), size=8, replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, size=n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def even_odd_inside(lon: np.ndarray, lat: np.ndarray, rings) -> np.ndarray:
    """Even-odd point-in-polygon over all rings (outer rings and holes)."""
    inside = np.zeros(len(lon), dtype=bool)
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        x0, y0 = ring[:, 0], ring[:, 1]
        x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
        for a, b, c, d in zip(x0, y0, x1, y1):
            if b == d:
                continue
            spans = (b > lat) != (d > lat)
            cross_x = (c - a) * (lat - b) / (d - b) + a
            inside ^= spans & (lon < cross_x)
    return inside


def region_counts(lon: np.ndarray, lat: np.ndarray, regions: list[dict]) -> dict[int, int]:
    """Points inside each fixture region (regions may nest, so a point can
    count for several)."""
    out = {}
    for reg in regions:
        rings = list(reg["outer_rings"]) + list(reg["inner_rings"])
        n = int(even_odd_inside(lon, lat, rings).sum())
        if n:
            out[int(reg["region_id"])] = n
    return out
