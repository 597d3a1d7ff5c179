"""Raster<->vector tile joins — new capability per the north rule (J12).

Bins decoded image pixels into web-mercator z/x/y tiles and joins them to
vector features keyed by the same tile. The image payload is decoded ONLY
inside this stage, Arrow batch at a time (mapInPandas), and pixels never
cross a shuffle — only (image_id, tile key, per-tile pixel stats) rows do
(SURVEY.md hard-part (b): never carry pixels through shuffles).

The streaming-serialization spirit of the reference's XML sink
(stream_osm_xml, /root/reference/pgsql2osm/pgsql2osm.py:437-450 — constant
memory, unordered output) carries over: tile rows stream out of each
partition; output order is not part of the contract (README.md:127-135).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geometry as G
from ..functions import imaging as I
from ..session import local_frame

TILE_STATS_SCHEMA = (
    "image_id string, z int, x long, y long, "
    "px_count long, mean_r double, mean_g double, mean_b double, phash long"
)


def image_tile_stats(images: DataFrame, z: int) -> DataFrame:
    """Decode each image and emit one row per image with its z/x/y tile and
    pixel statistics (the raster side of the raster<->vector join).

    The image's geotag anchors it to one tile at zoom z; pixel stats come
    from the real decode (PNG exact / baseline JPEG). mapInPandas keeps the
    decode vectorized per Arrow batch and bounds memory via
    spark.sql.execution.arrow.maxRecordsPerBatch.
    """

    def decode_batches(pdf_iter):
        for pdf in pdf_iter:
            xt, yt = G.lonlat_to_tile(
                pdf["lon"].to_numpy(dtype=np.float64), pdf["lat"].to_numpy(dtype=np.float64), z
            )
            n = len(pdf)
            means = np.zeros((n, 3), dtype=np.float64)
            counts = np.zeros(n, dtype=np.int64)
            hashes = np.zeros(n, dtype=np.int64)
            for i, (data, fmt) in enumerate(zip(pdf["bytes"], pdf["fmt"])):
                px = I.decode_image(bytes(data), fmt)
                means[i] = px.reshape(-1, 3).mean(axis=0)
                counts[i] = px.shape[0] * px.shape[1]
                hashes[i] = I.phash64(px)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "z": np.int32(z),
                    "x": xt,
                    "y": yt,
                    "px_count": counts,
                    "mean_r": means[:, 0],
                    "mean_g": means[:, 1],
                    "mean_b": means[:, 2],
                    "phash": hashes,
                }
            )

    return images.select("image_id", "bytes", "fmt", "lon", "lat").mapInPandas(
        decode_batches, TILE_STATS_SCHEMA
    )


def tile_key_expr(df: DataFrame, z: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Attach z/x/y tile columns via pure JVM math (no decode needed) — the
    cheap path when only tile KEYS are required (e.g. joining points to
    vector tiles without touching pixel payloads)."""
    x, y = G.tile_expr(F.col(lon), F.col(lat), z)
    return df.withColumn("z", F.lit(z).cast("int")).withColumn("x", x).withColumn("y", y)


def region_tiles(regions: list[dict], z: int) -> pd.DataFrame:
    """Vector side: tiles covered by each region polygon at zoom z (driver
    side, broadcastable). Rasterizes every tile overlapping each cover cell
    (the full tile RANGE from the cell's bounds — a cell coarser than a tile
    spans several tiles, and a center-only mapping would silently drop the
    others)."""
    from .spatial_join import normalized_rings

    rows = []
    eps = 1e-9
    for reg in regions:
        rings = normalized_rings(reg)
        res = G.adaptive_cover_res(rings, res_lo=max(z - 1, 1), res_hi=z + 2, target_cells=8192)
        cells_arr, _ = G.polygon_cover(rings, res, max_cells=131072)
        from ..functions import cells as C

        lon0, lat0, lon1, lat1 = C.cell_bounds(cells_arr)
        x0, y1 = G.lonlat_to_tile(lon0 + eps, lat0 + eps, z)  # y grows southward
        x1, y0 = G.lonlat_to_tile(lon1 - eps, lat1 - eps, z)
        seen = set()
        for a0, a1, b0, b1 in zip(x0, x1, y0, y1):
            for vx in range(int(a0), int(a1) + 1):
                for vy in range(int(b0), int(b1) + 1):
                    seen.add((vx, vy))
        for vx, vy in seen:
            rows.append((int(reg["region_id"]), np.int32(z), vx, vy))
    return pd.DataFrame(rows, columns=["region_id", "z", "x", "y"]).drop_duplicates()


FRAME_SCHEMA = "media_id string, frame_idx int, frame binary"


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Multimodal frame-sample op for video payloads.

    The Spark-side plumbing (schema, mapInPandas batching, partitioning) is
    real; the video DECODER is a stub — no video codec ships in this
    container. fmt='fakevideo' payloads (concatenated PNG frames with a
    4-byte count header) decode for real, so the operator is fully tested;
    any other fmt raises NotImplementedError at the decode seam."""
    import pandas as pd
    import struct

    def run(pdf_iter):
        for pdf in pdf_iter:
            out_ids, out_idx, out_frames = [], [], []
            for mid, data, fmt in zip(pdf["media_id"], pdf["bytes"], pdf["fmt"]):
                if fmt != "fakevideo":
                    raise NotImplementedError(
                        f"fmt={fmt!r}: plug a real video decoder in here; only the "
                        "deterministic 'fakevideo' container decodes in this sandbox"
                    )
                buf = bytes(data)
                (n_frames,) = struct.unpack(">I", buf[:4])
                pos = 4
                for i in range(n_frames):
                    (ln,) = struct.unpack(">I", buf[pos : pos + 4])
                    frame = buf[pos + 4 : pos + 4 + ln]
                    pos += 4 + ln
                    if i % every_n == 0:
                        out_ids.append(mid)
                        out_idx.append(np.int32(i))
                        out_frames.append(frame)
            yield pd.DataFrame(
                {"media_id": out_ids, "frame_idx": out_idx, "frame": out_frames}
            )

    return media.select("media_id", "bytes", "fmt").mapInPandas(run, FRAME_SCHEMA)


def pack_fakevideo(frames: list[np.ndarray]) -> bytes:
    """Build a deterministic 'fakevideo' container (PNG frame sequence)."""
    import struct

    parts = [struct.pack(">I", len(frames))]
    for f in frames:
        enc = I.png_encode(f)
        parts.append(struct.pack(">I", len(enc)))
        parts.append(enc)
    return b"".join(parts)


def raster_vector_join(
    spark, images: DataFrame, regions: list[dict], z: int, decode: bool = True
) -> DataFrame:
    """Equi-join decoded raster tiles with region vector tiles on (z, x, y).

    decode=True runs the real pixel path; decode=False joins on tile keys
    only (pure JVM) — the two cost tiers of SURVEY.md J12.
    """
    raster = image_tile_stats(images, z) if decode else tile_key_expr(images, z)
    vec = F.broadcast(local_frame(spark, region_tiles(regions, z)))
    return raster.join(vec, ["z", "x", "y"], "inner")
