"""Deterministic synthetic fixtures (seed 42, no external data) — FIXTURES.md.

Generates the three fixture tables at any scale:

* ``images``        — the fact table per BASELINE.json input_hint:
  (image_id, bytes, w, h, fmt, caption, phash) + geotag (lon, lat). Skew is
  built in: 20% of points cluster in 3 dense "metro" disks — the skew driver
  for skew/adaptive-split tests (SURVEY.md X1).
* ``admin_polygons``— nested boundary dimension (level-2 parents containing
  level-4 children, with holes) — the analogue of the reference's negative-id
  multipolygon relations (/root/reference/pgsql2osm/settings.py:120-126).
* ``memberships``   — typed member graph (ref/role/type structs incl. R->R
  depth-2 edges and dangling refs) for closure-operator tests, mirroring
  planet_osm_rels.members / planet_osm_ways.nodes (README.md:207-226).

Everything derives from numpy PCG64(seed) — same rows at every call site.
"""

from __future__ import annotations

import numpy as np

from ..functions import imaging
from ..session import local_frame

SEED = 42
WORDS = (
    "alpine river harbor forest meadow granite lagoon plateau canyon mesa "
    "tundra delta atoll ridge summit valley glacier dune reef basin"
).split()

# Three dense "metro" disks: (lon, lat, radius_deg, share-weight).
METROS = [(8.54, 47.37, 1.5), (-74.0, 40.7, 1.2), (139.7, 35.7, 1.0)]


def gen_points(n: int, seed: int = SEED) -> tuple[np.ndarray, np.ndarray]:
    """Skewed lon/lat: 80% world-uniform, 20% concentrated in 3 metro disks."""
    rng = np.random.Generator(np.random.PCG64(seed))
    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-60.0, 72.0, n)
    n_metro = n // 5
    idx = rng.choice(n, size=n_metro, replace=False)
    which = rng.integers(0, len(METROS), n_metro)
    r = np.sqrt(rng.uniform(0.0, 1.0, n_metro))
    theta = rng.uniform(0.0, 2 * np.pi, n_metro)
    for m, (mlon, mlat, mrad) in enumerate(METROS):
        sel = which == m
        lon[idx[sel]] = mlon + r[sel] * mrad * np.cos(theta[sel])
        lat[idx[sel]] = mlat + r[sel] * mrad * np.sin(theta[sel])
    return lon, lat


def _gen_pixels(i: int, rng: np.random.Generator) -> np.ndarray:
    side = int(16 + (i % 4) * 16)  # 16..64 px
    yy, xx = np.mgrid[0:side, 0:side]
    base = np.stack(
        [
            (xx * 255 // max(side - 1, 1)),
            (yy * 255 // max(side - 1, 1)),
            ((xx + yy) * 255 // max(2 * side - 2, 1)),
        ],
        axis=-1,
    ).astype(np.int32)
    noise = rng.integers(-16, 17, size=base.shape)
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def gen_images_pandas(n: int, seed: int = SEED, with_pixels: bool = False):
    """The images fact table as a pandas DataFrame (drives images_df).

    Deterministic per (n, seed); pixel payloads are PCG64(seed ^ i)-seeded so
    each row is independently reproducible (needed for golden pixel parity).
    """
    import pandas as pd

    lon, lat = gen_points(n, seed)
    rows = []
    for i in range(n):
        rng = np.random.Generator(np.random.PCG64(seed ^ (i * 2654435761 + 1)))
        px = _gen_pixels(i, rng)
        fmt = "png" if i % 4 else "jpeg"
        data = imaging.encode_image(px, fmt)
        word = WORDS[i % len(WORDS)]
        rec = {
            "image_id": f"img{i:012d}",
            "bytes": data,
            "w": np.int32(px.shape[1]),
            "h": np.int32(px.shape[0]),
            "fmt": fmt,
            "caption": f"caption {i} {word} {WORDS[(i * 7) % len(WORDS)]}",
            "phash": np.int64(imaging.phash64(imaging.decode_image(data, fmt))),
            "lon": lon[i],
            "lat": lat[i],
        }
        if with_pixels:
            rec["pixels"] = px
        rows.append(rec)
    return pd.DataFrame(rows)


def images_df(spark, n: int = 1000, seed: int = SEED):
    """images fixture as a Spark DataFrame with the input_hint schema."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("caption", T.StringType()),
            T.StructField("phash", T.LongType()),
            T.StructField("lon", T.DoubleType()),
            T.StructField("lat", T.DoubleType()),
        ]
    )
    pdf = gen_images_pandas(n, seed)
    return local_frame(spark, pdf, schema)


def gen_points_slice(lo: int, hi: int, seed: int = SEED) -> tuple[np.ndarray, np.ndarray]:
    """Row-indexed deterministic points: position i is a pure function of
    (seed, i) so any slice can be generated independently on any executor
    (unlike gen_points, which is sequence-order dependent)."""
    i = np.arange(lo, hi, dtype=np.uint64)
    h1 = splitmix64(i + np.uint64(seed))
    h2 = splitmix64(h1)
    u1 = (h1 >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    u2 = (h2 >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    lon = u1 * 360.0 - 180.0
    lat = u2 * 132.0 - 60.0
    # 20% metro skew, chosen by hash bucket
    h3_ = splitmix64(h2)
    bucket = (h3_ % np.uint64(5)) == 0
    which = (h3_ >> np.uint64(3)) % np.uint64(len(METROS))
    r = np.sqrt((h3_ >> np.uint64(11)).astype(np.float64) / float(1 << 53))
    theta = ((splitmix64(h3_) >> np.uint64(11)).astype(np.float64) / float(1 << 53)) * 2 * np.pi
    for m, (mlon, mlat, mrad) in enumerate(METROS):
        sel = bucket & (which == m)
        lon[sel] = mlon + r[sel] * mrad * np.cos(theta[sel])
        lat[sel] = mlat + r[sel] * mrad * np.sin(theta[sel])
    return lon, lat


def splitmix64(x: np.ndarray) -> np.ndarray:
    """The splitmix64 finalizer over uint64 arrays (wrapping arithmetic):
    the point generator's and dedup's MinHash hash family."""
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        return x ^ (x >> np.uint64(31))


# ---------------------------------------------------------------------------
# Admin polygons (boundary dimension).
# ---------------------------------------------------------------------------


def gen_admin_polygons(n_regions: int = 12, seed: int = SEED) -> list[dict]:
    """Nested seeded polygons: level-2 parents, level-4 children inside them,
    2 regions get an inner hole (multipolygon inner/outer roles)."""
    rng = np.random.Generator(np.random.PCG64(seed + 7))
    out = []
    n_parents = max(2, n_regions // 4)
    rid = 0
    for p in range(n_parents):
        rid += 1
        cx = rng.uniform(-150, 150)
        cy = rng.uniform(-50, 60)
        radius = rng.uniform(8.0, 16.0)
        ring = _convexish_ring(cx, cy, radius, rng, n_vertices=14)
        holes = []
        if p < 2:
            holes.append(_convexish_ring(cx, cy, radius * 0.18, rng, n_vertices=8))
        out.append(
            {
                "region_id": rid,
                "name": f"region{rid}",
                "iso": f"ZZ-{rid:02d}",
                "admin_level": 2,
                "parent_id": None,
                "outer_rings": [ring.tolist()],
                "inner_rings": [h.tolist() for h in holes],
            }
        )
        parent_rid = rid
        n_children = (n_regions - n_parents) // n_parents
        for _ in range(n_children):
            rid += 1
            ang = rng.uniform(0, 2 * np.pi)
            dist = rng.uniform(0.1, 0.45) * radius
            child = _convexish_ring(
                cx + dist * np.cos(ang), cy + dist * np.sin(ang), radius * 0.25, rng, n_vertices=10
            )
            out.append(
                {
                    "region_id": rid,
                    "name": f"region{rid}",
                    "iso": f"ZZ-{rid:02d}",
                    "admin_level": 4,
                    "parent_id": parent_rid,
                    "outer_rings": [child.tolist()],
                    "inner_rings": [],
                }
            )
    return out


def _convexish_ring(cx: float, cy: float, radius: float, rng, n_vertices: int) -> np.ndarray:
    ang = np.sort(rng.uniform(0, 2 * np.pi, n_vertices))
    r = radius * rng.uniform(0.7, 1.0, n_vertices)
    lon = np.clip(cx + r * np.cos(ang), -179.9, 179.9)
    lat = np.clip(cy + r * np.sin(ang), -89.9, 89.9)
    return np.stack([lon, lat], axis=1)


def region_rings(region: dict) -> list[np.ndarray]:
    """All rings (outer + holes) of a region, for even-odd PIP."""
    rings = [np.asarray(r) for r in region["outer_rings"]]
    rings += [np.asarray(r) for r in region["inner_rings"]]
    return rings


def _rect(x0: float, y0: float, x1: float, y1: float) -> list:
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]


def gen_continent() -> list[dict]:
    """Deterministic synthetic CONTINENT for realistic multi-region CLI /
    partitioned-PIP tests (VERDICT r3 #6): a 3-level nested admin hierarchy
    of 53 regions spanning the ANTIMERIDIAN — pure arithmetic, no files,
    no RNG.

    Layout (lon in [-180, 180], the dateline split at +/-180):
    * region 1 (admin 1): the continent outline, split into TWO outer
      rings (lon [149.05, 180] and [-180, -152.05], lat [-32.95, 32.95]) —
      the standard representation real tooling emits after antimeridian
      cutting (ogr2ogr -wrapdateline, osmium extracts).
    * regions 2..14 (admin 2): 13 countries — 7 strips on the west half,
      5 on the east half, and country 14's id-order position 13 CROSSING
      the dateline itself (two rings, [178.05, 180] + [-180, -178.05]).
      Country 2 carries a lake hole (multipolygon inner role).
    * regions 15..53 (admin 4): 3 provinces nested inside each country
      (lat bands, 0.4deg margin); the dateline country's provinces are
      each two-ring as well.

    1 + 13 + 13*3 = 53 regions. Rectangle edges sit on x.05/x.95
    coordinates so test point grids on other fractions never touch a
    boundary (PIP edge cases are owned by tests/test_geometry.py)."""
    out = [{
        "region_id": 1, "name": "continent", "iso": "CN-00",
        "admin_level": 1, "parent_id": None,
        "outer_rings": [_rect(149.05, -32.95, 180.0, 32.95),
                        _rect(-180.0, -32.95, -152.05, 32.95)],
        "inner_rings": [],
    }]
    countries = []
    for k in range(7):  # west strips: [150.05, 178.05) in 4-deg columns
        countries.append(([_rect(150.05 + 4 * k, -29.95, 153.95 + 4 * k, 29.95)], []))
    for k in range(5):  # east strips: [-177.95, -157.95)
        countries.append(([_rect(-177.95 + 4 * k, -29.95, -174.05 + 4 * k, 29.95)], []))
    # dateline-crossing country: two rings hugging +/-180
    countries.append((
        [_rect(178.05, -29.95, 180.0, 29.95), _rect(-180.0, -29.95, -178.05, 29.95)],
        [],
    ))
    rid = 1
    for c, (outers, inners) in enumerate(countries, start=1):
        rid += 1
        crid = rid
        if c == 1:  # lake hole in the first country
            x0 = outers[0][0][0]
            inners = [_rect(x0 + 1.05, -3.95, x0 + 2.95, 3.95)]
        out.append({
            "region_id": crid, "name": f"country{c:02d}",
            "iso": f"C{c:02d}", "admin_level": 2, "parent_id": 1,
            "outer_rings": outers, "inner_rings": inners,
        })
        for p, (ylo, yhi) in enumerate([(-27.95, -10.05), (-9.95, 9.95), (10.05, 27.95)], 1):
            rid += 1
            prov = []
            for ring in outers:
                x0, x1 = ring[0][0], ring[1][0]
                # 0.4deg lon margin, except at the dateline edge itself
                mx0 = x0 + (0.0 if x0 == -180.0 else 0.4)
                mx1 = x1 - (0.0 if x1 == 180.0 else 0.4)
                prov.append(_rect(mx0, ylo, mx1, yhi))
            out.append({
                "region_id": rid, "name": f"province{c:02d}_{p}",
                "iso": f"C{c:02d}-{p}", "admin_level": 4, "parent_id": crid,
                "outer_rings": prov, "inner_rings": [],
            })
    return out


# ---------------------------------------------------------------------------
# Membership graph (closure fixtures).
# ---------------------------------------------------------------------------


def gen_memberships(seed: int = SEED) -> list[dict]:
    """Typed member edges incl. R->R nesting (depth 2 exactly — the reference
    stops its closure at 2 passes, pgsql2osm.py:316) and dangling refs (must
    be dropped by inner-join semantics, dbutils.py:34-36)."""
    rng = np.random.Generator(np.random.PCG64(seed + 13))
    rows = []
    # relations 9001..9008; ways 500..529; nodes 1..400
    for rel in range(9001, 9009):
        members = []
        n_ways = int(rng.integers(2, 5))
        for _ in range(n_ways):
            members.append({"ref": int(rng.integers(500, 530)), "role": "outer", "type": "W"})
        if rel % 3 == 0:
            members.append({"ref": int(rng.integers(1, 400)), "role": "admin_centre", "type": "N"})
        if rel in (9001, 9002):  # R->R nesting, depth 2
            members.append({"ref": rel + 4, "role": "subarea", "type": "R"})
        if rel == 9005:
            members.append({"ref": 999999, "role": "outer", "type": "W"})  # dangling
        tags = {"type": "multipolygon" if rel % 2 else "boundary", "name": f"rel{rel}"}
        rows.append({"parent_id": rel, "parent_kind": "R", "members": members, "tags": tags})
    for way in range(500, 530):
        nodes = rng.integers(1, 400, size=int(rng.integers(3, 9)))
        members = [{"ref": int(nid), "role": "", "type": "N"} for nid in nodes]
        tags = {"highway": "residential", "name": f"way{way}"}
        rows.append({"parent_id": way, "parent_kind": "W", "members": members, "tags": tags})
    return rows


MEMBER_SCHEMA = (
    "parent_id long, parent_kind string, "
    "members array<struct<ref:long, role:string, type:string>>, "
    "tags map<string,string>"
)


def memberships_df(spark, seed: int = SEED):
    rows = gen_memberships(seed)
    data = [
        (
            r["parent_id"],
            r["parent_kind"],
            [(m["ref"], m["role"], m["type"]) for m in r["members"]],
            r["tags"],
        )
        for r in rows
    ]
    return local_frame(spark, data, MEMBER_SCHEMA)
