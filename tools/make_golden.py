"""Generate committed golden outputs (FIXTURES.md §4).

Two sections:
1. test goldens (golden/*.parquet) — from the NUMPY oracles, independent of
   the Spark engine, so tests catch engine drift.
2. driver-oracle goldens (golden/oracle/*.parquet + golden/fixtures/*) — the
   engine-only queries of __spark_entry__ (multi-res cover, ring kNN, image
   decode, LSH...) pinned to parquet so oracle_sql() can expose them to the
   driver's DuckDB cross-check. ALL are VERIFIED at generation time
   against an independent recomputation with a deliberately different
   formulation (division-form even-odd PIP, atan2 haversine, pure-python
   xxh64 simhash, scalar FNV/splitmix minhash, asinh mercator, per-bit
   morton, scalar cube-face s2, python set-closure export, 1-D audio
   windows; r4 closed the last two pins: ann_ivf via a scalar fsum IVF
   recompute with >=1e-9 argmax-margin asserts, image_decode_stats via a
   second scalar CRC-checking PNG decoder + scalar phash with bit-margin
   asserts). A margin-assert failure aborts generation loudly instead of
   pinning an unstable golden.

Usage: python tools/make_golden.py            (test goldens only)
       python tools/make_golden.py --oracle   (both; needs a Spark session)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pgsql2osm_spark.functions import geometry as G
from pgsql2osm_spark.sources import fixtures as FX

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "golden")
N_POINTS = 4000
N_KNN_QUERIES = 12
K = 5


def main():
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    lon, lat = FX.gen_points_slice(0, N_POINTS)
    ids = np.arange(N_POINTS)

    # join_rows: brute-force even-odd PIP over every (point, region)
    regions = FX.gen_admin_polygons(12)
    rows = []
    for reg in regions:
        inside = G.points_in_rings(lon, lat, FX.region_rings(reg))
        for i in np.nonzero(inside)[0]:
            rows.append((int(ids[i]), int(reg["region_id"])))
    pd.DataFrame(rows, columns=["idx", "region_id"]).sort_values(
        ["idx", "region_id"]
    ).reset_index(drop=True).to_parquet(f"{GOLDEN_DIR}/join_rows.parquet")

    # tile_assign at z in {7, 12}
    frames = []
    for z in (7, 12):
        xt, yt = G.lonlat_to_tile(lon, lat, z)
        frames.append(pd.DataFrame({"idx": ids, "z": np.int32(z), "x": xt, "y": yt}))
    pd.concat(frames, ignore_index=True).to_parquet(f"{GOLDEN_DIR}/tile_assign.parquet")

    # knn: exact haversine brute force, ties by neighbor id
    rng = np.random.default_rng(5)
    qlon = rng.uniform(-170, 170, N_KNN_QUERIES)
    qlat = rng.uniform(-55, 65, N_KNN_QUERIES)
    out = []
    for q in range(N_KNN_QUERIES):
        d = G.haversine_m(lon, lat, qlon[q], qlat[q])
        order = np.lexsort((ids, d))[:K]
        for r, i in enumerate(order, 1):
            out.append((q, int(ids[i]), r))
    pd.DataFrame(out, columns=["query_id", "neighbor_id", "rank"]).to_parquet(
        f"{GOLDEN_DIR}/knn.parquet"
    )
    print(f"golden written to {GOLDEN_DIR}")


# ---------------------------------------------------------------------------
# Independent recomputations for the oracle goldens (deliberately different
# formulations from the engine kernels).
# ---------------------------------------------------------------------------


def _indep_point_in_rings(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd PIP, per-edge accumulation with the classic division form —
    NOT the engine's vectorized (N, M) _crossings kernel."""
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        m = len(r)
        for j in range(m):
            x0, y0 = r[j]
            x1, y1 = r[(j + 1) % m]
            if y0 == y1:
                continue
            cond = (y0 > py) != (y1 > py)
            if not cond.any():
                continue
            xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
            inside ^= cond & (px < xint)
    return inside


def _indep_haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Haversine via the atan2 formulation (engine uses asin)."""
    R = 6_371_008.8
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dp / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2.0) ** 2
    return 2.0 * R * np.arctan2(np.sqrt(a), np.sqrt(1.0 - a))


def _check_pip_counts(pdf: pd.DataFrame, n_points: int, n_regions: int) -> None:
    lon, lat = FX.gen_points_slice(0, n_points)
    exp = {}
    for reg in FX.gen_admin_polygons(n_regions):
        rings = G.normalize_rings(FX.region_rings(reg))
        n = int(_indep_point_in_rings(lon, lat, rings).sum())
        if n:
            exp[int(reg["region_id"])] = n
    got = {int(r.region_id): int(r.n) for r in pdf.itertuples()}
    assert got == exp, f"PIP counts mismatch: got {got} exp {exp}"


def _check_knn_rings(pdf: pd.DataFrame) -> None:
    n = 5000
    lon, lat = FX.gen_points_slice(0, n)
    ids = np.asarray([f"img{i:012d}" for i in range(n)])
    rng = np.random.default_rng(5)
    queries = pd.DataFrame(
        {"query_id": np.arange(8), "lon": rng.uniform(-170, 170, 8), "lat": rng.uniform(-55, 65, 8)}
    )
    exp = set()
    for q in queries.itertuples():
        d = _indep_haversine_m(lon, lat, q.lon, q.lat)
        order = np.lexsort((ids, d))[:5]
        # guard: the top-5 boundary must clear libm/formulation rounding noise,
        # otherwise the asin-vs-atan2 difference could flip a rank
        ds = np.sort(d)
        assert (np.diff(ds[:6]) / np.maximum(ds[1:6], 1.0) > 1e-9).all(), (
            f"query {q.query_id}: rank margin too small for a robust golden"
        )
        exp |= {(int(q.query_id), str(ids[i]), r) for r, i in enumerate(order, 1)}
    got = {(int(r.query_id), str(r.neighbor_id), int(r.rank)) for r in pdf.itertuples()}
    assert got == exp, f"knn mismatch: {sorted(got ^ exp)[:6]}"


def _check_phash_pairs(pdf: pd.DataFrame) -> None:
    imgs = FX.gen_images_pandas(128)
    ph = imgs["phash"].to_numpy(dtype=np.int64).astype(np.uint64)
    ids = imgs["image_id"].tolist()
    all_ids = ids + [f"dup_{i}" for i in ids[:4]]
    all_ph = np.concatenate([ph, ph[:4]])
    exp = set()
    for i in range(len(all_ids)):
        for j in range(len(all_ids)):
            if all_ids[i] < all_ids[j]:
                h = bin(int(all_ph[i] ^ all_ph[j])).count("1")
                if h <= 2:
                    exp.add((all_ids[i], all_ids[j]))
    got = {(r.id_a, r.id_b) for r in pdf.itertuples()}
    assert got == exp, f"phash pairs mismatch: {sorted(got ^ exp)[:6]}"


def _check_embedding_near_dups(pdf: pd.DataFrame, sf_dir: str) -> None:
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    vids = emb["vec_id"].to_numpy()
    keep = vids < 10
    all_vecs = np.vstack([vecs, vecs[keep]])
    all_ids = np.concatenate([vids, vids[keep] + 1000000])
    # similarity.N_TABLES = 2: candidate iff within hamming 2 in EITHER plane set
    sigs_t = []
    for seed in (42, 43):
        rng = np.random.Generator(np.random.PCG64(seed))
        planes = rng.standard_normal((32, all_vecs.shape[1]))
        sigs_t.append((all_vecs @ planes.T) > 0)
    norms = np.linalg.norm(all_vecs, axis=1)
    exp = set()
    for i in range(len(all_ids)):
        hit = np.zeros(len(all_ids), dtype=bool)
        for sigs in sigs_t:
            hit |= (sigs != sigs[i]).sum(axis=1) <= 2
        cand = np.nonzero(hit & (all_ids > all_ids[i]))[0]
        for j in cand:
            c = float(all_vecs[i] @ all_vecs[j] / (norms[i] * norms[j]))
            if c >= 0.999:
                exp.add((int(all_ids[i]), int(all_ids[j])))
    got = {(int(r.id_a), int(r.id_b)) for r in pdf.itertuples()}
    assert got == exp, f"embedding near-dup mismatch: {sorted(got ^ exp)[:6]}"


# --- pure-python xxHash64 (public XXH64 spec; seed 42 = Spark's xxhash64
# default) — scalar reference for the simhash validators, bit-parity with
# Spark verified on strings incl. empty/multibyte/32+-byte inputs ---

_M64 = (1 << 64) - 1
_XP1, _XP2, _XP3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_XP4, _XP5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64(data: bytes, seed: int = 42) -> int:
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _XP1 + _XP2) & _M64, (seed + _XP2) & _M64, seed & _M64,
             (seed - _XP1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i:i + 8], "little")
                i += 8
                v[j] = (_rotl((v[j] + lane * _XP2) & _M64, 31) * _XP1) & _M64
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for j in range(4):
            k = (_rotl((v[j] * _XP2) & _M64, 31) * _XP1) & _M64
            h = ((h ^ k) * _XP1 + _XP4) & _M64
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = (_rotl((int.from_bytes(data[i:i + 8], "little") * _XP2) & _M64, 31) * _XP1) & _M64
        h = (_rotl(h ^ k, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (int.from_bytes(data[i:i + 4], "little") * _XP1) & _M64, 23)
             * _XP2 + _XP3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * _XP5) & _M64, 11) * _XP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h


def _signed64(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def _indep_simhash(text: str) -> int:
    """Scalar-python simhash: re.split tokens, xxh64 per token, per-bit
    majority loop — vs the engine's JVM xxhash64 + one vectorized numpy
    fold over Arrow batches (dedup.simhash_col)."""
    import re

    t = (text or "").strip().lower()
    toks = re.split(r"\s+", t) if t else []
    counts = [0] * 64
    for tok in toks:
        h = _xxh64(tok.encode("utf-8"))
        for b in range(64):
            counts[b] += 1 if (h >> b) & 1 else -1
    val = 0
    for b in range(64):
        if counts[b] > 0:
            val |= 1 << b
    return _signed64(val)


def _docs(sf_dir: str) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]


def _check_simhash_near_dups(pdf: pd.DataFrame, sf_dir: str) -> None:
    docs = _docs(sf_dir)
    rows = [(int(r.doc_id), r.text) for r in docs.itertuples()]
    rows += [(int(r.doc_id) + 1000000, r.text + " xq")
             for r in docs.itertuples() if r.doc_id < 15]
    # zero-token docs are excluded before pairing, as simhash_near_dups does
    hashed = [(i, _indep_simhash(t)) for i, t in rows if (t or "").strip()]
    exp = set()
    for a in range(len(hashed)):
        for b in range(a + 1, len(hashed)):
            (ia, ha), (ib, hb) = hashed[a], hashed[b]
            d = bin((ha ^ hb) & _M64).count("1")
            if d <= 3:
                exp.add((min(ia, ib), max(ia, ib), d))
    got = {(int(r.id_a), int(r.id_b), int(r.hamming)) for r in pdf.itertuples()}
    assert got == exp, f"simhash pairs mismatch: {sorted(got ^ exp)[:4]}"


def _splitmix_py(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def _check_minhash_pairs(pdf: pd.DataFrame, sf_dir: str) -> None:
    """Scalar per-doc recompute of signature + banding + dict buckets — vs
    the engine's cross-document vectorized reduceat signature and
    distributed bucket join (catches window-masking / padding / reduceat
    offset bugs in the vectorized path)."""
    n_hashes, bands, k = 64, 8, 5
    rpb = n_hashes // bands
    seeds = [_splitmix_py(s) for s in range(1, n_hashes + 1)]
    docs = _docs(sf_dir)
    rows = [(int(r.doc_id), r.text) for r in docs.itertuples()]
    rows += [(int(r.doc_id) + 1000000, r.text + " tail")
             for r in docs.itertuples() if r.doc_id < 20]
    buckets: dict = {}
    for did, text in rows:
        e = (text or "").lower().encode("utf-8")
        if len(e) < k:
            e = e.ljust(k, b"\x00")
        bases = set()
        for p in range(len(e) - k + 1):
            h = 0xCBF29CE484222325
            for c in e[p:p + k]:
                h = ((h ^ c) * 0x100000001B3) & _M64
            bases.add(h)
        sig = [min(_splitmix_py(b ^ seeds[s]) for b in bases) for s in range(n_hashes)]
        for band in range(bands):
            v = band
            for j in range(rpb):
                v = _splitmix_py(v ^ sig[band * rpb + j])
            buckets.setdefault((band, v), []).append(did)
    exp = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                exp.add((ids[a], ids[b]))
    got = {(int(r.id_a), int(r.id_b)) for r in pdf.itertuples()}
    assert got == exp, f"minhash pairs mismatch: {sorted(got ^ exp)[:4]}"


def _morton_py(x: int, y: int) -> int:
    """Per-bit interleave — vs the engine's spread-mask vectorization."""
    m = 0
    for b in range(32):
        m |= ((x >> b) & 1) << (2 * b)
        m |= ((y >> b) & 1) << (2 * b + 1)
    return m


def _check_streaming_tiles(pdf: pd.DataFrame, sf_dir: str) -> None:
    """Batch recompute of the watermarked streaming aggregation in plain
    python: tumbling 5-min windows + z9 slippy tiles (asinh-mercator — a
    different formulation from the engine's JVM ln(tan+sec)) + res-7
    equirectangular cells (per-bit morton). The replay drains completely,
    so the streaming output must equal the batch group-by exactly."""
    import math

    from pgsql2osm_spark.sources import fixtures as FX2

    n, z, res = 4000, 9, 7
    lon, lat = FX2.gen_points_slice(0, n)
    base = pd.Timestamp("2026-01-01")
    exp: dict = {}
    nz = 1 << z
    nr = 1 << res
    for i in range(n):
        ts = base + pd.Timedelta(seconds=int(i % 900))
        wstart = base + pd.Timedelta(seconds=(int(i % 900) // 300) * 300)
        la = min(max(float(lat[i]), -85.05112878), 85.05112878)
        xt = min(max(int(math.floor((float(lon[i]) + 180.0) / 360.0 * nz)), 0), nz - 1)
        merc = math.asinh(math.tan(math.radians(la)))
        yt = min(max(int(math.floor((1.0 - merc / math.pi) / 2.0 * nz)), 0), nz - 1)
        # guard: the two mercator formulations must agree (rounding margin)
        merc2 = math.log(math.tan(math.radians(la)) + 1.0 / math.cos(math.radians(la)))
        yt2 = min(max(int(math.floor((1.0 - merc2 / math.pi) / 2.0 * nz)), 0), nz - 1)
        assert yt == yt2, f"mercator formulation flip at point {i}"
        cx = min(max(int(math.floor((float(lon[i]) + 180.0) / 360.0 * nr)), 0), nr - 1)
        cy = min(max(int(math.floor((float(lat[i]) + 90.0) / 180.0 * nr)), 0), nr - 1)
        h3 = _signed64((res << 56) | _morton_py(cx, cy))
        key = (str(wstart), z, xt, yt, h3)
        exp[key] = exp.get(key, 0) + 1
    got = {(r.w_start, int(r.z), int(r.x), int(r.y), int(r.h3)): int(r.n)
           for r in pdf.itertuples()}
    assert got == exp, (
        f"streaming tiles mismatch: {sorted(set(got) ^ set(exp))[:4] or 'counts differ'}"
    )


def _check_export_pipeline(pdf: pd.DataFrame, sf_dir: str) -> None:
    """Plain-python closure walk + tag merge + coordinate join over the
    membership fixture — sets, dict merges and loops instead of the engine's
    joins/windows (closure.nwr_within_closure + attributes.export_rows)."""
    from pgsql2osm_spark.sources import fixtures as FX2

    mships = FX2.gen_memberships()
    rels = {r["parent_id"]: r for r in mships if r["parent_kind"] == "R"}
    ways = {r["parent_id"]: r for r in mships if r["parent_kind"] == "W"}
    seed_nodes = set(range(1, 120))
    seed_ways = {503, 507}
    seed_rels = {9001, 9002, 9006}

    # rels_children_closure: exactly 2 passes, frontier = nested rels
    collected: set = set()
    frontier = set(seed_rels)
    for _ in range(2):
        members = [(m["type"], m["ref"]) for rid in frontier if rid in rels
                   for m in rels[rid]["members"]]
        collected.update(members)
        frontier = {ref for t, ref in members if t == "R"}
    parent_ways = {w for w, r in ways.items()
                   if any(m["type"] == "N" and m["ref"] in seed_nodes for m in r["members"])}
    parent_rels = {rid for rid, r in rels.items()
                   if any(m["type"] == "N" and m["ref"] in seed_nodes for m in r["members"])}
    ways_pre = seed_ways | {ref for t, ref in collected if t == "W"}
    all_ways = ways_pre | parent_ways
    all_rels = seed_rels | {ref for t, ref in collected if t == "R"} | parent_rels
    all_nodes = set(seed_nodes) | {ref for t, ref in collected if t == "N"}
    for w in ways_pre:   # way-node expansion BEFORE parents (reference order)
        if w in ways:
            all_nodes.update(m["ref"] for m in ways[w]["members"] if m["type"] == "N")

    # attribute cascade: parents source (prio 0) then synthetic nodes (prio 1)
    lon, lat = FX2.gen_points_slice(0, 400)
    exp = {}
    for kind, ids in (("N", all_nodes), ("W", all_ways), ("R", all_rels)):
        for i in sorted(ids):
            if kind == "N":
                if not 1 <= i < 400:
                    continue  # no attribute row -> inner-join drop (J10)
                tags = {"ele": str(i % 100)}
                if i % 7 == 0:
                    tags["amenity"] = "bench"
                if i > 400:
                    continue  # no coordinate row
                exp[("N", i)] = (len(tags), round(float(lon[i - 1]), 10),
                                 round(float(lat[i - 1]), 10))
            else:
                src = ways if kind == "W" else rels
                if i not in src:
                    continue  # dangling ref dropped
                tags = {"fixture": "1", **src[i]["tags"]}
                exp[(kind, i)] = (len(tags), -999.0, -999.0)
    got = {(r.kind, int(r.id)): (int(r.n_tags), float(r.lon), float(r.lat))
           for r in pdf.itertuples()}
    assert set(got) == set(exp), f"export keys: {sorted(set(got) ^ set(exp))[:6]}"
    for k in exp:
        ge, ee = got[k], exp[k]
        assert ge[0] == ee[0], f"{k}: n_tags {ge[0]} != {ee[0]}"
        assert abs(ge[1] - ee[1]) < 1e-9 and abs(ge[2] - ee[2]) < 1e-9, f"{k}: coords"


def _check_audio_features(pdf: pd.DataFrame, sf_dir: str) -> None:
    """1-D python/numpy window loops vs the engine's reshaped 2-D batch
    math inside mapInPandas."""
    rng = np.random.default_rng(7)
    exp_keys, exp_vals = set(), {}
    for i in range(32):
        n = int(rng.integers(3000, 12000))
        s = (rng.standard_normal(n) * 4000).astype(np.int16)
        f = s.astype(np.float64) / 32768.0
        for w in range(len(f) // 1024):
            seg = f[w * 1024:(w + 1) * 1024]
            key = (f"a{i:03d}", w)
            exp_keys.add(key)
            exp_vals[key] = (
                float(np.sqrt((seg * seg).mean())),
                float((np.diff(np.signbit(seg)) != 0).mean()),
                float(np.abs(seg).max()),
            )
    got_keys = {(r.audio_id, int(r.win)) for r in pdf.itertuples()}
    assert got_keys == exp_keys, f"audio keys: {sorted(got_keys ^ exp_keys)[:4]}"
    for r in pdf.itertuples():
        e = exp_vals[(r.audio_id, int(r.win))]
        assert (abs(r.rms - e[0]) < 1e-12 and abs(r.zcr - e[1]) < 1e-12
                and abs(r.peak - e[2]) < 1e-12), f"audio values at {r.audio_id}/{r.win}"


def _check_video_frames(pdf: pd.DataFrame, sf_dir: str) -> None:
    """Independent python struct-walk of the same fakevideo containers —
    no engine frame_sample; zlib.crc32 vs the engine's JVM F.crc32."""
    import struct
    import zlib

    from pgsql2osm_spark.operators import tiling as TL

    imgs = FX.gen_images_pandas(24, with_pixels=True)
    exp = set()
    for v in range(4):
        frames = [np.asarray(imgs["pixels"][6 * v + i]) for i in range(6)]
        buf = TL.pack_fakevideo(frames)
        (n_frames,) = struct.unpack(">I", buf[:4])
        pos = 4
        for i in range(n_frames):
            (ln,) = struct.unpack(">I", buf[pos:pos + 4])
            frame = buf[pos + 4:pos + 4 + ln]
            pos += 4 + ln
            if i % 2 == 0:
                exp.add((f"vid{v:03d}", i, ln, zlib.crc32(frame) & 0xFFFFFFFF))
    got = {(r.media_id, int(r.frame_idx), int(r.n_bytes), int(r.crc))
           for r in pdf.itertuples()}
    assert got == exp, f"video frames mismatch: {sorted(got ^ exp)[:4]}"


def _check_s2(pdf: pd.DataFrame, sf_dir: str) -> None:
    """Scalar-python cube-face projection + per-bit morton vs the engine's
    vectorized numpy kernel (cells.s2_encode inside a pandas UDF)."""
    import math

    cust = pd.read_parquet(f"{sf_dir}/customer.parquet")[["c_custkey"]]
    res = 16
    nn = 1 << res
    exp = set()
    for key in cust["c_custkey"]:
        key = int(key)
        lo = ((key * 2654435761) % 4294967296) / 4294967296.0 * 360.0 - 180.0
        la = ((key * 1566083941 + 12345) % 4294967296) / 4294967296.0 * 170.0 - 85.0
        lon_r, lat_r = math.radians(lo), math.radians(la)
        x = math.cos(lat_r) * math.cos(lon_r)
        y = math.cos(lat_r) * math.sin(lon_r)
        z = math.sin(lat_r)
        ax, ay, az = abs(x), abs(y), abs(z)
        if ax >= ay and ax >= az:
            face = 0 if x >= 0 else 3
        elif ay >= az:
            face = 1 if y >= 0 else 4
        else:
            face = 2 if z >= 0 else 5
        major = [x, y, z, -x, -y, -z][face]
        u = [y, -x, -x, -z, -z, y][face] / major
        v = [z, z, y, y, x, x][face] / major

        def st(q):
            if q >= 0:
                return 0.5 * math.sqrt(max(1.0 + 3.0 * q, 0.0))
            return 1.0 - 0.5 * math.sqrt(max(1.0 - 3.0 * q, 0.0))

        si = min(max(int(st(u) * nn), 0), nn - 1)
        ti = min(max(int(st(v) * nn), 0), nn - 1)
        exp.add((key, _signed64((face << 60) | _morton_py(si, ti))))
    got = {(int(r.id), int(r.s2_16)) for r in pdf.itertuples()}
    assert got == exp, f"s2 mismatch: {sorted(got ^ exp)[:4]}"


def _indep_png_decode(data: bytes) -> list:
    """Second, scalar PNG decoder (VERDICT r3 #3) — chunk walk with CRC
    verification, zlib inflate, per-scanline unfilter incl. Sub/Up/Average/
    Paeth via plain byte loops. Deliberately different formulation from
    imaging.png_decode's numpy path (which skips CRCs and vectorizes rows).
    Returns nested [h][w][3] python ints."""
    import zlib as _z

    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    pos, w, h, idat = 8, None, None, b""
    while pos < len(data):
        ln = int.from_bytes(data[pos:pos + 4], "big")
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + ln]
        crc = int.from_bytes(data[pos + 8 + ln:pos + 12 + ln], "big")
        assert crc == (_z.crc32(tag + payload) & 0xFFFFFFFF), "PNG chunk CRC"
        if tag == b"IHDR":
            w = int.from_bytes(payload[0:4], "big")
            h = int.from_bytes(payload[4:8], "big")
            assert payload[8] == 8 and payload[9] == 2, "8-bit RGB only"
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    raw = _z.decompress(idat)
    stride = 1 + w * 3
    assert len(raw) == h * stride
    out = []
    prev = [0] * (w * 3)
    for r in range(h):
        f = raw[r * stride]
        line = list(raw[r * stride + 1:(r + 1) * stride])
        rec = [0] * (w * 3)
        for i in range(w * 3):
            a = rec[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            else:
                raise AssertionError(f"bad filter {f}")
            rec[i] = (line[i] + pred) & 0xFF
        out.append([rec[3 * j:3 * j + 3] for j in range(w)])
        prev = rec
    return out


def _indep_jpeg_decode(data: bytes) -> list:
    """Second, scalar baseline-JPEG decoder (VERDICT r4 #3) — a deliberately
    different formulation from functions/jpeg.py's numpy path: scalar marker
    walk, dict-based canonical Huffman ((length, code) -> symbol vs the
    engine's mincode/maxcode arrays), per-pixel IDCT via fsum over a
    precomputed cosine table (vs the engine's einsum matmuls), scalar color
    convert. Returns nested [h][w][3] python ints.

    Determinism contract: every SAMPLE rounding decision (floor(v + 0.5)
    after the IDCT) is asserted to carry a >= 1e-8 margin from its integer
    boundary — ~1e5x above the measured fsum-vs-einsum drift — so the two
    float formulations cannot round differently; generation FAILS LOUDLY on
    a violation instead of pinning an unstable golden. The COLOR stage needs
    no margin: its inputs are already-rounded integer-valued floats and the
    expression order matches the engine's exactly (y + 1.402*cr;
    (y - 0.344136*cb) - 0.714136*cr; y + 1.772*cb), so the arithmetic is
    bit-identical by IEEE determinism. Only the fixture's own shape is
    supported (8-bit baseline 4:4:4, no DRI) — asserted, not assumed."""
    import math

    assert data[:2] == b"\xff\xd8", "no SOI"
    pos = 2
    qtabs = {}
    huff = {}   # (tc, th) -> dict[(length, code)] = symbol
    frame = None
    scan_pos = None
    scan = None
    while pos < len(data):
        assert data[pos] == 0xFF, f"marker expected at {pos}"
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        ln = int.from_bytes(data[pos + 2:pos + 4], "big")
        payload = data[pos + 4:pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                assert pq == 0, "8-bit quant tables only in the fixture"
                zz = list(payload[p + 1:p + 65])
                p += 65
                qtabs[tq] = zz  # ZIGZAG order, as stored
        elif marker == 0xC4:
            p = 0
            while p < len(payload):
                tcth = payload[p]
                bits = list(payload[p + 1:p + 17])
                vals = list(payload[p + 17:p + 17 + sum(bits)])
                codes = {}
                code, k = 0, 0
                for length in range(1, 17):
                    for _ in range(bits[length - 1]):
                        codes[(length, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                huff[(tcth >> 4, tcth & 0xF)] = codes
                p += 17 + sum(bits)
        elif marker == 0xC0:
            prec = payload[0]
            fh = int.from_bytes(payload[1:3], "big")
            fw = int.from_bytes(payload[3:5], "big")
            nc = payload[5]
            assert prec == 8 and nc == 3
            comps = []
            for i in range(nc):
                cid, hv, tq = payload[6 + 3 * i:9 + 3 * i]
                assert hv == 0x11, "fixture is 4:4:4"
                comps.append((cid, tq))
            frame = (fh, fw, comps)
        elif marker == 0xDA:
            ns = payload[0]
            assert ns == 3
            scan = [(payload[1 + 2 * i], payload[2 + 2 * i]) for i in range(ns)]
            scan_pos = pos
            break
        else:
            assert marker in (0xE0, 0xFE) or 0xE0 <= marker <= 0xEF, (
                f"unexpected marker 0xFF{marker:02X} in fixture jpeg"
            )
    assert frame is not None and scan_pos is not None
    fh, fw, comps = frame

    # scalar bit reader over the entropy segment (unstuffs FF00)
    state = {"pos": scan_pos, "acc": 0, "n": 0}

    def bit():
        if state["n"] == 0:
            b = data[state["pos"]]
            if b == 0xFF:
                assert data[state["pos"] + 1] == 0x00, "marker inside scan"
                state["pos"] += 2
            else:
                state["pos"] += 1
            state["acc"] = b
            state["n"] = 8
        state["n"] -= 1
        return (state["acc"] >> state["n"]) & 1

    def read_bits(k):
        v = 0
        for _ in range(k):
            v = (v << 1) | bit()
        return v

    def huff_decode(codes):
        code, length = bit(), 1
        while (length, code) not in codes:
            code = (code << 1) | bit()
            length += 1
            assert length <= 16, "bad Huffman code"
        return codes[(length, code)]

    def extend(v, s):
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

    # zigzag pos -> (row, col), derived independently (T.81 diagonal walk:
    # odd diagonals descend rows, even diagonals descend columns)
    zz_rc = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else rc[1]),
    )
    cost = [[math.cos((2 * x + 1) * u * math.pi / 16.0) for x in range(8)]
            for u in range(8)]
    alpha = [math.sqrt(0.125)] + [0.5] * 7

    bx_n = (fw + 7) // 8
    by_n = (fh + 7) // 8
    pred = [0, 0, 0]
    planes = [[[0.0] * (bx_n * 8) for _ in range(by_n * 8)] for _ in range(3)]
    for my in range(by_n):
        for mx in range(bx_n):
            for ci, (cs, tdta) in enumerate(scan):
                td, ta = tdta >> 4, tdta & 0xF
                qt = qtabs[dict((cid, tq) for cid, tq in comps)[cs]]
                s = huff_decode(huff[(0, td)])
                diff = extend(read_bits(s), s) if s else 0
                pred[ci] += diff
                block = [[0.0] * 8 for _ in range(8)]
                r0, c0 = zz_rc[0]
                block[r0][c0] = float(pred[ci] * qt[0])
                k = 1
                while k < 64:
                    rs = huff_decode(huff[(1, ta)])
                    rr, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if rr == 15:
                            k += 16
                            continue
                        break
                    k += rr
                    assert k <= 63, "AC overflow"
                    r1, c1 = zz_rc[k]
                    block[r1][c1] = float(extend(read_bits(s), s) * qt[k])
                    k += 1
                # scalar IDCT + margin-asserted half-up rounding per sample
                for y_ in range(8):
                    for x_ in range(8):
                        v = math.fsum(
                            alpha[u] * alpha[v_] * block[u][v_]
                            * cost[u][x_] * cost[v_][y_]
                            for u in range(8) for v_ in range(8)
                        ) + 128.0
                        t = v + 0.5
                        fr = t - math.floor(t)
                        assert min(fr, 1.0 - fr) >= 1e-8, (
                            f"regenerate fixture: jpeg sample rounding margin "
                            f"{min(fr, 1.0 - fr)} at block ({my},{mx}) comp {ci}"
                        )
                        planes[ci][my * 8 + x_][mx * 8 + y_] = float(
                            min(max(math.floor(t), 0), 255)
                        )
    out = []
    for r in range(fh):
        row = []
        for c in range(fw):
            y_ = planes[0][r][c]
            cb = planes[1][r][c] - 128.0
            cr = planes[2][r][c] - 128.0
            # EXACT engine expression order (bit-identical, see docstring)
            rv = y_ + 1.402 * cr
            gv = (y_ - 0.344136 * cb) - 0.714136 * cr
            bv = y_ + 1.772 * cb
            # no margin needed here: inputs are integer-valued floats and
            # the expression order matches the engine exactly (docstring)
            row.append([min(max(math.floor(v + 0.5), 0), 255)
                        for v in (rv, gv, bv)])
        out.append(row)
    return out


def _indep_phash(px: list) -> int:
    """Scalar phash recompute: per-pixel gray, explicit block-mean pool,
    DCT-II by direct cosine double sums (fsum), sorted-list median — vs the
    engine's cumsum pooling + cosine-matrix matmuls. Every bit decision is
    margin-asserted so the two float formulations cannot disagree."""
    import math

    h, w = len(px), len(px[0])
    gray = [[0.299 * p[0] + 0.587 * p[1] + 0.114 * p[2] for p in row] for row in px]
    n = 32
    ye = [(r * h) // n for r in range(n + 1)]
    xe = [(c * w) // n for c in range(n + 1)]
    small = [[0.0] * n for _ in range(n)]
    for r in range(n):
        y0 = min(ye[r], h - 1)
        y1 = min(max(ye[r + 1], y0 + 1), h)
        for c in range(n):
            x0 = min(xe[c], w - 1)
            x1 = min(max(xe[c + 1], x0 + 1), w)
            vals = [gray[yy][xx] for yy in range(y0, y1) for xx in range(x0, x1)]
            small[r][c] = math.fsum(vals) / len(vals)
    block = []
    for u in range(8):
        for v in range(8):
            coef = math.fsum(
                math.cos(math.pi / n * (i + 0.5) * u)
                * small[i][j]
                * math.cos(math.pi / n * (j + 0.5) * v)
                for i in range(n) for j in range(n)
            )
            block.append(coef)
    block[0] = 0.0
    srt = sorted(block[1:])
    med = srt[31]  # odd count (63): exact middle element
    bits = []
    for i, x in enumerate(block):
        if abs(x - med) > 1e-12:
            assert abs(x - med) >= 1e-4, f"regenerate: phash bit margin {x - med}"
        bits.append(1 if x > med else 0)
    val = 0
    for b in bits:
        val = (val << 1) | b
    return _signed64(val)


def _check_image_decode_stats(pdf: pd.DataFrame, sf_dir: str) -> None:
    """Independent recompute of the raster leg: scalar second PNG decoder
    (CRC-checked) / scalar second baseline-JPEG decoder (margin-asserted
    rounding) for pixels, scalar phash, and asinh-mercator tiles
    (cross-guarded against the engine's ln(tan+sec) formulation at every
    point)."""
    import math

    from pgsql2osm_spark.sources import fixtures as FX2

    imgs = FX2.gen_images_pandas(256)
    z = 12
    nz = 1 << z
    exp = set()
    for r in imgs.itertuples():
        data = bytes(r.bytes)
        if r.fmt == "png":
            px = _indep_png_decode(data)
        else:
            assert data[:2] == b"\xff\xd8", "fixture jpeg rows must be JFIF"
            px = _indep_jpeg_decode(data)
        la = min(max(float(r.lat), -85.05112878), 85.05112878)
        xt = min(max(int(math.floor((float(r.lon) + 180.0) / 360.0 * nz)), 0), nz - 1)
        merc = math.asinh(math.tan(math.radians(la)))
        yt = min(max(int(math.floor((1.0 - merc / math.pi) / 2.0 * nz)), 0), nz - 1)
        merc2 = math.log(math.tan(math.radians(la)) + 1.0 / math.cos(math.radians(la)))
        yt2 = min(max(int(math.floor((1.0 - merc2 / math.pi) / 2.0 * nz)), 0), nz - 1)
        assert yt == yt2, f"mercator formulation flip at {r.image_id}"
        exp.add((r.image_id, z, xt, yt,
                 len(px) * len(px[0]), _indep_phash(px)))
    got = {(r.image_id, int(r.z), int(r.x), int(r.y), int(r.px_count), int(r.phash))
           for r in pdf.itertuples()}
    assert got == exp, f"image_decode_stats mismatch: {sorted(got ^ exp)[:3]}"


def _check_ann_ivf(pdf: pd.DataFrame, sf_dir: str) -> None:
    """Scalar-python IVF recompute (VERDICT r3 #2): codebook training, list
    assignment, probe selection and exact re-rank re-derived with scalar
    fsum / float32-product arithmetic, independent of the engine's
    numpy-matmul + JVM-Column path. Every argmax / probe-cutoff decision is
    asserted to carry a >=1e-9 float margin (engine-vs-recompute drift is
    <=~1e-13), so the recompute is float-order stable — generation FAILS
    LOUDLY on a margin violation instead of pinning an unstable golden.
    The final cosine re-rank needs no margin: the recompute mirrors Spark
    SQL's float32-product / sequential-double-sum semantics bit-for-bit
    (zip_with(x*y) on FloatType, fold into a DOUBLE accumulator)."""
    import math

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")[["vec_id", "embedding"]]
    margin = 1e-9

    def unit(v):
        n = max(math.sqrt(math.fsum(x * x for x in v)), 1e-12)
        return [x / n for x in v]

    def dot(a, b):
        return math.fsum(x * y for x, y in zip(a, b))

    def argmax_margin(sims):
        order = sorted(range(len(sims)), key=lambda i: (-sims[i], i))
        gap = sims[order[0]] - sims[order[1]]
        assert gap >= margin, f"regenerate fixture: argmax margin {gap} < {margin}"
        return order[0]

    # train_codebook mirror: hash-ranked sample (all 500 rows here), unit
    # rows, 4 Lloyd iterations, 16 centroids, empty-cluster reseed
    rows = sorted(
        ((int(r.vec_id) * 2654435761) % (1 << 32), int(r.vec_id),
         [float(x) for x in r.embedding])
        for r in emb.itertuples()
    )[:2000]
    m = [unit(v) for _, _, v in rows]
    cents = [list(v) for v in m[:16]]
    next_seed = 16
    for _ in range(4):
        assign = [argmax_margin([dot(v, c) for c in cents]) for v in m]
        for c in range(16):
            members = [m[i] for i, a in enumerate(assign) if a == c]
            if not members:
                cents[c] = list(m[next_seed % len(m)])
                next_seed += 1
            else:
                s = [math.fsum(vv[d] for vv in members) for d in range(len(m[0]))]
                n = max(math.sqrt(math.fsum(x * x for x in s)), 1e-12)
                cents[c] = [x / n for x in s]
    raw = {int(r.vec_id): [float(x) for x in r.embedding] for r in emb.itertuples()}
    lists = {vid: argmax_margin([dot(unit(v), c) for c in cents])
             for vid, v in raw.items()}

    def dot32(a, b):
        # Spark zip_with(x*y) on FloatType yields float32 products folded
        # left-to-right into a double accumulator — mirror exactly
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(np.float32(x) * np.float32(y))
        return acc

    exp = set()
    for qid in range(5):
        sims = [dot(unit(raw[qid]), c) for c in cents]
        order = sorted(range(16), key=lambda i: (-sims[i], i))
        gap = sims[order[5]] - sims[order[6]]
        assert gap >= margin, f"regenerate fixture: probe cutoff margin {gap}"
        probes = set(order[:6])
        qv = raw[qid]
        qn = math.sqrt(dot32(qv, qv))
        cand = [
            (dot32(v, qv) / (math.sqrt(dot32(v, v)) * qn), vid)
            for vid, v in raw.items() if lists[vid] in probes
        ]
        cand.sort(key=lambda t: (-t[0], t[1]))
        exp.update((qid, vid, rk) for rk, (_, vid) in enumerate(cand[:5], 1))
    got = {(int(r.query_id), int(r.neighbor_id), int(r.rank)) for r in pdf.itertuples()}
    assert got == exp, f"ann_ivf mismatch: {sorted(got ^ exp)[:6]}"


# queries pinned as driver oracles: name -> optional independent validator
ORACLE_QUERIES: dict = {
    "pip_fixture_regions": lambda pdf, sf: _check_pip_counts(pdf, 20000, 12),
    "pip_partitioned_fixture": lambda pdf, sf: _check_pip_counts(pdf, 20000, 12),
    "knn_rings_fixture": lambda pdf, sf: _check_knn_rings(pdf),
    "phash_near_dups": lambda pdf, sf: _check_phash_pairs(pdf),
    "embedding_near_dups": _check_embedding_near_dups,
    "simhash_near_dups": _check_simhash_near_dups,
    "minhash_pairs": _check_minhash_pairs,
    "s2_encode": _check_s2,
    "streaming_tiles": _check_streaming_tiles,
    "export_pipeline": _check_export_pipeline,
    "audio_features": _check_audio_features,
    "video_frames": lambda pdf, sf: _check_video_frames(pdf, sf),
    "ann_ivf": _check_ann_ivf,
    "image_decode_stats": _check_image_decode_stats,
}

ORACLE_SF = "/root/testdata/sf0.01"


def make_oracle_goldens(sf_dir: str = ORACLE_SF, only: list | None = None) -> None:
    from pgsql2osm_spark.session import get_spark
    from pgsql2osm_spark.sources import regions as RG

    sys.path.insert(0, os.path.dirname(GOLDEN_DIR))
    import __spark_entry__ as E

    os.makedirs(f"{GOLDEN_DIR}/oracle", exist_ok=True)
    os.makedirs(f"{GOLDEN_DIR}/fixtures", exist_ok=True)

    # fixtures backing the REAL-SQL oracles (closure_fixture/closure_bucketed;
    # regions_dim also feeds the CLI's regions tests)
    edges = [
        (r["parent_id"], r["parent_kind"], m["ref"], m["role"], m["type"])
        for r in FX.gen_memberships()
        for m in r["members"]
    ]
    pd.DataFrame(
        edges, columns=["parent_id", "parent_kind", "ref", "role", "type"]
    ).astype({"parent_id": "int64", "ref": "int64"}).to_parquet(
        f"{GOLDEN_DIR}/fixtures/member_edges.parquet", index=False
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    spark = get_spark(
        app="make_golden", master=f"local[{cpus}]", shuffle_partitions=cpus * 2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    RG.fixture_regions_dim(spark, 64).toPandas().to_parquet(
        f"{GOLDEN_DIR}/fixtures/regions_dim.parquet", index=False
    )
    qs = E.queries()
    for name, validator in ORACLE_QUERIES.items():
        if only and name not in only:
            continue
        pdf = qs[name](spark, sf_dir).toPandas()
        if validator is not None:
            validator(pdf, sf_dir)
            tag = "verified-independent"
        else:
            tag = "regression-pin"
        pdf.to_parquet(f"{GOLDEN_DIR}/oracle/{name}.parquet", index=False)
        print(f"oracle golden {name}: {len(pdf)} rows ({tag})")
    spark.stop()


if __name__ == "__main__":
    only = [a for a in sys.argv[1:] if not a.startswith("-")] or None
    if only is not None and "--oracle" not in sys.argv:
        # positional query names only make sense for the oracle-golden
        # subset path; without the flag this used to be a silent no-op
        # (ADVICE r4) — imply --oracle instead.
        print("make_golden: query names given — implying --oracle subset regen")
        sys.argv.append("--oracle")
    if only is None:
        main()
    if "--oracle" in sys.argv:
        make_oracle_goldens(only=only)
