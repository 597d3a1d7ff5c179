"""CLI entry point — the spark-submit face of the engine.

Mirrors the reference's CLI surface (/root/reference/pgsql2osm/cli.py:7-44:
mutually-exclusive bounds group --iso | --geojson | --bbox, an output target,
verbosity) re-expressed for the Spark engine:

    python -m pgsql2osm_spark.cli --input points.parquet \
        --bbox=-10,40,10,55 --out tiles_out --zoom 12

or, with the package shipped to executors (tools/submit_job.py runs main):

    ZIP=$(python -c 'from pgsql2osm_spark.session import make_pyfiles_zip; print(make_pyfiles_zip())')
    spark-submit --py-files $ZIP tools/submit_job.py --input points.parquet \
        --bbox=-10,40,10,55 --out tiles_out --zoom 12

Boundary selection composes exactly like the reference's make_bounds_constr
(settings.py:90-146): a cheap bbox Column predicate AND'd ahead of the exact
PIP join (SURVEY.md P1/X2).
"""

from __future__ import annotations

import argparse
import json
import logging
import math
import sys

# Diagnostics go to this logger (stderr when the application configures no
# handler); stdout carries only JSON lines.
_LOG = logging.getLogger(__name__)


def _bbox(value: str) -> tuple[float, ...]:
    """argparse type of --bbox: four finite numbers with min < max."""
    try:
        box = tuple(float(v) for v in value.split(","))
    except ValueError:
        box = ()
    if not (len(box) == 4 and all(map(math.isfinite, box))
            and box[0] < box[2] and box[1] < box[3]):
        raise argparse.ArgumentTypeError(
            f"{value!r} is not lon_min,lat_min,lon_max,lat_max: four finite "
            "numbers with lon_min < lon_max and lat_min < lat_max"
        )
    return box


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser("pgsql2osm_spark", description=__doc__)
    p.add_argument("--input", required=True, help="parquet/iceberg path with lon/lat columns")
    # reference surface (cli.py:18-33): exactly one of --osm-rel-id/--iso/
    # --geojson picks the polygon boundary; --bbox is SEPARATE and conjunctive
    # (intersection, settings.py:132-140) — or stands alone as the boundary
    g = p.add_mutually_exclusive_group(required=False)
    g.add_argument("--iso", help="iso code lookup against the regions dimension (S8)")
    g.add_argument("--geojson", help="path to a geojson polygon file (S9)")
    g.add_argument(
        "--osm-rel-id", type=int, default=None,
        help="relation id whose polygon makes the boundary (reference settings.py:120-126)",
    )
    p.add_argument(
        "--bbox", type=_bbox,
        help="lon_min,lat_min,lon_max,lat_max — AND'd with the polygon boundary "
        "when one is given, else the boundary itself",
    )
    p.add_argument(
        "--regions-csv", default=None,
        help="regions.csv-shaped dimension file for --iso (default: fixture dim)",
    )
    p.add_argument(
        "--boundaries", default=None,
        help="parquet of (region_id long, wkb binary) boundary geometries — the "
        "deployment contract replacing the fixture polygons: --osm-rel-id/--iso "
        "resolve REAL geometry from this table (region_id = the osm relation id, "
        "wkb = geometry.pack_rings bytes; spatial_join.REGIONS_DF_SCHEMA), "
        "joined by the same spatial_join.pip_join as the fixture polygons",
    )
    p.add_argument("--out", required=True, help="output parquet dir")
    p.add_argument("--zoom", type=int, default=12)
    p.add_argument("--job-id", default="cli")
    p.add_argument("--cores", default=None)
    # curation-funnel subcommand (VERDICT r4 #7): --input is a documents
    # parquet (doc_id, text[, lang]); --out receives the surviving chunk
    # coordinates (manifest-tracked) + per-stage survivor counts
    p.add_argument(
        "--curate", action="store_true",
        help="run the curation funnel instead of the spatial pipeline: "
        "lang-ID -> quality -> exact-dedup -> decontaminate -> repetition "
        "-> PII -> mixture -> chunking (operators/curation.funnel_flags, "
        "the same single-lineage composition as the pipeline_funnel query)",
    )
    p.add_argument(
        "--benchmark", default=None,
        help="[--curate] parquet of benchmark documents (doc_id, text) to "
        "decontaminate against; omitted -> stage 5 passes everything",
    )
    p.add_argument(
        "--mix-weights", default=None,
        help='[--curate] JSON {"lang": weight, ...} for the domain-mixture '
        "downsample; omitted -> stage 8 keeps all stage-7 survivors",
    )
    p.add_argument("--total-target", type=int, default=60,
                   help="[--curate] mixture total target (with --mix-weights)")
    p.add_argument("--chunk-size", type=int, default=48)
    p.add_argument("--chunk-overlap", type=int, default=8)
    return p


def run_curate(args, spark) -> int:
    """--curate: documents parquet -> per-stage survivor counts (stdout
    JSON lines + {out}/stage_counts parquet) + surviving chunk coordinates
    ({out}/chunks via the manifest-tracked partitioned writer, resumable
    like the tile sink)."""
    import json as _json

    from pyspark.sql import functions as F

    from .operators import curation as CU
    from .plans import manifest as M

    docs = spark.read.parquet(args.input)
    need = {"doc_id", "text"}
    if not need <= set(docs.columns):
        _LOG.error("--curate input needs columns %s", sorted(need))
        return 2
    weights = _json.loads(args.mix_weights) if args.mix_weights else None
    if weights is not None and "lang" not in docs.columns:
        _LOG.error("--mix-weights needs a lang column in the input")
        return 2
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    flags = CU.funnel_flags(
        docs.select(*(["doc_id", "text"] + (["lang"] if "lang" in docs.columns else []))),
        benchmark=bench, mix_weights=weights, total_target=args.total_target,
    )
    chunks = CU.funnel_chunks(
        flags, size=args.chunk_size, overlap=args.chunk_overlap
    ).withColumn("bucket", F.abs(F.xxhash64("doc_id")) % 64)
    M.write_stage_with_manifest(
        spark, chunks, args.out, job_id=args.job_id, stage="chunks",
        bucket_col="bucket",
    )
    counts = CU.funnel_counts(
        flags, size=args.chunk_size, overlap=args.chunk_overlap
    )
    counts.write.mode("overwrite").parquet(f"{args.out}/stage_counts")
    for row in counts.collect():
        print(_json.dumps({"stage": row["stage"], "n": row["n"]}))
    for row in M.job_progress(spark, args.out, args.job_id).collect():
        print(_json.dumps(row.asDict()))
    return 0


def _geojson_rings(path: str) -> list:
    import numpy as np

    with open(path) as f:
        gj = json.load(f)
    geom = gj.get("geometry", gj)
    coords = geom["coordinates"]
    if geom["type"] == "Polygon":
        coords = [coords]
    rings = []
    for poly in coords:
        for ring in poly:
            rings.append(np.asarray(ring, dtype=np.float64))
    return rings


def main(argv=None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    from .session import get_spark

    if not args.curate and not (args.bbox or args.iso or args.geojson or args.osm_rel_id):
        # the reference's "no boundary provided" guard (settings.py:143-146)
        _LOG.error(
            "error: no boundary provided; for the whole planet use "
            "--bbox='-180,-89.99,180,89.99'"
        )
        return 2
    owns_session = spark is None
    if owns_session:
        spark = get_spark(
            app="pgsql2osm_spark_cli", master=f"local[{args.cores}]" if args.cores else None
        )
    try:
        return run_curate(args, spark) if args.curate else run_tiles(args, spark)
    finally:
        if owns_session:
            spark.stop()


def run_tiles(args, spark) -> int:
    """The spatial pipeline: points -> boundary PIP join -> z tiles, written
    through the manifest-tracked partitioned writer."""
    import numpy as np
    from pyspark.sql import functions as F

    from .functions import geometry as G
    from .operators import spatial_join as SJ
    from .plans import manifest as M
    from .sources import regions as RG

    pts = spark.read.parquet(args.input)

    # the boundary: a driver-side region list (fixture/geojson/bbox paths)
    # or a distributed (region_id, wkb) table (--boundaries)
    regions = None
    if args.geojson:
        regions = [{"region_id": 1, "rings": _geojson_rings(args.geojson)}]
    elif args.osm_rel_id is not None:
        # the reference resolves the boundary polygon from the data itself by
        # relation id (polygon table row osm_id=-rel_id, settings.py:120-126)
        if args.boundaries:
            regions = spark.read.parquet(args.boundaries).where(
                F.col("region_id") == args.osm_rel_id
            )
            if regions.limit(1).count() == 0:
                _LOG.error("osm rel id %s not in %s", args.osm_rel_id, args.boundaries)
                return 2
        else:
            # fixture analogue: rel id 100000+r maps to fixture polygon r
            from .sources import fixtures as FX

            rid = args.osm_rel_id - 100000
            matches = [r for r in FX.gen_admin_polygons(64) if r["region_id"] == rid]
            if not matches:
                _LOG.error("osm rel id %s has no boundary polygon", args.osm_rel_id)
                return 2
            regions = matches
    elif args.iso:
        dim = (
            RG.load_regions_dim(spark, args.regions_csv)
            if args.regions_csv
            else RG.fixture_regions_dim(spark)
        )
        # first_match: the reference returns the FIRST exact match in
        # regions.csv file order (dbutils.py:11-27), not all candidates —
        # library callers keep the all-candidates default of regions_lookup
        hits = RG.regions_lookup(dim, args.iso, first_match=True).collect()
        if not hits:
            _LOG.error("iso %r not found", args.iso)
            return 2
        if args.boundaries:
            # boundary-table contract: region_id = osm relation id
            wanted_ids = [abs(h["osm_id"]) for h in hits]
            regions = spark.read.parquet(args.boundaries).where(
                F.col("region_id").isin(wanted_ids)
            )
            if regions.limit(1).count() == 0:
                _LOG.error(
                    "iso %r resolved to relation ids %s not present in %s",
                    args.iso, wanted_ids, args.boundaries,
                )
                return 2
        else:
            # fixture dimension carries no geometry; boundary ids resolve to
            # the fixture polygons by |osm_id| ordering
            from .sources import fixtures as FX

            all_regions = FX.gen_admin_polygons(64)
            wanted = {abs(h["osm_id"]) - 100000 for h in hits}
            regions = [r for r in all_regions if r["region_id"] in wanted]
            if not regions:
                # real dimensions (--regions-csv) carry osm ids with no
                # fixture polygon — err out like the reference's
                # missing-boundary path instead of silently substituting
                _LOG.error(
                    "iso %r resolved to osm ids with no boundary polygon in "
                    "this deployment: %s (pass --boundaries for real geometry)",
                    args.iso, sorted(h["osm_id"] for h in hits),
                )
                return 2

    if args.bbox:
        x0, y0, x1, y1 = args.bbox
        if regions is None:
            # bbox alone IS the boundary (rectangle polygon)
            rings = [np.asarray([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])]
            regions = [{"region_id": 1, "rings": rings}]
        else:
            # conjunction: cheap bbox Column predicate AND'd ahead of the
            # exact PIP join — the reference's intersection-as-AND staging
            # (settings.py:132-140: "cost 1000x lower")
            pts = pts.where(
                (F.col("lon") >= x0) & (F.col("lon") <= x1)
                & (F.col("lat") >= y0) & (F.col("lat") <= y1)
            )

    if isinstance(regions, list):
        # a region list's bboxes are on the driver: AND their union ahead of
        # the exact join (a boundary table's rows stay distributed, and
        # pip_join builds its cover with mapInPandas)
        pts = SJ.pip_join_bbox_prefilter(pts, regions)
    joined = SJ.pip_join(spark, pts, regions)
    x, y = G.tile_expr(F.col("lon"), F.col("lat"), args.zoom)
    tiles = joined.withColumn("tx", x).withColumn("ty", y).withColumn(
        "bucket", (F.col("tx") * (1 << args.zoom) + F.col("ty")) % 256
    )
    M.write_stage_with_manifest(
        spark, tiles, args.out, job_id=args.job_id, stage="tiles", bucket_col="bucket"
    )
    prog = M.job_progress(spark, args.out, args.job_id).collect()
    for row in prog:
        print(json.dumps(row.asDict()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
